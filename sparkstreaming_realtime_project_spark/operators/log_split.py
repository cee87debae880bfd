"""Log-split: one raw behavior-log stream -> 5 typed outputs.

Reference: OdsBaseLogApp.scala:93-208 — per-record fastjson walks routing to
5 Kafka topics (error/page/display/action/start). Re-expressed as ONE
``from_json`` shred plus five filtered/exploded projections over the same
parsed DataFrame (SURVEY §2.3 P1,P3-P8).

Scale: the whole stage is narrow (no shuffle) — parse + filter + explode +
project, exactly as the reference's map-only DAG (SURVEY §4 末), so it
pipelines at scan speed regardless of cluster size. The parsed frame is
computed once and reused by all five outputs inside one foreachBatch
(streaming) or one cached DataFrame (batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import LOG_ENVELOPE_SCHEMA

_COMMON_COLS = ["ar", "uid", "os", "ch", "is_new", "md", "mid", "vc", "ba"]


def parse_log(
    raw: DataFrame, value_col: str = "value", keep_raw: bool = False
) -> DataFrame:
    """P1: schema-on-read JSON shred (OdsBaseLogApp.scala:69-78).

    Corrupt records land with all-null sections instead of the reference's
    executor-killing exception. ``keep_raw`` carries the original line
    along as ``_raw`` so a dead-letter output (:func:`corrupt_log`) can
    preserve it byte-for-byte — the diagnosable-DLQ upgrade over both
    the reference (executor NPE) and silent dropping."""
    if keep_raw:
        return raw.select(
            F.col(value_col).alias("_raw"),
            F.from_json(F.col(value_col), LOG_ENVELOPE_SCHEMA).alias("log"),
        ).select("_raw", "log.*")
    return raw.select(
        F.from_json(F.col(value_col), LOG_ENVELOPE_SCHEMA).alias("log")
    ).select("log.*")


def corrupt_log(parsed: DataFrame) -> DataFrame:
    """Dead-letter output: every record NO routed output will carry —
    the line failed to parse at all, or parsed without a device id
    (common.mid), which every downstream branch keys on. Emits the raw
    line verbatim plus a diagnosis, so ingest loss is observable and
    replayable instead of silent (the reference would NPE in the
    executor on these, OdsBaseLogApp.scala:69-78). Requires
    ``parse_log(..., keep_raw=True)``."""
    all_null = (
        F.col("common").isNull()
        & F.col("page").isNull()
        & F.col("start").isNull()
        & F.col("err").isNull()
        & F.col("ts").isNull()
    )
    reason = F.when(all_null, F.lit("malformed_json")).otherwise(
        F.lit("missing_device_id")
    )
    return parsed.filter(F.col("common.mid").isNull()).select(
        F.col("_raw").alias("raw_value"), reason.alias("reason")
    )


def _common(df: DataFrame) -> list:
    # P4: OdsBaseLogApp.scala:117-128
    return [F.col(f"common.{c}").alias(c) for c in _COMMON_COLS] + [F.col("ts")]


def error_log(parsed: DataFrame) -> DataFrame:
    """P3: err section present -> whole record to the error output, raw
    (OdsBaseLogApp.scala:111-115). Routing is EXCLUSIVE: the reference's
    ``if (errObj != null) ... else ...`` sends err-bearing records only
    here — the page/display/action/start branches never see them."""
    return parsed.filter(F.col("err").isNotNull()).select(
        *_common(parsed), F.col("err")
    )


def _routable(parsed: DataFrame) -> DataFrame:
    """The else-branch of the err split (OdsBaseLogApp.scala:115): records
    without an err section are the only ones page/display/action/start
    routing may emit."""
    return parsed.filter(F.col("err").isNull())


def page_log(parsed: DataFrame) -> DataFrame:
    """P5: page branch -> flat 16-col PageLog (OdsBaseLogApp.scala:130-144,
    bean/PageLog.scala:6-23). err-bearing records excluded (P3 wins)."""
    return _routable(parsed).filter(F.col("page").isNotNull()).select(
        F.col("common.mid").alias("mid"),
        F.col("common.uid").alias("user_id"),
        F.col("common.ar").alias("province_id"),
        F.col("common.ch").alias("channel"),  # reference typo 'channer' fixed (SURVEY §2.9)
        F.col("common.is_new").alias("is_new"),
        F.col("common.md").alias("model"),
        F.col("common.os").alias("operate_system"),
        F.col("common.vc").alias("version_code"),
        F.col("common.ba").alias("brand"),
        F.col("page.page_id").alias("page_id"),
        F.col("page.last_page_id").alias("last_page_id"),
        F.col("page.item").alias("page_item"),
        F.col("page.item_type").alias("page_item_type"),
        F.col("page.during_time").alias("during_time"),
        F.col("page.source_type").alias("source_type"),
        F.col("ts"),
    )


def page_display_log(parsed: DataFrame) -> DataFrame:
    """P6: explode displays[] -> one row per display, denormalized with all
    page+common fields (OdsBaseLogApp.scala:147-164, bean/PageDisplayLog).
    err-bearing records excluded (P3 wins)."""
    base = _routable(parsed).filter(
        F.col("page").isNotNull() & (F.size("displays") > 0)
    ).select("common", "page", "ts", F.explode("displays").alias("d"))
    return base.select(
        F.col("common.mid").alias("mid"),
        F.col("common.uid").alias("user_id"),
        F.col("common.ar").alias("province_id"),
        F.col("common.ch").alias("channel"),
        F.col("common.is_new").alias("is_new"),
        F.col("common.md").alias("model"),
        F.col("common.os").alias("operate_system"),
        F.col("common.vc").alias("version_code"),
        F.col("common.ba").alias("brand"),
        F.col("page.page_id").alias("page_id"),
        F.col("page.last_page_id").alias("last_page_id"),
        F.col("page.item").alias("page_item"),
        F.col("page.item_type").alias("page_item_type"),
        F.col("page.during_time").alias("during_time"),
        F.col("page.source_type").alias("source_type"),
        F.col("d.display_type").alias("display_type"),
        F.col("d.item").alias("display_item"),
        F.col("d.item_type").alias("display_item_type"),
        F.col("d.order").alias("display_order"),
        F.col("d.pos_id").alias("display_pos_id"),
        F.col("ts"),
    )


def page_action_log(parsed: DataFrame) -> DataFrame:
    """P7: explode actions[] (OdsBaseLogApp.scala:167-182); the per-action
    ts overrides the envelope ts (bean/PageActionLog.scala:6-27).
    err-bearing records excluded (P3 wins)."""
    base = _routable(parsed).filter(
        F.col("page").isNotNull() & (F.size("actions") > 0)
    ).select("common", "page", F.explode("actions").alias("a"))
    return base.select(
        F.col("common.mid").alias("mid"),
        F.col("common.uid").alias("user_id"),
        F.col("common.ar").alias("province_id"),
        F.col("common.ch").alias("channel"),
        F.col("common.is_new").alias("is_new"),
        F.col("common.md").alias("model"),
        F.col("common.os").alias("operate_system"),
        F.col("common.vc").alias("version_code"),
        F.col("common.ba").alias("brand"),
        F.col("page.page_id").alias("page_id"),
        F.col("page.last_page_id").alias("last_page_id"),
        F.col("page.item").alias("page_item"),
        F.col("page.item_type").alias("page_item_type"),
        F.col("page.during_time").alias("during_time"),
        F.col("page.source_type").alias("source_type"),
        F.col("a.action_id").alias("action_id"),
        F.col("a.item").alias("action_item"),
        F.col("a.item_type").alias("action_item_type"),
        F.col("a.ts").alias("action_ts"),
        F.col("a.ts").alias("ts"),
    )


def start_log(parsed: DataFrame) -> DataFrame:
    """P8: start branch -> StartLog (OdsBaseLogApp.scala:186-201).
    err-bearing records excluded (P3 wins)."""
    return _routable(parsed).filter(F.col("start").isNotNull()).select(
        *_common(parsed),
        F.col("start.entry").alias("entry"),
        F.col("start.loading_time").alias("loading_time"),
        F.col("start.open_ad_id").alias("open_ad_id"),
        F.col("start.open_ad_ms").alias("open_ad_ms"),
        F.col("start.open_ad_skip_ms").alias("open_ad_skip_ms"),
    )


# The full 5-way split (OdsBaseLogApp.scala:93-208), name -> output function
# of the parsed frame. One input record fans out to 0..(1+|displays|+|actions|)
# rows across outputs.
SPLIT_OUTPUTS = {
    "error": error_log,
    "page": page_log,
    "display": page_display_log,
    "action": page_action_log,
    "start": start_log,
}


def split_all(parsed: DataFrame) -> dict[str, DataFrame]:
    """Every routed output of :data:`SPLIT_OUTPUTS` over one parsed frame."""
    return {name: fn(parsed) for name, fn in SPLIT_OUTPUTS.items()}
