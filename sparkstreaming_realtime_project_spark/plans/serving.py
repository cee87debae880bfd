"""Serving-layer queries: the publisher REST surface as DataFrame plans.

Reference: publisher/src/main/java/com/example/publisherrealtime/ —
controller (PublisherController.java:26-58) -> service -> hand-built ES DSL
(PublisherMapperImpl.java). Each endpoint becomes one declarative Spark
plan; Catalyst supplies partition pruning on ``dt`` (the daily-index
equivalent), pushdown, and codegen.

All plans are partition-pruning friendly: every query filters on the
sink table's ``dt`` partition column first, so at 100 TB a day's query
touches one partition, exactly like the reference's daily ES index
(PublisherMapperImpl.java:52,75,138,183).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import highlight, text_match


def _matched(wide: DataFrame, date: str, item_name: str) -> DataFrame:
    """One day's partition of the order-wide table (its create_date
    exposed as ``dt``), AND-matched on sku_name."""
    return wide.filter((F.col("dt") == date) & text_match(F.col("sku_name"), item_name))


def _highlighted(page: DataFrame, item_name: str) -> DataFrame:
    return page.withColumn("sku_name", highlight(F.col("sku_name"), item_name))


def dau_realtime(dau: DataFrame, td: str) -> dict[str, DataFrame]:
    """A1+A2+A3 (PublisherMapperImpl.java:51-125): total deduped actives for
    date *td*, hourly histogram for td, and the same histogram for td-1.

    ``dau`` is the deduped dau_info table keyed (dt, mid): A1 is a plain
    count; A2/A3 one groupBy over at most 48 (dt, hr) groups — map-side
    partials make the shuffle negligible at any scale.
    """
    yd = F.date_format(F.date_sub(F.to_date(F.lit(td)), 1), "yyyy-MM-dd")
    both = (
        dau.filter(F.col("dt").isin([td]) | (F.col("dt") == yd))
        .groupBy("dt", "hr")
        .agg(F.count("mid").alias("ct"))
    )
    total = dau.filter(F.col("dt") == td).agg(F.count("mid").alias("dau_total"))
    return {
        "dauTotal": total,
        "dauTd": both.filter(F.col("dt") == td).select("hr", "ct"),
        "dauYd": both.filter(F.col("dt") == yd).select("hr", "ct"),
    }


def stats_by_item(wide: DataFrame, item_name: str, date: str, t: str) -> DataFrame:
    """A4-A6 (PublisherMapperImpl.java:136-176 + PublisherServiceImpl.
    java:49-86): AND-match on sku_name, group by gender or age band, sum
    amount. The reference re-buckets ages client-side (A5) and renames
    genders (A6); here both recodes are single ``when`` chains *inside*
    the aggregation — one pass, no post-processing."""
    matched = _matched(wide, date, item_name)
    if t == "gender":
        grp = (
            F.when(F.col("user_gender") == "F", "女")
            .when(F.col("user_gender") == "M", "男")
            .otherwise(F.col("user_gender"))
        )
    elif t == "age":
        grp = (
            F.when(F.col("user_age") < 20, "20岁以下")
            .when(F.col("user_age") <= 29, "20岁到29岁")
            .otherwise("30岁及30岁以上")
        )
    else:
        raise ValueError(f"t must be 'gender' or 'age', got {t!r}")
    return (
        matched.groupBy(grp.alias("name"))
        .agg(F.round(F.sum("split_total_amount"), 2).alias("value"))
        .orderBy("name")
    )


def detail_by_item(
    wide: DataFrame,
    date: str,
    item_name: str,
    page_no: int = 1,
    page_size: int = 20,
) -> tuple[DataFrame, DataFrame]:
    """Paginated detail scan + highlight (PublisherServiceImpl.java:41-47,
    PublisherMapperImpl.java:181-233). Returns (total_df, page_df).

    ES orders by relevance score; the rebuild defines a deterministic order
    (SURVEY §2.8): create_time desc then detail_id. Pagination is
    offset/limit on that order. The reference's mapper builds results then
    `return null` (dead store, SURVEY §2.9) — rebuild returns {total, detail}.

    Scale note: deep pagination degrades on any engine; the plan still
    prunes to one dt partition and pushes the match filter to the scan, so
    offset N only sorts the single day's matches (ES has the same
    window limit).
    """
    matched = _matched(wide, date, item_name)
    total = matched.agg(F.count(F.lit(1)).alias("total"))
    page = (
        matched.orderBy(F.col("create_time").desc(), F.col("detail_id"))
        .offset((page_no - 1) * page_size)
        .limit(page_size)
    )
    return total, _highlighted(page, item_name)


def detail_by_item_keyset(
    wide: DataFrame,
    date: str,
    item_name: str,
    after: tuple | None = None,
    page_size: int = 20,
) -> DataFrame:
    """Keyset (ES `search_after`) pagination over the same deterministic
    (create_time DESC, detail_id ASC) order as `detail_by_item`:
    ``after`` is the cursor — the (create_time, detail_id) of the LAST
    row of the previous page — and the next page is a pushdown-able
    range FILTER instead of an offset re-sort. Page k of the offset path
    re-sorts the k*page_size rows before it; the keyset predicate
    `ct < after_ct OR (ct = after_ct AND id > after_id)` reaches the
    scan, so every page costs one filtered top-``page_size`` — the shape
    ES itself requires for deep pages (search_after replaced
    from/size past the 10k window). ``after=None`` returns page 1.

    Equivalence to the offset path is a theorem on a duplicate-free
    (create_time, detail_id) order and is proven query-for-query by the
    `q_detail_keyset` catalog entry (oracle = the OFFSET form).
    """
    ct, did = F.col("create_time"), F.col("detail_id")
    matched = _matched(wide, date, item_name)
    if after is not None:
        after_ct, after_id = after
        matched = matched.filter(
            (ct < F.lit(after_ct)) | ((ct == F.lit(after_ct)) & (did > F.lit(after_id)))
        )
    return _highlighted(matched.orderBy(ct.desc(), did).limit(page_size), item_name)
