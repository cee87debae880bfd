"""stream_trickle: the four reference apps drain one seeded gmall stream,
each in turn, closed loop: log_split, cdc_route, dau, order_wide.

Each input is one small file per micro-batch read with ``availableNow``
and ``maxFilesPerTrigger=1``. Batch 0 of every app is the warm pass;
batch 1 is timed. A tick is batch 1 summed over the four apps: the cost
of one trigger interval of traffic, to set against the reference's 5 s
trigger.
"""

from __future__ import annotations

import collections
import datetime as dt
import os
import random
import statistics
import time

from . import gen
from .common import CpuSampler, calib_probe, dir_bytes, quantile
from .trace import StatusStore, batch_spans, data_batches, drain, median_of

APPS = ("log_split", "cdc_route", "dau", "order_wide")
N_BATCHES = 2  # batch 0 warms each app, batch 1 is timed
LOG_OUTPUTS = ("error", "page", "display", "action", "start")


def generate(seed: int, root: str, n_batches: int = N_BATCHES) -> dict:
    """Write the four input streams under ``root``; return the expected
    outputs and the generated row count per app and batch."""
    rng = random.Random(seed)
    log_b, log_exp = gen.log_stream(rng, n_batches)
    cdc_b, cdc_exp = gen.cdc_stream(rng, n_batches)
    info_b, det_b, matched = gen.order_streams(rng, n_batches)
    users, provinces = gen.dim_rows(rng)
    for name, batches in (("log", log_b), ("cdc", cdc_b), ("info", info_b), ("detail", det_b)):
        gen.write_batch_files(os.path.join(root, name), batches)
    rows = {
        "log_split": [len(b) for b in log_b],
        "cdc_route": [len(b) for b in cdc_b],
        "dau": [len(b) for b in log_b],
        "order_wide": [len(i) + len(d) for i, d in zip(info_b, det_b)],
    }
    return {
        "root": root, "log": log_exp, "cdc": cdc_exp, "matched": matched,
        "users": users, "provinces": provinces, "rows": rows,
    }


def make_dims(spark, inp: dict):
    from sparkstreaming_realtime_project_spark.schemas import (
        DIM_BASE_PROVINCE_SCHEMA,
        DIM_USER_INFO_SCHEMA,
    )

    return (
        spark.createDataFrame(inp["users"], DIM_USER_INFO_SCHEMA),
        spark.createDataFrame(inp["provinces"], DIM_BASE_PROVINCE_SCHEMA),
    )


def build(app: str, spark, inp: dict, out: str, ck: str, dims):
    from pyspark.sql import functions as F

    from sparkstreaming_realtime_project_spark.schemas import (
        ORDER_DETAIL_SCHEMA,
        ORDER_INFO_SCHEMA,
    )
    from sparkstreaming_realtime_project_spark.sources.streams import (
        file_stream,
        text_stream,
    )
    from sparkstreaming_realtime_project_spark.streaming import pipelines as P

    src = lambda name: os.path.join(inp["root"], name)  # noqa: E731
    ck = os.path.join(ck, app)
    if app == "log_split":
        return P.log_split_pipeline(text_stream(spark, src("log"), 1), os.path.join(out, "log"), ck)
    if app == "cdc_route":
        return P.cdc_route_pipeline(
            text_stream(spark, src("cdc"), 1), gen.FACT_TABLES, gen.DIM_TABLES,
            os.path.join(out, "cdc"), ck,
        )
    as_of = F.to_date(F.lit(gen.DAY.isoformat()))
    if app == "dau":
        return P.dau_pipeline(
            text_stream(spark, src("log"), 1), *dims, os.path.join(out, "dau"), ck, as_of=as_of
        )
    return P.order_wide_pipeline(
        file_stream(spark, src("info"), ORDER_INFO_SCHEMA, max_files_per_trigger=1),
        file_stream(spark, src("detail"), ORDER_DETAIL_SCHEMA, max_files_per_trigger=1),
        os.path.join(out, "order_wide"), ck, dim_user=dims[0], dim_province=dims[1], as_of=as_of,
    )


def _rows(path: str, cols: list[str]) -> list[tuple]:
    """Read a sink directory with pyarrow (hive partitions such as
    ``batch=0`` become columns), independently of the program's readers."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def check_outputs(inp: dict, out: str) -> dict[str, list[str]]:
    """Compare every sink with the generator's expectations; returns the
    problems found per app (empty lists when all outputs are right)."""
    problems: dict[str, list[str]] = {a: [] for a in APPS}
    count = collections.Counter

    def compare(app: str, what: str, got: list, want: list) -> None:
        if count(got) != count(want):
            problems[app].append(f"{what}: {len(got)} rows differ from the {len(want)} expected")

    for name in LOG_OUTPUTS:
        want = [x for b in inp["log"] for x in b[name]]
        compare("log_split", name, _rows(os.path.join(out, "log", name), ["mid", "ts"]), want)
    want = [(x,) for b in inp["log"] for x in b["corrupt"]]
    compare("log_split", "corrupt", _rows(os.path.join(out, "log", "corrupt"), ["raw_value"]), want)

    cdc = os.path.join(out, "cdc")
    want = [(b, t, v) for b, e in enumerate(inp["cdc"]) for t, v in e["facts"]]
    compare("cdc_route", "facts", _rows(os.path.join(cdc, "facts"), ["batch", "topic", "value"]), want)
    want = [(b, *d) for b, e in enumerate(inp["cdc"]) for d in e["dims"]]
    got = _rows(os.path.join(cdc, "dims"), ["batch", "table", "id", "value", "op", "ts"])
    compare("cdc_route", "dim winners", got, want)
    got = _rows(os.path.join(cdc, "corrupt"), ["reason"])
    if len(got) != sum(e["corrupt"] for e in inp["cdc"]):
        problems["cdc_route"].append(f"corrupt: {len(got)} rows")

    want = sorted(set().union(*(b["dau"] for b in inp["log"])))
    got = [(m, str(d)) for m, d in _rows(os.path.join(out, "dau"), ["mid", "dt"])]
    compare("dau", "(mid, dt) keys", got, want)
    got = _rows(os.path.join(out, "order_wide"), ["detail_id"])
    compare("order_wide", "matched details", got, [(d,) for d in inp["matched"]])
    return problems


def _wrap_writer_factories(tracer, app: str):
    """Time every foreachBatch writer call by wrapping the sink factories
    ``streaming.pipelines`` imports; returns the undo function."""
    from sparkstreaming_realtime_project_spark.streaming import pipelines as P

    orig = {n: getattr(P, n) for n in ("idempotent_partitioned_writer", "split_writer")}

    def wrap(factory):
        def make(*a, **k):
            write = factory(*a, **k)

            def timed(df, batch_id):
                with tracer.span("sinks.write", app=app, batch=batch_id):
                    write(df, batch_id)

            return timed

        return make

    for n, f in orig.items():
        setattr(P, n, wrap(f))
    return lambda: [setattr(P, n, f) for n, f in orig.items()]


def _batch_cpu_s(cpu: CpuSampler, p: dict) -> float:
    """CPU the program spent during one micro-batch, from its trigger
    timestamp and ``triggerExecution`` duration."""
    start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return cpu.between(start, start + p["durationMs"]["triggerExecution"] / 1000)


def run_workload(run) -> dict:
    spark = run.start_session()
    gen_s = []
    for k in range(3):  # set up several times; the median goes into setup_s
        t0 = time.perf_counter()
        inp = generate(run.seed, run.path(f"in{k}"))
        gen_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    dims = make_dims(spark, inp)
    prep_s = time.perf_counter() - t0
    setup_s = run.session_s + statistics.median(gen_s) + prep_s

    run.notes["calib_before_s"] = calib_probe(spark)
    store = StatusStore(spark) if run.trace else None
    first_job = store.max_job_id() if store else -1
    out, ck = run.path("out"), run.path("ck")
    t_timed = time.perf_counter()
    prog, run_ids = {}, {}
    with CpuSampler() as cpu:
        for app in APPS:
            undo = _wrap_writer_factories(run.tracer, app) if run.trace else None
            try:
                with run.tracer.span(f"pipelines.{app}.query"):
                    prog[app], run_ids[app] = drain(build(app, spark, inp, out, ck, dims))
            finally:
                if undo:
                    undo()

    t_check = time.perf_counter()
    problems = check_outputs(inp, out)
    run.notes["phase_s"] = {"drain": t_check - t_timed, "check": time.perf_counter() - t_check}
    timed = {a: data_batches(prog[a])[1:] for a in APPS}
    n_ticks = min(len(t) for t in timed.values())
    ticks = [sum(timed[a][i]["durationMs"]["triggerExecution"] for a in APPS) for i in range(n_ticks)]
    tick_cpu_ms = [1000 * sum(_batch_cpu_s(cpu, timed[a][i]) for a in APPS) for i in range(n_ticks)]
    timed_s = sum(ticks) / 1000
    rows = sum(sum(inp["rows"][a][1:]) for a in APPS)
    good = 0
    for app in APPS:
        n = len(data_batches(prog[app]))
        if run.check(not problems[app], f"{app}: {problems[app]}", n):
            good += len(timed[app])
    run.notes["per_app_batch_ms"] = {
        a: [p["durationMs"]["triggerExecution"] for p in prog[a]] for a in APPS
    }
    run.notes["per_app_timed_cpu_ms"] = {
        a: [round(1000 * _batch_cpu_s(cpu, p)) for p in timed[a]] for a in APPS
    }
    e2e = {
        "setup_s": (setup_s, "s"),
        "cpu_ms_per_op": (float(statistics.median(tick_cpu_ms)), "ms"),
        "rows_per_s": (rows / timed_s, "rows/s"),
        "batch_p50_ms": (float(statistics.median(ticks)), "ms"),
        # a tick is the "request" of this workload: one trigger interval
        # of traffic landing in every sink
        "req_p50_ms": (quantile(ticks, 0.5), "ms"),
        "req_p90_ms": (quantile(ticks, 0.9), "ms"),
        "goodput_rps": (good / timed_s, "1/s"),
    }
    if not run.trace:
        return {"e2e": e2e}

    layer: dict[str, float] = {}
    jobs = store.jobs(after=first_job)
    for app in APPS:
        tb = timed[app]
        gen_rows = sum(inp["rows"][app])
        scanned = sum(p["numInputRows"] for p in prog[app])
        layer[f"sources.{app}.scan_ratio"] = scanned / gen_rows
        spans = batch_spans(run.tracer, "pipelines", app, prog[app])
        for s in run.tracer.spans:
            if s["name"] == "sinks.write" and s.get("app") == app and s["batch"] in spans:
                s["parent"] = spans[s["batch"]]
        layer[f"pipelines.{app}.batch_p50_ms"] = median_of(tb, "triggerExecution")
        layer[f"pipelines.{app}.planning_ms"] = median_of(tb, "queryPlanning")
        layer[f"pipelines.{app}.add_batch_ms"] = median_of(tb, "addBatch")
        layer[f"pipelines.{app}.wal_commit_ms"] = median_of(tb, "walCommit")
        timed_ids = {p["batchId"] for p in tb}
        layer[f"pipelines.{app}.jobs_per_batch"] = sum(
            1 for j in jobs if j["run_id"] == run_ids[app] and j["batch"] in timed_ids
        ) / max(len(tb), 1)
        if app in ("dau", "order_wide"):
            ops = [p["stateOperators"] for p in tb]
            sum_ops = lambda k: statistics.median(sum(o.get(k, 0) for o in b) for b in ops)  # noqa: E731
            layer[f"state.{app}.rows_total"] = sum_ops("numRowsTotal")
            layer[f"state.{app}.memory_bytes"] = sum_ops("memoryUsedBytes")
            layer[f"state.{app}.commit_ms"] = sum_ops("commitTimeMs")
            layer[f"state.{app}.instances"] = sum_ops("numStateStoreInstances")
            layer[f"state.{app}.dropped_by_watermark"] = sum_ops("numRowsDroppedByWatermark")
    layer["sources.latest_offset_ms"] = statistics.median(
        sum(timed[a][i]["durationMs"].get("latestOffset", 0) for a in APPS) for i in range(n_ticks)
    )
    layer["sources.get_batch_ms"] = statistics.median(
        sum(timed[a][i]["durationMs"].get("getBatch", 0) for a in APPS) for i in range(n_ticks)
    )
    writes = [s for s in run.tracer.spans if s["name"] == "sinks.write"]
    timed_writes = [
        s for s in writes
        if any(s["app"] == a and s["batch"] == p["batchId"] for a in APPS for p in timed[a])
    ]
    layer["sinks.write_ms"] = 1000 * sum(s["end"] - s["start"] for s in timed_writes) / max(n_ticks, 1)
    layer["sinks.bytes_written"] = dir_bytes(out)
    timed_jobs = [
        j for j in jobs
        if any(j["run_id"] == run_ids[a] and j["batch"] == p["batchId"] for a in APPS for p in timed[a])
    ]
    for k, v in store.stage_totals(timed_jobs).items():
        layer[f"exec.{k}"] = v / max(n_ticks, 1)
    return {"e2e": e2e, "layer": layer}


def baseline_local1(run) -> float:
    """The single-core baseline: stop the session, start it again through
    ``get_spark()`` with SPARK_GRAFT_CPUS=1 (same JVM, so already warm)
    and drain one fresh batch through the four apps; returns that tick's
    summed batch time in ms."""
    from sparkstreaming_realtime_project_spark.session import get_spark

    run.spark.stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    spark = run.spark = get_spark(app_name="perfbench-stream_trickle-local1")
    inp = generate(run.seed, run.path("in_local1"), n_batches=1)
    dims = make_dims(spark, inp)
    tick = 0.0
    for app in APPS:
        prog, _ = drain(build(app, spark, inp, run.path("out_local1"), run.path("ck_local1"), dims))
        tick += sum(p["durationMs"]["triggerExecution"] for p in data_batches(prog))
    return tick
