"""publisher_serve: one client sends GETs, closed loop, to
``http_api.publisher_server`` over the dau and order-wide sinks that
set-up writes through ``idempotent_partitioned_writer`` in several
uncompacted batches, the layout a running app leaves behind.

The timed mix is /dauRealtime plus /statsByItem by gender and age,
including item names that match nothing. Every response is compared
with the JSON computed from the generated rows.

/detailByItem (offset and keyset pages) is left out of the timed mix:
over ``read_sink`` it fails on every request, because the ``create_date``
partition reads back as a DATE and the handler's ``json.dumps`` raises,
dropping the connection. Each run still sends those requests once, after
the timed phase, and reports the outcome under ``known_defects``.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import statistics
import time
from urllib.parse import quote

from . import gen
from .common import JvmCpu, calib_probe, quantile
from .trace import StatusStore, count_jobs

LATENCY_LIMIT_MS = 2000.0

DAU_SCHEMA = (
    "mid string, user_id long, province_id long, channel string, is_new string, "
    "event_ts timestamp, user_gender string, user_age int, province_name string, "
    "dt string, hr string"
)
WIDE_SCHEMA = (
    "detail_id long, order_id long, sku_id long, order_price double, sku_num long, "
    "sku_name string, split_total_amount double, split_activity_amount double, "
    "split_coupon_amount double, province_id long, order_status string, user_id long, "
    "total_amount double, create_time string, user_gender string, user_age int, "
    "province_name string, create_date string, create_hour string"
)


def request_mix(dau_rows: list[dict], wide_rows: list[dict]) -> list[tuple[str, str, object, str]]:
    """(route, path, expected JSON, sink) for one round of the timed mix."""
    d0, d1, d2 = (d.isoformat() for d in gen.SERVE_DAYS[::-1])
    mix = []
    for td in (d0, d1, d2):
        mix.append(("dau_realtime", f"/dauRealtime?td={td}", gen.expected_dau(dau_rows, td), "dau"))
    for item, date, t in (
        ("小米", d0, "gender"), ("苹果手机", d0, "age"), ("mate", d1, "gender"),
        ("redmi note", d1, "age"), ("诺基亚", d0, "age"), ("iphone", d2, "gender"),
    ):
        path = f"/statsByItem?itemName={quote(item)}&date={date}&t={t}"
        mix.append(("stats_by_item", path, gen.expected_stats(wide_rows, item, date, t), "wide"))
    return mix


def _get(port: int, path: str) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def _ok(status: int, body: bytes, expected) -> bool:
    return status == 200 and json.loads(body) == expected


def closed_loop(port: int, mix: list, seconds: float, tracer) -> tuple[list[dict], list[float]]:
    """One client sends whole rounds of ``mix``, one request at a time,
    until ``seconds`` have passed at the end of a round. Every run thus
    serves the mix in the same proportions, and a latency is one
    request's own service time: no queue forms in front of the server,
    so a slower host lengthens latencies in proportion rather than
    piling requests up. Returns the requests and each round's CPU
    seconds: the JVM's (see :class:`JvmCpu`) plus this process's, where
    the publisher's handlers run."""
    results: list[dict] = []
    round_cpu: list[float] = []
    jvm = JvmCpu()
    t0 = time.perf_counter()
    rnd = 0
    while True:
        cpu0 = jvm() + time.process_time()
        for route, path, expected, sink in mix:
            sent = time.perf_counter()
            w0 = time.time()
            try:
                status, body = _get(port, path)
                ok = _ok(status, body, expected)
            except (OSError, http.client.HTTPException, ValueError):
                ok = False
            done = time.perf_counter()
            tracer.add(f"http.{route}.request", w0, time.time(), ok=ok)
            results.append({"route": route, "sink": sink, "round": rnd, "sent": sent, "done": done, "ok": ok})
        round_cpu.append(jvm() + time.process_time() - cpu0)
        rnd += 1
        if time.perf_counter() - t0 >= seconds:
            return results, round_cpu


def probe_detail(port: int, wide_rows: list[dict]) -> list[dict]:
    """The /detailByItem requests the timed mix leaves out: an offset
    page, a page past the last one and a keyset first page. A response
    counts as right when it is a 200 whose JSON carries the expected
    match count (offset) or page length (keyset)."""
    date = gen.DAY.isoformat()
    total = gen.expected_detail_total(wide_rows, "小米", date)
    past = total // 20 + 2
    item = quote("小米")
    cases = [
        ("detail_by_item", f"/detailByItem?date={date}&itemName={item}&pageNo=1&pageSize=20", "total", total),
        ("detail_by_item", f"/detailByItem?date={date}&itemName={item}&pageNo={past}&pageSize=20", "total", total),
        ("detail_keyset", f"/detailByItem?date={date}&itemName={item}&afterTime=&afterId=", "detail", min(total, 20)),
    ]
    out = []
    for route, path, key, want in cases:
        t0 = time.perf_counter()
        try:
            status, body = _get(port, path)
            got = json.loads(body)[key] if status == 200 else None
            got = len(got) if key == "detail" and got is not None else got
            case = {"status": status, "ok": got == want}
        except (OSError, http.client.HTTPException, ValueError) as e:
            case = {"status": None, "ok": False, "error": type(e).__name__}
        out.append({"route": route, "path": path, "ms": 1000 * (time.perf_counter() - t0), **case})
    return out


def run_workload(run) -> dict:
    from sparkstreaming_realtime_project_spark.http_api import (
        publisher_server,
        serve_in_background,
    )
    from sparkstreaming_realtime_project_spark.streaming.sinks import (
        idempotent_partitioned_writer,
        read_sink,
    )

    import pandas as pd

    spark = run.start_session()
    gen_s = []
    for _ in range(3):  # set up several times; the median goes into setup_s
        t0 = time.perf_counter()
        dau_b, wide_b = gen.serve_rows(random.Random(run.seed))
        gen_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    dau_dir, wide_dir = run.path("sinks", "dau"), run.path("sinks", "order_wide")
    write_dau = idempotent_partitioned_writer(dau_dir, ["mid", "dt"], "dt")
    write_wide = idempotent_partitioned_writer(wide_dir, ["detail_id"], "create_date")
    for b, (d, w) in enumerate(zip(dau_b, wide_b)):
        write_dau(spark.createDataFrame(pd.DataFrame(d), DAU_SCHEMA), b)
        write_wide(spark.createDataFrame(pd.DataFrame(w), WIDE_SCHEMA), b)
    reads: list[float] = []

    def provider(sink_dir: str, rename: bool):
        def read():
            w0, t = time.time(), time.perf_counter()
            df = read_sink(spark, sink_dir)
            reads.append(time.perf_counter() - t)
            run.tracer.add("sinks.read_sink", w0, time.time())
            # the order-wide sink partitions on create_date; the serving
            # plans filter on dt. Renamed, not cast: the partition column
            # keeps the type read_sink gives it.
            return df.withColumnRenamed("create_date", "dt") if rename else df

        return read

    dau_p, wide_p = provider(dau_dir, False), provider(wide_dir, True)
    server = publisher_server(dau_p, wide_p)
    serve_in_background(server)
    port = server.server_address[1]
    prep_s = time.perf_counter() - t0
    setup_s = run.session_s + statistics.median(gen_s) + prep_s

    dau_rows = [r for b in dau_b for r in b]
    wide_rows = [r for b in wide_b for r in b]
    sink_rows = {"dau": len(dau_rows), "wide": len(wide_rows)}
    mix = request_mix(dau_rows, wide_rows)
    try:
        warm, _ = closed_loop(port, mix, 0, run.tracer)  # one untimed round
        run.notes["calib_before_s"] = calib_probe(spark)
        store = StatusStore(spark) if run.trace else None
        first_job = store.max_job_id() if store else -1
        n_reads = len(reads)
        res, round_cpu = closed_loop(port, mix, run.seconds, run.tracer)
        timed_reads = reads[n_reads:]
        last_job = store.max_job_id() if store else -1
        run.notes["known_defects"] = {"detail_by_item": probe_detail(port, wide_rows)}
        layer = _layer_metrics(run, store, first_job, last_job, res, timed_reads,
                               dau_p, wide_p, dau_dir, wide_dir) if run.trace else {}
    finally:
        server.shutdown()
        server.server_close()

    for r in warm + res:
        run.check(r["ok"], f"{r['route']} response differs from the generated rows")
    span_s = res[-1]["done"] - res[0]["sent"]
    lat = [1000 * (r["done"] - r["sent"]) for r in res]
    rounds: dict[int, list[dict]] = {}
    for r in res:
        rounds.setdefault(r["round"], []).append(r)
    round_ms = [1000 * (rr[-1]["done"] - rr[0]["sent"]) for rr in rounds.values()]
    good = [r for r, ms in zip(res, lat) if r["ok"] and ms <= LATENCY_LIMIT_MS]
    e2e = {
        "setup_s": (setup_s, "s"),
        # CPU adds up, so the cost of a request is the total over the
        # timed rounds: a GC cycle counts wherever it falls
        "cpu_ms_per_op": (1000 * sum(round_cpu) / len(res), "ms"),
        "rows_per_s": (sum(sink_rows[r["sink"]] for r in res if r["ok"]) / span_s, "rows/s"),
        "batch_p50_ms": (statistics.median(round_ms), "ms"),
        "req_p50_ms": (quantile(lat, 0.5), "ms"),
        "req_p90_ms": (quantile(lat, 0.9), "ms"),
        "goodput_rps": (len(good) / span_s, "1/s"),
    }
    run.notes["requests"] = {"sent": len(res), "rounds": len(round_ms), "span_s": span_s}
    run.notes["round_cpu_ms"] = [round(1000 * c) for c in round_cpu]
    return {"e2e": e2e, "layer": layer}


def _layer_metrics(run, store, first_job, last_job, res, timed_reads,
                   dau_p, wide_p, dau_dir, wide_dir) -> dict:
    from sparkstreaming_realtime_project_spark.plans import publisher as pub

    layer: dict[str, float] = {}
    layer["sinks.read_sink_ms"] = 1000 * statistics.median(timed_reads)
    layer["sinks.dirs_listed"] = sum(
        1 for d in (dau_dir, wide_dir) for base, dirs, _ in os.walk(d) for _ in dirs
    )
    gaps = [1000 * (b["sent"] - a["done"]) for a, b in zip(res, res[1:])]
    layer["loadgen.gap_p90_ms"] = quantile(gaps, 0.9)
    timed_jobs = [j for j in store.jobs(after=first_job) if j["id"] <= last_job]
    for k, v in store.stage_totals(timed_jobs).items():
        layer[f"exec.{k}"] = v / len(res)

    date = gen.DAY.isoformat()
    calls = {
        "dau_realtime": lambda: pub.dau_realtime_json(dau_p(), date),
        "stats_by_item": lambda: pub.stats_by_item_json(wide_p(), "小米", date, "gender"),
        "detail_by_item": lambda: pub.detail_by_item_json(wide_p(), date, "小米"),
        "detail_keyset": lambda: pub.detail_by_item_keyset_json(wide_p(), date, "小米"),
    }
    service: dict[str, list[float]] = {}
    for r in res:
        service.setdefault(r["route"], []).append(1000 * (r["done"] - r["sent"]))
    for case in run.notes["known_defects"]["detail_by_item"]:
        service.setdefault(case["route"], []).append(case["ms"])
    for route, fn in calls.items():
        times, jobs = [], []
        for _ in range(5):
            w0 = time.time()
            _, secs, launched = count_jobs(store, fn)
            run.tracer.add(f"publisher.{route}.call", w0, time.time())
            times.append(1000 * secs)
            jobs.append(len(launched))
        call_ms = statistics.median(times)
        layer[f"publisher.{route}.call_ms"] = call_ms
        layer[f"publisher.{route}.jobs"] = statistics.median(jobs)
        layer[f"http.{route}.overhead_ms"] = statistics.median(service[route]) - call_ms
    return layer
