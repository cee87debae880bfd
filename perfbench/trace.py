"""What the traced run reads from outside the program: micro-batch
progress, the app status store, and timing wrappers around the factories
and readers the program calls. Nothing here is used in untraced runs
except :func:`progress`, which the end-to-end batch times come from."""

from __future__ import annotations

import datetime as dt
import json
import re
import statistics
import time

# MicroBatchExecution's phase order inside one trigger
PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]

_RUN_ID = re.compile(r"runId = ([0-9a-f-]+)")
_BATCH = re.compile(r"batch = (\d+)")


def progress(query) -> list[dict]:
    """Every StreamingQueryProgress of a finished query, as dicts."""
    return [json.loads(p.json) for p in query.recentProgress]


def drain(writer) -> tuple[list[dict], str]:
    """Run a configured ``DataStreamWriter`` to completion with ``availableNow``
    and return (progress list, runId)."""
    q = writer.trigger(availableNow=True).start()
    try:
        q.awaitTermination()
    finally:
        q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"streaming query failed: {q.exception()}")
    return progress(q), str(q.runId)


def data_batches(prog: list[dict]) -> list[dict]:
    return [p for p in prog if p["numInputRows"] > 0]


def batch_spans(tracer, layer: str, app: str, prog: list[dict]) -> dict[int, int]:
    """One span per micro-batch (from its trigger timestamp and
    ``triggerExecution``) with its phases laid out in execution order
    from ``durationMs``. Returns batchId -> span id."""
    out = {}
    for p in prog:
        start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        d = p["durationMs"]
        sid = tracer.add(
            f"{layer}.{app}.batch", start, start + d.get("triggerExecution", 0) / 1000,
            batch=p["batchId"], rows=p["numInputRows"],
        )
        cur = start
        for ph in PHASES:
            ms = d.get(ph, 0)
            name = {
                "latestOffset": "sources.latest_offset",
                "getBatch": "sources.get_batch",
                "queryPlanning": f"{layer}.{app}.planning",
                "addBatch": f"{layer}.{app}.add_batch",
                "walCommit": f"{layer}.{app}.wal_commit",
                "commitOffsets": f"{layer}.{app}.commit_offsets",
            }[ph]
            tracer.add(name, cur, cur + ms / 1000, sid)
            cur += ms / 1000
        out[p["batchId"]] = sid
    return out


def median_of(prog: list[dict], key: str) -> float:
    vals = [p["durationMs"].get(key, 0) for p in prog]
    return float(statistics.median(vals)) if vals else 0.0


class StatusStore:
    """Jobs and stages from Spark's app status store (populated with the
    UI disabled). Stage metrics are summed over distinct stages."""

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()

    def jobs(self, after: int = -1) -> list[dict]:
        seq = self._store.jobsList(None)
        out = []
        for k in range(seq.size()):
            j = seq.apply(k)
            jid = j.jobId()
            if jid <= after:
                continue
            desc = j.description().get() if j.description().isDefined() else ""
            ids = j.stageIds()
            run = _RUN_ID.search(desc)
            batch = _BATCH.search(desc)
            out.append({
                "id": jid,
                "run_id": run.group(1) if run else None,
                "batch": int(batch.group(1)) if batch else None,
                "stages": [ids.apply(i) for i in range(ids.length())],
            })
        return out

    def max_job_id(self) -> int:
        return max((j["id"] for j in self.jobs()), default=-1)

    def stage_totals(self, jobs: list[dict]) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        tot = {"executor_cpu_ms": 0.0, "gc_ms": 0.0, "spill_bytes": 0.0, "shuffle_bytes": 0.0}
        for sid in sorted({s for j in jobs for s in j["stages"]}):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage never reaches the store
                continue
            tot["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            tot["gc_ms"] += st.jvmGcTime()
            tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            tot["shuffle_bytes"] += st.shuffleWriteBytes()
        return tot


def count_jobs(store: StatusStore, fn):
    """Call ``fn`` and return (result, seconds, jobs it launched)."""
    before = store.max_job_id()
    t0 = time.perf_counter()
    out = fn()
    secs = time.perf_counter() - t0
    return out, secs, store.jobs(after=before)
