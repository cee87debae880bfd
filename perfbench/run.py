"""Warehouse benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with every end-to-end
metric of BENCHMARK.json (``--trace 0``) or every per-layer metric
(``--trace 1``). The line before it carries run details: host probe,
per-app batch times, known defects, output problems. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "sparkstreaming_realtime_project_spark"
MODULES = {
    "stream_trickle": "stream",
    "publisher_serve": "serve",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path, encoding="utf-8") as fh:
        spec = json.load(fh)
    if args.workload not in MODULES:
        print(f"unknown workload {args.workload!r}; choose from {sorted(MODULES)}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE} not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    from perfbench.common import Run, calib_probe, prepare_environment

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    prepare_environment(run.work)
    nproc = os.environ["SPARK_GRAFT_CPUS"]
    mod = importlib.import_module(f"perfbench.{MODULES[args.workload]}")
    try:
        res = mod.run_workload(run)
        calib_after = calib_probe(run.spark)
        layer = res.get("layer", {})
        if run.trace:
            layer["session.start_ms"] = 1000 * run.session_s
            layer["session.jvm_peak_rss_mb"] = run.jvm_peak_rss_mb()
            if hasattr(mod, "baseline_local1"):
                layer["baseline.local1_batch_p50_ms"] = mod.baseline_local1(run)
    finally:
        run.cleanup()
    details = {
        "workload": args.workload, "seed": args.seed,
        "host": {"nproc": nproc, "calib_before_s": run.notes.pop("calib_before_s", None),
                 "calib_after_s": calib_after},
        "problems": run.problems, **run.notes,
    }
    if not run.trace:
        metrics = {m["name"]: res["e2e"][m["name"]] for m in spec["end_to_end"]}
        details["wall_clock"] = {k: v for k, (v, _) in res["e2e"].items() if k not in metrics}
        print(json.dumps(details, ensure_ascii=False))
        print(run.finish(metrics))
        return 0

    layer["host.calib_before_ms"] = 1000 * details["host"]["calib_before_s"]
    layer["host.calib_after_ms"] = 1000 * calib_after
    for name, (value, _) in res["e2e"].items():
        layer[f"trace.{name}"] = value
    for name, ms in run.tracer.self_times_ms().items():
        layer[f"self.{name}_ms"] = ms
    layer["trace.spans"] = len(run.tracer.spans)
    layer["trace.bookkeeping_ms"] = 1000 * run.tracer.bookkeeping_s
    out_dir = os.path.join(ROOT, "perfbench", ".out")
    os.makedirs(out_dir, exist_ok=True)
    run.tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"))
    metrics = {m["name"]: (float(layer.get(m["name"], 0.0)), m["unit"]) for m in spec["per_layer"]}
    details["unlisted_layer_metrics"] = sorted(set(layer) - set(metrics))
    print(json.dumps(details, ensure_ascii=False))
    print(run.finish(metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
