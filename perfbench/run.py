"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload fraud_paced --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``), each metric with its unit. The line before it holds the
run's box context. A traced run also writes its spans to
``.perfbench/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def _units(trace: int) -> dict[str, str]:
    """Declared metric name -> unit, for the kind this run reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _stop_spark() -> None:
    """Stop the session, close the JVM and wait for every process it made."""
    from pyspark import SparkContext

    import procs

    pids = procs.tree()
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    procs.reap(pids)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import apache_flink_pratices_spark.session  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import procs
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    units = _units(args.trace)

    # the engine's own knobs: its core count, and the repo on the workers' path
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    os.makedirs(work)
    tracer = Tracer(bool(args.trace))
    box = procs.BoxContext()
    try:
        with procs.PeakMemory() as mem:
            try:
                res = workloads.WORKLOADS[args.workload](args.seed, args.seconds, tracer, work)
            finally:
                _stop_spark()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    peak = mem.mb()
    if args.trace:
        metrics = res["layers"]
        metrics.update({f"memory.{k}_peak_pss_mb": v for k, v in peak.items()})
    else:
        metrics = res["metrics"]
    context = box.finish(workload=args.workload, seed=args.seed,
                         peak_pss_mb=round(peak["total"], 1), **res["context"])
    if args.trace:
        os.makedirs(os.path.join(out_dir, "traces"), exist_ok=True)
        path = os.path.join(out_dir, "traces", f"{args.workload}-seed{args.seed}-{int(time.time())}.json")
        tracer.dump(path, context)
        context["trace_file"] = os.path.relpath(path, ROOT)
    if set(metrics) != set(units):
        print(f"perfbench: metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}",
              file=sys.stderr)
        return 1
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
