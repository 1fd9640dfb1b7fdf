"""Lakehouse-upkeep benchmark: one workload per run, result as one JSON line.

    python3 perfbench/run.py --workload dml_upkeep --seed 1 --seconds 6 --trace 0

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
workload twice in one process, traced and then untraced, reports the
per-layer metrics and the tracing overhead, and writes the span file and
per-layer table under ``--trace-dir``. ``--workload all`` runs the three
workloads one after another in one process; its JSON line prefixes each
metric with the workload name. See perfbench/README.md.

The command runs the benchmark in a child process (``procs.py``) and
exits only once every process the child started, the Spark JVM and its
Python workers included, has ended.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness, procs  # noqa: E402
from perfbench.gen import Knobs  # noqa: E402

WORKLOADS = {
    "dml_upkeep": ("perfbench.dml", Knobs(base_rows=2000, merge_rows=100, hot_keys=32,
                                          hot_share=0.7)),
    "bi_scan": ("perfbench.bi", Knobs(base_rows=4000)),
    "stream_ingest": ("perfbench.stream", Knobs(stream_rows_per_file=20)),
}


def _run_once(spark, workload: str, args, traced: bool, tag: str):
    from perfbench.spans import Tracer

    modname, knobs = WORKLOADS[workload]
    work = os.path.join(args.work, workload, tag)
    tracer = Tracer(spark.sparkContext, enabled=traced)
    out = importlib.import_module(modname).run(
        spark, tracer, args.seed, args.seconds, knobs, work)
    shutil.rmtree(work, ignore_errors=True)
    return out, tracer


def _run_workload(spark, workload: str, args, start_s: float):
    """``(outcome, metrics)`` of one workload in the running session."""
    out, tracer = _run_once(spark, workload, args, bool(args.trace),
                            "traced" if args.trace else "run")
    if not args.trace:
        return out, out.e2e
    from perfbench import report

    plain, _ = _run_once(spark, workload, args, False, "untraced")
    out.attempted += plain.attempted
    out.failed += plain.failed
    out.checks.update({f"untraced.{k}": ok for k, ok in plain.checks.items()})
    metrics = report.layer_metrics(tracer.spans, out, plain, start_s)
    report.write(args.trace_dir, workload, args.seed, tracer.spans, metrics, out)
    return out, metrics


def _print(workload: str, out, metrics: dict, trace: bool) -> None:
    for k, (v, u) in {**out.e2e, **out.extra, **(metrics if trace else {})}.items():
        print(f"{workload} {k} = {v:.4f} {u}")
    for name, ok in out.checks.items():
        if not ok:
            print(f"{workload} CHECK FAILED: {name}")
    print(f"{workload} failed_op_share = {out.failed / out.attempted:.4f} "
          f"({out.failed}/{out.attempted})")


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if os.environ.get(procs.CHILD_ENV) != "1":
        work = os.path.join(harness.REPO_ROOT, ".perfbench_work", f"run-{os.getpid()}")
        return procs.supervise(os.path.abspath(__file__), argv, work)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-dir", default=os.path.join(harness.REPO_ROOT, ".perfbench_trace"))
    args = ap.parse_args(argv)
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    args.work = os.environ[procs.WORK_ENV]  # removed by the supervisor
    shutil.rmtree(args.work, ignore_errors=True)
    harness.prepare_env(args.work)

    results = {}
    spark = None
    try:
        spark, start_s = harness.start_session(args.work)
        for name in names:
            results[name] = _run_workload(spark, name, args, start_s)
    finally:
        if spark is not None:
            spark.stop()

    for name, (out, metrics) in results.items():
        _print(name, out, metrics, bool(args.trace))
    prefix = len(names) > 1
    print(json.dumps({
        "correct": all(out.failed == 0 for out, _ in results.values()),
        "attempted": sum(out.attempted for out, _ in results.values()),
        "failed": sum(out.failed for out, _ in results.values()),
        "metrics": {
            (f"{name}.{k}" if prefix else k): {"value": v, "unit": u}
            for name, (_, metrics) in results.items() for k, (v, u) in metrics.items()
        },
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
