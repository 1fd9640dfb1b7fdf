"""Per-layer metrics of a traced run, and the trace files it leaves.

Every name in :data:`LAYER_METRICS` is reported by every workload, so
traced runs of two commits diff key by key; a layer a workload never
calls reads 0. Times are medians over the calls, counts are means per
call unless the name says otherwise.
"""

from __future__ import annotations

import json
import os
import statistics

from perfbench.spans import Span, layer_table, self_times, write_trace

#: layers as the benchmark names them in its spans (engine modules,
#: plus Spark execution and the benchmark's own set-up wrappers)
LAYERS = ("session", "sources.lakehouse", "sources.iceberg", "sources.catalog", "spark",
          "etl", "ml", "streaming", "sources.matview", "bench.setup")

LAYER_METRICS = {
    "session.start_ms": "ms",
    "lakehouse.merge_ms": "ms",
    "lakehouse.delete_ms": "ms",
    "lakehouse.append_ms": "ms",
    "lakehouse.jobs_per_commit": "count",
    "lakehouse.plan_read_ms": "ms",
    "lakehouse.jobs_per_plan_read": "count",
    "lakehouse.files_added_per_commit": "count",
    "lakehouse.live_files": "count",
    "lakehouse.bytes_per_row_written": "B",
    "iceberg.merge_ms": "ms",
    "iceberg.delete_ms": "ms",
    "iceberg.append_ms": "ms",
    "iceberg.plan_read_ms": "ms",
    "iceberg.jobs_per_commit": "count",
    "iceberg.files_added_per_commit": "count",
    "iceberg.live_manifests": "count",
    "catalog.sql_plan_ms": "ms",
    "spark.action_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.unattributed_jobs": "count",
    "etl.medallion_ms": "ms",
    "etl.silver_batch_ms": "ms",
    "ml.train_ms": "ms",
    "ml.score_ms": "ms",
    "streaming.bronze_tick_ms": "ms",
    "streaming.silver_tick_ms": "ms",
    "streaming.jobs_per_tick": "count",
    "streaming.rows_per_tick": "count",
    "streaming.backlog_files": "count",
    "streaming.generator_late_ms": "ms",
    "matview.refresh_ms": "ms",
    "matview.jobs_per_refresh": "count",
    **{f"self_ms.{layer}": "ms" for layer in LAYERS},
    "trace.overhead_ms": "ms",
    "trace.overhead_share": "ratio",
}

_PREFIX = {"sources.lakehouse": "lakehouse", "sources.iceberg": "iceberg"}


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _leaf_jobs(s: Span, leaves: set[int]) -> int:
    """Jobs behind one call: its own group, plus ungrouped jobs that
    finished inside it (leaf spans only, so nesting never counts twice)."""
    return s.jobs + (s.unattributed_jobs if s.id in leaves else 0)


def layer_metrics(spans: list[Span], traced, plain, start_s: float) -> dict:
    parents = {s.parent for s in spans if s.parent is not None}
    leaves = {s.id for s in spans if s.id not in parents}
    m: dict[str, float] = {k: 0.0 for k in LAYER_METRICS}
    m["session.start_ms"] = start_s * 1e3

    for layer, pre in _PREFIX.items():
        own = [s for s in spans if s.layer == layer]
        commits = [s for s in own if s.attrs.get("verb") in ("merge", "delete", "append")]
        for verb in ("merge", "delete", "append"):
            m[f"{pre}.{verb}_ms"] = _med([s.ms for s in commits if s.attrs["verb"] == verb])
        m[f"{pre}.jobs_per_commit"] = _mean([_leaf_jobs(s, leaves) for s in commits])
        reads = [s for s in own if s.attrs.get("verb") == "plan_read"]
        m[f"{pre}.plan_read_ms"] = _med([s.ms for s in reads])
        if pre == "lakehouse":
            m["lakehouse.jobs_per_plan_read"] = _mean([_leaf_jobs(s, leaves) for s in reads])

    m["catalog.sql_plan_ms"] = _med([s.ms for s in spans if s.attrs.get("verb") == "sql_plan"])
    m["spark.action_ms"] = _med([s.ms for s in spans if s.layer == "spark"])
    by_op: dict[int, list[Span]] = {}
    for s in spans:
        if s.op is not None:
            by_op.setdefault(s.op, []).append(s)
    ops = list(by_op.values())
    m["spark.jobs_per_op"] = _mean([sum(_leaf_jobs(s, leaves) for s in op) for op in ops])
    m["spark.stages_per_op"] = _mean([sum(s.stages for s in op) for op in ops])
    m["spark.tasks_per_op"] = _mean([sum(s.tasks for s in op) for op in ops])
    m["spark.unattributed_jobs"] = float(
        sum(s.unattributed_jobs for s in spans if s.id in leaves))

    for name, key in (("etl.medallion", "etl.medallion_ms"), ("ml.train", "ml.train_ms"),
                      ("ml.score", "ml.score_ms"), ("matview.refresh", "matview.refresh_ms")):
        m[key] = _med([s.ms for s in spans if s.name == name])
    m["matview.jobs_per_refresh"] = _mean(
        [_leaf_jobs(s, leaves) for s in spans if s.name == "matview.refresh"])

    table = layer_table(spans)
    for layer in LAYERS:
        m[f"self_ms.{layer}"] = table.get(layer, {}).get("self_ms", 0.0)
    m["self_ms.session"] = start_s * 1e3

    for k, (v, _u) in traced.layer.items():
        m[k] = float(v)
    t, p = _mean(traced.op_ms), _mean(plain.op_ms)
    m["trace.overhead_ms"] = t - p
    m["trace.overhead_share"] = (t - p) / p
    return {k: (m[k], LAYER_METRICS[k]) for k in LAYER_METRICS}


def write(trace_dir: str, workload: str, seed: int, spans: list[Span], metrics: dict,
          traced) -> None:
    """``<workload>-seed<seed>.spans.jsonl`` (one span per line) and
    ``.layers.json`` (layer table, per-layer metrics, end-to-end
    metrics of the traced pass)."""
    stem = os.path.join(trace_dir, f"{workload}-seed{seed}")
    write_trace(stem + ".spans.jsonl", spans, {"workload": workload, "seed": seed})
    selfs = self_times(spans)
    by_name: dict[str, dict] = {}
    for s in spans:
        row = by_name.setdefault(s.name, {"layer": s.layer, "calls": 0, "ms": 0.0,
                                          "self_ms": 0.0, "jobs": 0})
        row["calls"] += 1
        row["ms"] += s.ms
        row["self_ms"] += selfs[s.id]
        row["jobs"] += s.jobs + s.unattributed_jobs
    with open(stem + ".layers.json", "w") as fh:
        json.dump({
            "workload": workload,
            "seed": seed,
            "layers": layer_table(spans),
            "spans_by_name": by_name,
            "per_layer": {k: v for k, (v, _u) in metrics.items()},
            "end_to_end_traced": {k: v for k, (v, _u) in traced.e2e.items()},
        }, fh, indent=1, sort_keys=True)
