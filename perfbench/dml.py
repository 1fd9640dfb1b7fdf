"""``dml_upkeep``: a closed loop with one client running a fixed seeded
script of MERGE / GDPR DELETE / append / latest-read cycles against a
public-format Delta table and an Iceberg table built from the same
silver rows.

Set-up loads the base rows into Delta in ``DELTA_LOAD_BATCHES`` appends
and one GDPR delete: 10 commits, so the log has written its first
checkpoint (one every 10 commits) before the first timed cycle, and
every timed read replays a checkpoint plus the commits after it.
Iceberg gets the same rows in one append and the same delete. Cycles
then run until the measured time reaches ``--seconds`` (at least one
cycle, at most the script's length). Both tables are then checked
against a plain-Python model of the same upserts, deletes and appends."""

from __future__ import annotations

import os
import time

from perfbench import tabledirs
from perfbench.checks import TableModel, digest
from perfbench.gen import SILVER_FIELDS, dml_script, silver_row
from perfbench.harness import Outcome
from perfbench.stats import median, tail

SCHEMA = ", ".join(f"{c} {t}" for c, t in SILVER_FIELDS)
DELTA_LOAD_BATCHES = 9


class _Side:
    """One table format: its handle, the verbs the script calls, and
    the samples gathered from it."""

    def __init__(self, name: str, layer: str, table):
        self.name, self.layer, self.table = name, layer, table
        self.commit_ms: list[float] = []
        self.read_ms: list[float] = []
        self.files_added: list[int] = []
        self.bytes_per_row: list[float] = []

    def merge(self, df):
        return self.table.merge(df, on=["id"])

    def delete(self, pred: str):
        return self.table.delete(pred)

    def append(self, df):
        if self.name == "delta":
            return self.table.write(df, mode="append")
        return self.table.append(df)


def _in_ids(ids: list[str]) -> str:
    return "id IN (" + ", ".join(f"'{i}'" for i in ids) + ")"


def run(spark, tracer, seed: int, seconds: float, knobs, work: str) -> Outcome:
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    out = Outcome()
    base, setup_dels, script = dml_script(seed, knobs)
    base_silver = [silver_row(r) for r in base]
    root = os.path.join(work, "dml")
    sides = [
        _Side("delta", "sources.lakehouse", DeltaLogTable(spark, os.path.join(root, "delta"))),
        _Side("iceberg", "sources.iceberg", IcebergTable(spark, os.path.join(root, "iceberg"))),
    ]
    step = -(-len(base_silver) // DELTA_LOAD_BATCHES)
    loads = {
        "delta": [spark.createDataFrame(base_silver[i:i + step], SCHEMA)
                  for i in range(0, len(base_silver), step)],
        "iceberg": [spark.createDataFrame(base_silver, SCHEMA)],
    }
    t0 = time.perf_counter()
    with tracer.span("dml.setup", "bench.setup"):
        for side in sides:
            for df in loads[side.name]:
                with tracer.span(f"{side.name}.append", side.layer, verb="append"):
                    side.append(df)
            with tracer.span(f"{side.name}.delete", side.layer, verb="delete"):
                side.delete(_in_ids(setup_dels))
    setup_s = time.perf_counter() - t0
    setup_version = sides[0].table.latest_version()

    model = TableModel(base_silver)
    model.delete(setup_dels)
    measured, n_ops, op_id, done = 0.0, 0, 0, 0
    delta_cycle_ms: list[float] = []  # Delta merge + delete + append, per cycle
    for c in script:
        if measured >= seconds:
            break
        merge_rows = [silver_row(r) for r in c.merge]
        app_rows = [silver_row(r) for r in c.append]
        merge_df = spark.createDataFrame(merge_rows, SCHEMA)
        app_df = spark.createDataFrame(app_rows, SCHEMA)
        pred = _in_ids(c.delete)
        model.upsert(merge_rows)
        model.delete(c.delete)
        model.append(app_rows)
        for side in sides:
            for verb, arg in (("merge", merge_df), ("delete", pred), ("append", app_df)):
                op_id += 1
                tracer.op(op_id)
                before = tabledirs.data_files(side.table.path) if tracer.enabled else None
                with tracer.span(f"{side.name}.{verb}", side.layer, verb=verb) as sp:
                    getattr(side, verb)(arg)
                side.commit_ms.append(sp.ms)
                if tracer.enabled:
                    files, nbytes, rows = tabledirs.added(
                        before, tabledirs.data_files(side.table.path))
                    side.files_added.append(files)
                    if rows:
                        side.bytes_per_row.append(nbytes / rows)
                measured += sp.ms / 1e3
                n_ops += 1
            op_id += 1
            tracer.op(op_id)
            with tracer.span(f"{side.name}.read", side.layer, verb="plan_read") as plan:
                df = side.table.read()
            with tracer.span(f"{side.name}.read.count", "spark", verb="action") as act:
                n = df.count()
            side.read_ms.append(plan.ms + act.ms)
            measured += (plan.ms + act.ms) / 1e3
            n_ops += 1
            out.check(f"{side.name}.count.{done}", n == len(model.rows))
        delta_cycle_ms.append(sum(sides[0].commit_ms[-3:]))
        done += 1
    tracer.op(None)

    want = model.digest()
    for side in sides:
        out.check(f"{side.name}.model", digest(side.table.read().collect()) == want)
    out.attempted += n_ops

    delta, ice = sides
    out.op_ms = delta.commit_ms + delta.read_ms + ice.commit_ms + ice.read_ms
    dt, dp = tail(delta.commit_ms)
    it, ip = tail(ice.commit_ms)
    out.e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (median(delta_cycle_ms), "ms"),
        "ops_per_s": (n_ops / measured, "1/s"),
    }
    out.extra = {
        "delta_cycle_commit_p50_ms": (median(delta_cycle_ms), "ms"),
        "delta_commit_p50_ms": (median(delta.commit_ms), "ms"),
        "delta_commit_tail_ms": (dt, f"ms@p{dp:.0f}"),
        "iceberg_commit_p50_ms": (median(ice.commit_ms), "ms"),
        "iceberg_commit_tail_ms": (it, f"ms@p{ip:.0f}"),
        "dml_ops_per_s": (n_ops / measured, "1/s"),
        "snapshot_read_p50_ms": (median(delta.read_ms), "ms"),
        "cycles": (done, "count"),
        "delta_version_before_cycles": (setup_version, "count"),
        "delta_version": (delta.table.latest_version(), "count"),
    }
    if tracer.enabled:
        out.layer.update({
            "lakehouse.files_added_per_commit": (
                sum(delta.files_added) / len(delta.files_added), "count"),
            "lakehouse.live_files": (tabledirs.delta_live_files(delta.table.path), "count"),
            "lakehouse.bytes_per_row_written": (median(delta.bytes_per_row), "B"),
            "iceberg.files_added_per_commit": (
                sum(ice.files_added) / len(ice.files_added), "count"),
            "iceberg.live_manifests": (tabledirs.iceberg_live_manifests(ice.table.path), "count"),
        })
    return out
