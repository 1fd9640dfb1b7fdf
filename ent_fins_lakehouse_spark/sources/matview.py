"""Incrementally-maintained materialized aggregate views.

The lakehouse pattern the reference's BI layer implies but Databricks
delegates to DLT: a GROUP BY aggregate over a Delta table, stored AS a
Delta table, refreshed from the base table's CHANGE DATA FEED instead
of recomputed — COUNT and SUM are self-maintainable aggregates
(Gray et al.'s distributive aggregates; the view-maintenance algebra
from Gupta & Mumick, "Maintenance of Materialized Views"), so a
refresh applies per-group deltas:

    insert / update_postimage  -> +1 row,  +value
    delete / update_preimage   -> -1 row,  -value

and MERGEs them into the view. Refresh cost is O(changed rows) +
O(touched groups) — at 100 TB with a steady trickle of DML, the
difference between an unusable nightly recompute and a seconds-long
maintenance tick. AVG rides for free as sum/count at read time. MIN /
MAX self-maintain under inserts (LEAST/GREATEST merge); a DELETE that
ties the stored extremum triggers Gupta & Mumick's completion —
re-aggregation of ONLY the affected groups from the base table
(semi-join-pushed scan, O(affected groups), never O(table)).
APPROXIMATE DISTINCT columns (``ndv_cols``)
maintain a mergeable DataSketches HLL sketch per group (register-max
``hll_union`` merge, 4 KB state, ~1.6% RSE at lgK=12) with the
estimate denormalized beside it — the only distinct-count that
refreshes in O(changed rows) at 100 TB; insert-only, unlike MIN/MAX
(registers cannot forget).

Exactness discipline: sums accumulate in DECIMAL (order-insensitive),
so an incremental refresh lands BIT-IDENTICAL to a full recompute —
asserted by the q336 fixture and the test suite.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ent_fins_lakehouse_spark.session import run_concurrently
from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

#: The create-time clustering rewrite (OPTIMIZE on the a-side pk) only
#: runs once the view outgrows this — below it, a per-tick full view
#: scan is already trivial and the rewrite would cost more than it
#: saves. The clustering DECLARATION always lands regardless, so a
#: later bare optimize() establishes the layout when the view grows.
CLUSTER_REWRITE_MIN_BYTES = 8 * 1024 * 1024

#: CDF row polarity for self-maintainable aggregates
_SIGN = {
    "insert": 1,
    "update_postimage": 1,
    "delete": -1,
    "update_preimage": -1,
}


class MaterializedAggView:
    """A COUNT/SUM GROUP BY view over a :class:`DeltaLogTable` OR an
    Iceberg table, stored as its own public-format Delta table at
    ``dest`` and refreshed incrementally from the base table's change
    feed (Delta CDF versions / Iceberg incremental-scan snapshots —
    both emit ``_change_type`` rows; Iceberg REPLACE snapshots are
    maintenance and correctly invisible to the feed).

    ``sum_cols`` values are summed as ``DECIMAL(18,2)`` (exact,
    order-insensitive — the engine's float discipline); the stored
    running sums are ``DECIMAL(28,2)``.

    Concurrency / recovery contract: ``refresh()`` records the base
    version it consumed in ``_mv.json`` AFTER the merge commits, so a
    crash between the two replays the window on the next refresh
    (at-least-once). Callers needing exactly-once should gate refresh
    behind their own idempotence key or re-``create()`` — the marker
    file carries the consumed version for exactly this audit. A
    concurrent refresh that advanced the marker mid-flight is detected
    and refused.
    """

    MARKER = "_mv.json"

    def __init__(self, spark: SparkSession, base, dest: str):
        self.spark = spark
        self.base = base
        self.dest = dest
        self.table = DeltaLogTable(spark, dest)

    # --------------------------------------------- base-format adapter

    def _base_version(self) -> int:
        """Current feed position: Delta version / Iceberg snapshot id."""
        if hasattr(self.base, "latest_version"):
            return int(self.base.latest_version())
        cur = self.base.metadata().get("current-snapshot-id")
        return int(cur if cur is not None else -1)

    def _base_read_at(self, v: int) -> DataFrame:
        if hasattr(self.base, "latest_version"):
            return self.base.read(version_as_of=v)
        return self.base.read(snapshot_id=v)

    def _base_changes(self, v0: int, v1: int) -> DataFrame:
        """Feed rows in (v0, v1] — Delta's read_changes takes an
        INCLUSIVE from-version, Iceberg's an exclusive from-snapshot."""
        if hasattr(self.base, "latest_version"):
            return self.base.read_changes(v0 + 1, v1)
        return self.base.read_changes(v0, v1)

    # ------------------------------------------------------------ state

    def _marker_path(self) -> str:
        return os.path.join(self.dest, self.MARKER)

    def _load(self) -> dict:
        with open(self._marker_path()) as fh:
            return json.load(fh)

    def _save(self, d: dict) -> None:
        tmp = self._marker_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(d, fh)
        os.replace(tmp, self._marker_path())

    # ---------------------------------------------------------- compute

    #: DataSketches HLL precision for NDV columns: lgConfigK=12 ->
    #: 4 KB sketches, ~1.6% relative standard error — mergeable,
    #: order-insensitive, deterministic for a given input SET
    HLL_LG_K = 12

    def _aggregate(
        self,
        df: DataFrame,
        group_cols: list[str],
        sum_cols: list[str],
        minmax_cols: list[str] | None = None,
        ndv_cols: list[str] | None = None,
    ) -> DataFrame:
        aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")] + [
            F.sum(F.col(c).cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .alias(f"sum_{c}")
            for c in sum_cols
        ]
        for c in minmax_cols or []:
            aggs.append(
                F.min(F.col(c).cast("decimal(18,2)")).alias(f"min_{c}")
            )
            aggs.append(
                F.max(F.col(c).cast("decimal(18,2)")).alias(f"max_{c}")
            )
        for c in ndv_cols or []:
            # the sketch is the maintained STATE (register-max merge,
            # hence insert-only); the estimate is denormalized beside
            # it so readers never need the sketch functions
            sk = F.hll_sketch_agg(F.col(c), F.lit(self.HLL_LG_K))
            aggs.append(sk.alias(f"_sk_{c}"))
            aggs.append(
                F.hll_sketch_estimate(sk).cast("long").alias(f"ndv_{c}")
            )
        return df.groupBy(*group_cols).agg(*aggs)

    def _guard_keys(self, df: DataFrame, group_cols: list[str], what: str) -> None:
        cond = None
        for c in group_cols:
            e = F.col(c).isNull()
            cond = e if cond is None else (cond | e)
        if df.filter(cond).limit(1).count() > 0:
            raise ValueError(
                f"{what} contains NULL group keys — the MERGE-based "
                "incremental maintenance joins on key equality; model "
                "missing keys as a sentinel value instead"
            )

    def create(
        self,
        group_cols: list[str],
        sum_cols: list[str],
        minmax_cols: list[str] | None = None,
        ndv_cols: list[str] | None = None,
    ) -> dict:
        """Full initial compute at the base's current version.

        ``minmax_cols`` adds MIN/MAX columns — maintained under ANY
        feed: inserts LEAST/GREATEST-merge, and a deleted extremum
        triggers per-group re-derivation of only the affected groups
        (see :meth:`apply_changes`). ``ndv_cols`` adds approximate-
        distinct columns (a mergeable DataSketches HLL sketch per
        group + its denormalized estimate) — insert-only (registers
        are max-merged and cannot forget); :meth:`apply_changes`
        refuses deletes when they are configured and points at
        ``refresh(full=True)``."""
        base_version = self._base_version()
        # pin the scan to the recorded version: a commit racing in
        # between would otherwise be aggregated NOW and re-applied by
        # the next incremental refresh (double count)
        snap = self._base_read_at(base_version)
        unknown = [
            c
            for c in (*group_cols, *sum_cols, *(minmax_cols or []), *(ndv_cols or []))
            if c not in snap.columns
        ]
        if unknown:
            raise ValueError(f"view references unknown base columns {unknown}")
        self._guard_keys(snap.select(*group_cols), group_cols, "base table")
        mv = self._aggregate(snap, group_cols, sum_cols, minmax_cols, ndv_cols)
        os.makedirs(self.dest, exist_ok=True)
        self.table.write(mv, mode="overwrite")
        self._save(
            {
                "base_path": self.base.path,
                "group_cols": list(group_cols),
                "sum_cols": list(sum_cols),
                "minmax_cols": list(minmax_cols or []),
                "ndv_cols": list(ndv_cols or []),
                "last_version": base_version,
            }
        )
        return {"groups": mv.count(), "base_version": base_version}

    def read(self) -> DataFrame:
        return self.table.read()

    def refresh(self, full: bool = False) -> dict:
        """Apply the base table's changes since the last refresh.

        Incremental path: one CDF read of the window, one per-group
        delta aggregation, one MERGE into the view (+ a cleanup DELETE
        of groups whose count reached zero; + a bounded per-group
        re-derivation when a MIN/MAX extremum was deleted).
        ``full=True`` recomputes instead (the escape hatch when the
        CDF window was checkpointed away)."""
        d = self._load()
        group_cols, sum_cols = d["group_cols"], d["sum_cols"]
        v0, v1 = int(d["last_version"]), self._base_version()
        if full:
            mv = self._aggregate(
                self._base_read_at(v1),
                group_cols, sum_cols, d.get("minmax_cols"), d.get("ndv_cols"),
            )
            self.table.write(mv, mode="overwrite")
            self._save({**d, "last_version": v1})
            return {"mode": "full", "groups_touched": mv.count(),
                    "from_version": v0, "to_version": v1}
        if v1 <= v0:
            return {"mode": "incremental", "groups_touched": 0,
                    "from_version": v0, "to_version": v1}
        changes = self._base_changes(v0, v1)
        if int(self._load()["last_version"]) != v0:
            raise RuntimeError("concurrent refresh detected — retry")
        stats = self.apply_changes(changes, base_version=v1)
        self._save({**d, "last_version": v1})
        return {
            "mode": "incremental",
            "from_version": v0,
            "to_version": v1,
            **stats,
        }

    def apply_changes(
        self, changes: DataFrame, base_version: int | None = None
    ) -> dict:
        """Apply one batch of CDF-shaped rows (table columns +
        ``_change_type``) to the view: per-group delta aggregation →
        one MERGE → cleanup DELETE of zero-count groups. Shared by
        :meth:`refresh` (batch window) and :meth:`streaming_sink`
        (one micro-batch at a time).

        MIN/MAX under deletes (Gupta & Mumick's re-derive-affected-
        groups completion): insert-polarity rows LEAST/GREATEST-merge
        as before; when a delete-polarity row's value TIES the stored
        extremum of its group, ONLY those affected groups re-aggregate
        their extrema from the base table (semi-join on the group keys
        — the filter pushes to the scan, so the cost is O(affected
        groups), never O(table)). ``base_version`` pins the re-scan to
        the window end (refresh passes it); the streaming sink reads
        the current base — a racing commit's effect is re-applied by
        its own later window, converging (at-least-once, like the
        marker protocol). HLL-NDV views still refuse deletes (register
        sketches cannot forget)."""
        d = self._load()
        group_cols, sum_cols = d["group_cols"], d["sum_cols"]
        minmax_cols = d.get("minmax_cols") or []
        ndv_cols = d.get("ndv_cols") or []
        # r15 (guide §1.2): the null-key guard and the change-type
        # guard used to be two extra full scans of the change batch
        # BEFORE the delta aggregation — under foreachBatch each scan
        # re-executes the streaming source's CDC read. Both guards now
        # ride the delta aggregate (per-group tallies, checked from the
        # probe row before anything merges); the raise-before-mutation
        # contract is unchanged, and the failure paths re-scan only to
        # name the offending value.
        allowed = ("insert",) if ndv_cols else tuple(_SIGN)
        sign = F.element_at(
            F.create_map(
                *[y for k, v in _SIGN.items() for y in (F.lit(k), F.lit(v))]
            ),
            F.col("_change_type"),
        )
        ins = F.col("_sign") == 1
        mm_aggs = []
        for c in minmax_cols:
            # extrema merge from INSERT-polarity rows only — added
            # values can only extend a min/max; removed values are
            # handled by the affected-group re-derivation below
            mm_aggs.append(
                F.min(F.when(ins, F.col(c).cast("decimal(18,2)"))).alias(f"min_{c}")
            )
            mm_aggs.append(
                F.max(F.when(ins, F.col(c).cast("decimal(18,2)"))).alias(f"max_{c}")
            )
        for c in ndv_cols:
            sk = F.hll_sketch_agg(F.col(c), F.lit(self.HLL_LG_K))
            mm_aggs.append(sk.alias(f"_sk_{c}"))
            mm_aggs.append(
                F.hll_sketch_estimate(sk).cast("long").alias(f"ndv_{c}")
            )
        changes = changes.withColumn("_sign", sign)
        rm_aggs = []
        for c in minmax_cols:
            # delete-polarity extrema per group, computed in the SAME
            # pass as the deltas (the CDF window scans once, not once
            # per consumer — review finding)
            v = F.when(F.col("_sign") == -1, F.col(c).cast("decimal(18,2)"))
            rm_aggs.append(F.min(v).alias(f"_rm_min_{c}"))
            rm_aggs.append(F.max(v).alias(f"_rm_max_{c}"))
        _extras = ["_n_del", "_n_bad"] + [f"_rm_min_{c}" for c in minmax_cols] + [
            f"_rm_max_{c}" for c in minmax_cols
        ]
        _nullkey = None
        for c in group_cols:
            e = F.col(c).isNull()
            _nullkey = e if _nullkey is None else (_nullkey | e)
        deltas_ext = (
            changes.groupBy(*group_cols)
            .agg(
                F.sum("_sign").cast("long").alias("n_rows"),
                *[
                    F.sum(
                        F.col(c).cast("decimal(18,2)") * F.col("_sign")
                    )
                    .cast("decimal(28,2)")
                    .alias(f"sum_{c}")
                    for c in sum_cols
                ],
                *mm_aggs,
                *rm_aggs,
                # delete presence must be tracked separately from the
                # net count: a group with 3 inserts + 1 delete nets
                # positive yet may still have lost its extremum
                F.sum(F.when(F.col("_sign") == -1, 1).otherwise(0))
                .cast("long")
                .alias("_n_del"),
                # guard tally: rows whose change type the view cannot
                # maintain (checked from the probe before the merge)
                F.sum(
                    F.when(~F.col("_change_type").isin(*allowed), 1).otherwise(0)
                )
                .cast("long")
                .alias("_n_bad"),
            )
            .persist()  # one row per touched group; feeds the probe,
            # the merge, and the re-derivation without re-reading CDF
        )
        # one control-plane job answers "how many groups", "can any
        # count have reached zero" (cleanup is skippable whenever no
        # delta is negative), "did any delete land" (extrema
        # re-derivation is skippable without one), and both guards
        probe = deltas_ext.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n_rows").alias("mn"),
            F.max("_n_del").alias("dl"),
            F.max("_n_bad").alias("bad"),
            F.max(F.when(_nullkey, 1).otherwise(0)).alias("nullkey"),
        ).first()
        if int(probe["bad"] or 0) > 0:
            deltas_ext.unpersist()
            bad = (
                changes.filter(~F.col("_change_type").isin(*allowed))
                .select("_change_type")
                .limit(1)
                .collect()
            )
            hint = (
                "HLL-NDV views are insert-only self-maintainable "
                "(register sketches cannot forget) — refresh(full=True) "
                "instead"
                if ndv_cols
                else "full-refresh instead"
            )
            raise ValueError(
                f"change feed carries unmaintainable change type "
                f"{bad[0][0]!r} — {hint}"
            )
        if int(probe["nullkey"] or 0) > 0:
            deltas_ext.unpersist()
            raise ValueError(
                "change feed contains NULL group keys — the MERGE-based "
                "incremental maintenance joins on key equality; model "
                "missing keys as a sentinel value instead"
            )
        deltas = deltas_ext.drop(*_extras)
        touched = int(probe["n"])
        if touched == 0:
            deltas_ext.unpersist()
            return {"groups_touched": 0, "groups_dropped": 0}
        has_deletes = int(probe["dl"]) > 0
        updates = {"n_rows": "t.n_rows + s.n_rows"}
        for c in sum_cols:
            updates[f"sum_{c}"] = (
                f"CAST(COALESCE(t.sum_{c}, 0) + COALESCE(s.sum_{c}, 0) "
                "AS DECIMAL(28,2))"
            )
        for c in minmax_cols:
            updates[f"min_{c}"] = f"LEAST(t.min_{c}, s.min_{c})"
            updates[f"max_{c}"] = f"GREATEST(t.max_{c}, s.max_{c})"
        for c in ndv_cols:
            # register-max merge of the stored sketch with the delta's;
            # the denormalized estimate re-derives from the merged state
            updates[f"_sk_{c}"] = f"hll_union(t._sk_{c}, s._sk_{c})"
            updates[f"ndv_{c}"] = (
                f"CAST(hll_sketch_estimate(hll_union(t._sk_{c}, s._sk_{c})) AS BIGINT)"
            )
        self.table.merge(
            deltas,
            on=list(group_cols),
            matched_update=updates,
            when_not_matched_insert_all=True,
        )
        rederived = 0
        if minmax_cols and has_deletes:
            removed = deltas_ext.filter(F.col("_n_del") > 0).select(
                *group_cols,
                *[F.col(f"_rm_min_{c}") for c in minmax_cols],
                *[F.col(f"_rm_max_{c}") for c in minmax_cols],
            )
            rederived = self._rederive_minmax(
                removed, group_cols, minmax_cols, base_version
            )
        # a zero NET delta still matters: a batch bundling a group's
        # insert AND delete merges in an n_rows=0 row — cleanup must
        # run unless every delta is strictly positive
        dropped = (
            self.table.delete("n_rows = 0")["rows_deleted"]
            if int(probe["mn"]) <= 0
            else 0
        )
        deltas_ext.unpersist()
        out = {"groups_touched": touched, "groups_dropped": dropped}
        if minmax_cols:
            out["groups_rederived"] = rederived
        return out

    def _rederive_minmax(
        self,
        removed: DataFrame,
        group_cols: list[str],
        minmax_cols: list[str],
        base_version: int | None,
    ) -> int:
        """Gupta & Mumick's affected-group re-derivation: a group needs
        its extrema re-scanned ONLY if a removed value ties-or-beats
        the group's stored (post-merge) extremum — otherwise the stored
        value provably survives. ``removed`` carries each delete-
        bearing group's removed-value extrema (aggregated in the same
        pass as the deltas). Affected groups re-aggregate from the
        base table behind a broadcast semi-join on the group keys (the
        predicate reaches the scan; O(affected groups), not O(table))
        and MERGE back. Groups left empty keep stale extrema for one
        instant and are dropped by the n_rows=0 cleanup that follows.
        Returns the number of re-derived groups."""
        view_now = self.table.read()
        cond = None
        for c in minmax_cols:
            e = (F.col(f"_rm_min_{c}") <= F.col(f"min_{c}")) | (
                F.col(f"_rm_max_{c}") >= F.col(f"max_{c}")
            )
            cond = e if cond is None else (cond | e)
        affected = (
            removed.join(
                view_now.select(
                    *group_cols,
                    *[F.col(f"min_{c}") for c in minmax_cols],
                    *[F.col(f"max_{c}") for c in minmax_cols],
                ),
                on=group_cols,
                how="inner",
            )
            .filter(cond)
            .select(*group_cols)
        )
        base_at = (
            self._base_read_at(base_version)
            if base_version is not None
            else self.base.read()
        )
        reagg = (
            base_at.join(F.broadcast(affected), on=group_cols, how="left_semi")
            .groupBy(*group_cols)
            .agg(
                *[
                    a
                    for c in minmax_cols
                    for a in (
                        F.min(F.col(c).cast("decimal(18,2)")).alias(f"_new_min_{c}"),
                        F.max(F.col(c).cast("decimal(18,2)")).alias(f"_new_max_{c}"),
                    )
                ]
            )
        )
        replaced = {f"min_{c}" for c in minmax_cols} | {
            f"max_{c}" for c in minmax_cols
        }
        corrected = view_now.join(
            F.broadcast(reagg), on=group_cols, how="inner"
        ).select(
            *[
                F.col(f"_new_{name}").alias(name)
                if name in replaced
                else F.col(name)
                for name in view_now.columns
            ]
        ).persist()  # feeds both the count and the merge
        n = corrected.count()
        if n:
            self.table.merge(
                corrected,
                on=list(group_cols),
                when_matched_update_all=True,
                when_not_matched_insert_all=False,
            )
        corrected.unpersist()
        return n

    def streaming_sink(self):
        """A ``foreachBatch`` function continuously maintaining this
        view from a STREAMING change feed
        (``read_delta_stream(..., read_change_feed=True)``) — the
        DLT-shaped "live table". Exactly-once via the standard
        idempotent-sink recipe: the applied batch id is recorded in
        the marker file, and a replayed micro-batch (restart between
        sink-commit and checkpoint-commit) is skipped."""

        def apply(bdf: DataFrame, batch_id: int) -> None:
            d = self._load()
            if int(batch_id) <= int(d.get("last_batch_id", -1)):
                return  # checkpoint replay: already applied
            self.apply_changes(bdf)
            d2 = self._load()
            self._save({**d2, "last_batch_id": int(batch_id)})

        return apply


class MaterializedJoinView:
    """An incrementally-maintained INNER-JOIN view — the second
    Gupta & Mumick view class beside :class:`MaterializedAggView`'s
    aggregates: ``V = A ⋈ B`` on shared join-key columns, stored as a
    Delta table keyed by the two sides' PRIMARY KEYS, refreshed with
    the delta rule

        ΔV = ΔA ⋈ B_new  ∪  (A_new ∖ ΔA) ⋈ ΔB

    (the ΔA⋈ΔB pairs land exactly once, in the first term). Updates
    and join-key changes are handled uniformly: every pk TOUCHED by
    the window first drops all its pairs (the new WHEN MATCHED THEN
    DELETE merge clause, one per side), then the pks whose FINAL state
    in the window is a live row re-derive their pairs fresh. Final
    state per pk resolves by (_commit_version, postimage-over-
    preimage), so insert→delete inside one window nets to absence and
    delete→reinsert to presence.

    Refresh cost is O(|Δ| ⋈ matched): the Δ sides are small and
    broadcast into the two re-derivation joins; the base tables are
    each scanned once with the join keys pushed down — at 100 TB the
    difference between a nightly join recompute and a seconds-long
    tick, same as the aggregate view. Requires a PRIMARY KEY column on
    each side (pair identity) and CDF enabled on both bases.

    Recovery contract matches :class:`MaterializedAggView`: the marker
    records both consumed base versions AFTER the merge commits
    (at-least-once; the pair-keyed MERGE/DELETE maintenance is
    idempotent per window, so a replayed window converges)."""

    MARKER = "_mjv.json"

    def __init__(self, spark: SparkSession, base_a, base_b, dest: str):
        self.spark = spark
        self.base_a = base_a
        self.base_b = base_b
        self.dest = dest
        self.table = DeltaLogTable(spark, dest)

    # ---------------------------------------------------------- state

    def _marker_path(self) -> str:
        return os.path.join(self.dest, self.MARKER)

    def _load(self) -> dict:
        with open(self._marker_path()) as fh:
            return json.load(fh)

    def _save(self, d: dict) -> None:
        tmp = self._marker_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(d, fh)
        os.replace(tmp, self._marker_path())

    # -------------------------------------------------------- compute

    def _table_bytes(self) -> int:
        """Total data bytes of the view table (metadata-only: summed
        add-action sizes)."""
        adds, _schema, _pc, _meta = self.table._snapshot()
        return sum(int(i.get("size") or 0) for i in adds.values())

    def _select_side(self, df: DataFrame, pk: str, on: list[str], cols: list[str]) -> DataFrame:
        return df.select(pk, *on, *cols)

    def _join(self, a: DataFrame, b: DataFrame, on: list[str]) -> DataFrame:
        return a.join(b, on=on, how="inner")

    def create(
        self,
        on: list[str],
        a_pk: str,
        b_pk: str,
        a_cols: list[str],
        b_cols: list[str],
    ) -> dict:
        """Full initial join at both bases' current versions (pinned,
        like the aggregate view, so a racing commit is not double
        counted). Column names outside the join keys must be disjoint
        across the two sides (the view stores them flat)."""
        va = int(self.base_a.latest_version())
        vb = int(self.base_b.latest_version())
        a = self._select_side(self.base_a.read(version_as_of=va), a_pk, on, a_cols)
        b = self._select_side(self.base_b.read(version_as_of=vb), b_pk, on, b_cols)
        clash = (set(a.columns) & set(b.columns)) - set(on)
        if clash:
            raise ValueError(f"non-key columns collide across sides: {sorted(clash)}")
        mv = self._join(a, b, on)
        os.makedirs(self.dest, exist_ok=True)
        self.table.write(mv, mode="overwrite")
        # Cluster the view on the A-side pk (VERDICT r11 item 2):
        # OPTIMIZE range-partitions + sorts the WRITTEN files (one
        # re-read — never a recompute of the join, which a
        # repartitionByRange before the write would sample-execute
        # twice), so every file covers a tight disjoint a_pk range and
        # the touched-pk delete-MERGE in refresh()/apply_side_changes()
        # prunes to O(touched files) via merge-key data skipping
        # instead of re-scanning the whole view per maintenance tick.
        # The clustering DECLARATION always lands (one metadata
        # commit); the physical rewrite only runs once the view is big
        # enough for per-tick scans to dominate the one-time rewrite —
        # below the gate a full view scan is already trivial, and a
        # later bare optimize() establishes the layout when it grows.
        self.table.set_clustering([a_pk])
        if self._table_bytes() >= CLUSTER_REWRITE_MIN_BYTES:
            self.table.optimize()
        n_pairs = self.table.read().count()  # count the WRITTEN table, not a join re-run
        # a FULL-refresh replay of create() must not drop the streaming
        # sinks' exactly-once state: carry applied-batch ids forward
        carry = {}
        try:
            carry = {
                k: v for k, v in self._load().items() if k.startswith("last_batch_id")
            }
        except (OSError, ValueError):
            pass
        self._save(
            {
                **carry,
                "base_a_path": self.base_a.path,
                "base_b_path": self.base_b.path,
                "on": list(on),
                "a_pk": a_pk,
                "b_pk": b_pk,
                "a_cols": list(a_cols),
                "b_cols": list(b_cols),
                "va": va,
                "vb": vb,
            }
        )
        return {"pairs": n_pairs, "va": va, "vb": vb}

    def read(self) -> DataFrame:
        return self.table.read()

    @staticmethod
    def _final_state(changes: DataFrame, pk: str) -> DataFrame:
        """Collapse a CDF window to each pk's LAST state: highest
        _commit_version wins; within one version a postimage/insert
        outranks its preimage/delete sibling."""
        from pyspark.sql import Window as W

        pri = F.when(
            F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
        ).otherwise(F.lit(0))
        return (
            changes.withColumn("_pri", pri)
            .withColumn(
                "_rn",
                F.row_number().over(
                    W.partitionBy(pk).orderBy(F.desc("_commit_version"), F.desc("_pri"))
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_pri")
        )

    def _side_window(self, base, v0: int, v1: int, pk: str, on: list[str], cols: list[str]):
        """(touched_pks, final_live_rows, persisted window) for one
        side's CDF window — the caller unpersists the window once the
        maintenance tick committed."""
        if v1 <= v0:
            return None, None, None
        # the window feeds the touched-pk distinct (evaluated again by
        # the maintenance merge's attribution + kept-rows anti-join)
        # AND the final-state collapse — persist so the CDF read (log
        # replay + change-file scan) runs once per side, not once per
        # consumer (r14)
        ch = base.read_changes(v0 + 1, v1).select(
            pk, *on, *cols, "_change_type", "_commit_version"
        ).persist()
        touched = ch.select(pk).distinct()
        live = (
            self._final_state(ch, pk)
            .filter(F.col("_change_type").isin("insert", "update_postimage"))
            .select(pk, *on, *cols)
        )
        return touched, live, ch

    def refresh(self) -> dict:
        d = self._load()
        on, a_pk, b_pk = d["on"], d["a_pk"], d["b_pk"]
        a_cols, b_cols = d["a_cols"], d["b_cols"]
        va0, vb0 = int(d["va"]), int(d["vb"])
        va1 = int(self.base_a.latest_version())
        vb1 = int(self.base_b.latest_version())
        touched_a, live_a, ch_a = self._side_window(self.base_a, va0, va1, a_pk, on, a_cols)
        touched_b, live_b, ch_b = self._side_window(self.base_b, vb0, vb1, b_pk, on, b_cols)
        if touched_a is None and touched_b is None:
            return {"files_rewritten": 0, "pairs_inserted": 0, "va": va1, "vb": vb1}
        inserts = []
        if live_a is not None:
            b_now = self._select_side(
                self.base_b.read(version_as_of=vb1), b_pk, on, b_cols
            )
            inserts.append(self._join(F.broadcast(live_a), b_now, on))
        if live_b is not None:
            a_now = self._select_side(
                self.base_a.read(version_as_of=va1), a_pk, on, a_cols
            )
            if touched_a is not None:
                a_now = a_now.join(touched_a, on=[a_pk], how="left_anti")
            inserts.append(self._join(a_now, F.broadcast(live_b), on))
        fresh = None
        if inserts:
            fresh = inserts[0]
            for p in inserts[1:]:
                fresh = fresh.unionByName(p)
            # persist: the re-derivation joins feed BOTH the emptiness
            # count and the append — without it they execute twice
            fresh = fresh.select(*self.table.read().columns).persist()

        def _merges() -> int:
            deleted = 0
            for pk, touched in ((a_pk, touched_a), (b_pk, touched_b)):
                if touched is not None:
                    deleted += self.table.merge(
                        touched,
                        on=[pk],
                        when_matched_update_all=False,
                        when_not_matched_insert_all=False,
                        matched_delete=True,
                    )["files_rewritten"]
            return deleted

        # the re-derivation joins read the window + the version-pinned
        # bases, never the view table — materialize them while the
        # touched-pk delete-merges commit (serial among themselves on
        # the view's version chain); the append still lands strictly
        # after both merges.
        n_ins = 0
        try:
            if fresh is not None:
                n_ins, deleted = run_concurrently(self.spark, fresh.count, _merges)
                if n_ins:
                    self.table.write(fresh, mode="append")
            else:
                deleted = _merges()
        finally:
            for df in (fresh, ch_a, ch_b):
                if df is not None:
                    df.unpersist()
        self._save({**d, "va": va1, "vb": vb1})
        return {
            "files_rewritten": deleted,
            "pairs_inserted": n_ins,
            "va": va1,
            "vb": vb1,
        }

    def apply_side_changes(self, changes: DataFrame, side: str) -> dict:
        """Apply one batch of CDF-shaped rows from ONE base (``side``
        in {'a','b'}) while the other side is read at its current
        version — the streaming fact-feed / slowly-read-dimension
        shape. Same maintenance algebra as :meth:`refresh`: touched
        pks drop all their pairs (WHEN MATCHED THEN DELETE), final
        live rows re-derive theirs against the other side."""
        d = self._load()
        on = d["on"]
        if side == "a":
            pk, cols = d["a_pk"], d["a_cols"]
            other = self.base_b.read()
            opk, ocols = d["b_pk"], d["b_cols"]
        else:
            pk, cols = d["b_pk"], d["b_cols"]
            other = self.base_a.read()
            opk, ocols = d["a_pk"], d["a_cols"]
        # same one-persisted-window shape as refresh(): touched feeds
        # the maintenance merge's attribution + kept-rows anti-join,
        # live the re-derivation join — one batch-plan evaluation, not
        # one per consumer (r14)
        ch = changes.select(
            pk, *on, *cols, "_change_type", "_commit_version"
        ).persist()
        touched = ch.select(pk).distinct()
        live = (
            self._final_state(ch, pk)
            .filter(F.col("_change_type").isin("insert", "update_postimage"))
            .select(pk, *on, *cols)
        )
        fresh = (
            self._join(F.broadcast(live), self._select_side(other, opk, on, ocols), on)
            .select(*self.table.read().columns)
            .persist()  # feeds both the count and the append
        )
        # the re-derivation join materializes from the batch + the
        # OTHER base while the touched-pk delete-merge commits to the
        # view table — independent inputs, so the two jobs overlap;
        # the append still lands strictly after the merge's commit
        # (same version chain, serial by contract).
        try:
            n_ins, deleted = run_concurrently(
                self.spark,
                fresh.count,
                lambda: self.table.merge(
                    touched,
                    on=[pk],
                    when_matched_update_all=False,
                    when_not_matched_insert_all=False,
                    matched_delete=True,
                )["files_rewritten"],
            )
            if n_ins:
                self.table.write(fresh, mode="append")
        finally:
            fresh.unpersist()
            ch.unpersist()
        return {"files_rewritten": deleted, "pairs_inserted": n_ins}

    def streaming_sink(self, side: str):
        """A ``foreachBatch`` function continuously maintaining this
        join view from ONE base's STREAMING change feed
        (``read_delta_stream(..., read_change_feed=True)``) — the live
        fact-join-dimension table. Exactly-once via the engine's
        idempotent-sink recipe (applied batch id in the marker file;
        checkpoint replays are skipped). Do not mix with batch
        :meth:`refresh` windows for the same side — pick one driver
        per side."""
        if side not in ("a", "b"):
            raise ValueError("side must be 'a' or 'b'")

        def apply(bdf: DataFrame, batch_id: int) -> None:
            d = self._load()
            key = f"last_batch_id_{side}"
            if int(batch_id) <= int(d.get(key, -1)):
                return  # checkpoint replay: already applied
            self.apply_side_changes(bdf, side)
            d2 = self._load()
            self._save({**d2, key: int(batch_id)})

        return apply
