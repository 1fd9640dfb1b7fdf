"""MaterializedJoinView maintenance edge cases (the delta-rule join
view, q374): window netting (insert→delete = absence, delete→reinsert
= presence), join-key-changing updates moving pairs between partners,
and multi-refresh convergence to the recompute."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


@pytest.fixture()
def mjv(spark, tmp_path):
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable
    from ent_fins_lakehouse_spark.sources.matview import MaterializedJoinView

    a = DeltaLogTable(spark, str(tmp_path / "a"))
    a.write(
        spark.createDataFrame(
            [(1, 10, 100.0), (2, 20, 200.0), (3, 10, 300.0)],
            "a_id LONG, k LONG, val DOUBLE",
        ).coalesce(1),
        mode="overwrite",
    )
    a.set_property("delta.enableChangeDataFeed", "true")
    b = DeltaLogTable(spark, str(tmp_path / "b"))
    b.write(
        spark.createDataFrame(
            [(10, "x"), (20, "y"), (30, "z")], "k LONG, tag STRING"
        ).coalesce(1),
        mode="overwrite",
    )
    b.set_property("delta.enableChangeDataFeed", "true")
    mv = MaterializedJoinView(spark, a, b, str(tmp_path / "v"))
    mv.create(on=["k"], a_pk="a_id", b_pk="k", a_cols=["val"], b_cols=["tag"])
    return a, b, mv


def _pairs(mv):
    return {(r["a_id"], r["k"]) for r in mv.read().collect()}


def _assert_converged(a, b, mv):
    got = mv.read()
    want = a.read().join(b.read(), on=["k"], how="inner").select(*got.columns)
    assert got.exceptAll(want).unionByName(want.exceptAll(got)).count() == 0


def test_initial_join_and_noop_refresh(mjv):
    a, b, mv = mjv
    assert _pairs(mv) == {(1, 10), (3, 10), (2, 20)}
    out = mv.refresh()
    assert out["pairs_inserted"] == 0
    _assert_converged(a, b, mv)


def test_insert_then_delete_nets_to_absence(spark, mjv):
    a, b, mv = mjv
    a.write(
        spark.createDataFrame([(9, 10, 900.0)], "a_id LONG, k LONG, val DOUBLE").coalesce(1),
        mode="append",
    )
    a.delete("a_id = 9")
    mv.refresh()
    assert (9, 10) not in _pairs(mv)
    _assert_converged(a, b, mv)


def test_delete_then_reinsert_nets_to_presence(spark, mjv):
    a, b, mv = mjv
    a.delete("a_id = 1")
    a.write(
        spark.createDataFrame([(1, 20, 111.0)], "a_id LONG, k LONG, val DOUBLE").coalesce(1),
        mode="append",
    )
    mv.refresh()
    pairs = _pairs(mv)
    assert (1, 10) not in pairs and (1, 20) in pairs
    _assert_converged(a, b, mv)


def test_join_key_change_moves_pairs(spark, mjv):
    a, b, mv = mjv
    a.update({"k": "30"}, "a_id = 2")  # 2 leaves partner 20, joins 30
    mv.refresh()
    pairs = _pairs(mv)
    assert (2, 20) not in pairs and (2, 30) in pairs
    _assert_converged(a, b, mv)


def test_b_side_delete_and_update_propagate(spark, mjv):
    a, b, mv = mjv
    b.delete("k = 10")  # drops pairs for a_ids 1 and 3
    b.update({"tag": "'Y'"}, "k = 20")
    mv.refresh()
    rows = {r["a_id"]: r["tag"] for r in mv.read().collect()}
    assert rows == {2: "Y"}
    _assert_converged(a, b, mv)


def test_two_windows_sequential_refreshes(spark, mjv):
    a, b, mv = mjv
    a.write(
        spark.createDataFrame([(4, 30, 400.0)], "a_id LONG, k LONG, val DOUBLE").coalesce(1),
        mode="append",
    )
    mv.refresh()
    assert (4, 30) in _pairs(mv)
    b.delete("k = 30")
    a.update({"val": "val + 1"}, "a_id = 1")
    mv.refresh()
    assert (4, 30) not in _pairs(mv)
    assert {r["val"] for r in mv.read().filter("a_id = 1").collect()} == {101.0}
    _assert_converged(a, b, mv)


def test_streaming_side_sink_replay_is_noop(spark, mjv):
    """streaming_sink('a'): a replayed micro-batch (stale batch id)
    must be skipped — the exactly-once recipe shared with the
    aggregate view's sink."""
    a, b, mv = mjv
    v0 = a.latest_version()
    a.write(
        spark.createDataFrame([(7, 10, 700.0)], "a_id LONG, k LONG, val DOUBLE").coalesce(1),
        mode="append",
    )
    batch = a.read_changes(v0 + 1)
    sink = mv.streaming_sink("a")
    sink(batch, 0)
    state = {tuple(r) for r in mv.read().collect()}
    assert (7, 10) in {(r["a_id"], r["k"]) for r in mv.read().collect()}
    sink(batch, 0)  # replay: must be a no-op
    assert {tuple(r) for r in mv.read().collect()} == state
    _assert_converged(a, b, mv)


def test_refresh_and_side_changes_jobs_stay_in_caller_group(spark, mjv):
    """Both maintenance verbs count the re-derived pairs while the
    delete-merge commits; every job of either verb runs inside the
    caller's job group, and neither leaves a persisted frame behind."""
    a, b, mv = mjv
    sc = spark.sparkContext
    st = sc.statusTracker()
    jsc = sc._jsc
    n0 = jsc.getPersistentRDDs().size()

    def in_group(group, fn):
        ungrouped0 = set(st.getJobIdsForGroup(None))
        sc.setJobGroup(group, "join view maintenance")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert st.getJobIdsForGroup(group), group
        # only NEW ids count: the status store evicts its oldest jobs
        assert not set(st.getJobIdsForGroup(None)) - ungrouped0, group

    a.write(
        spark.createDataFrame([(4, 20, 400.0)], "a_id LONG, k LONG, val DOUBLE").coalesce(1),
        mode="append",
    )
    in_group("mv-refresh", mv.refresh)
    assert (4, 20) in _pairs(mv)
    v0 = a.latest_version()
    a.update({"k": "30"}, "a_id = 4")
    batch = a.read_changes(v0 + 1)
    in_group("mv-side", lambda: mv.apply_side_changes(batch, "a"))
    pairs = _pairs(mv)
    assert (4, 20) not in pairs and (4, 30) in pairs
    _assert_converged(a, b, mv)
    assert jsc.getPersistentRDDs().size() == n0
