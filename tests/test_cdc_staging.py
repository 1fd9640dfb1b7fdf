"""Focused pins for the r14 cdc-staging fusion (one explode pass).

UPDATE and MERGE (explicit update map) now emit the change-feed
pre/post pair via ONE explode-of-structs pass instead of a two-branch
union. These tests pin the observable contract of that rewrite:

- the pre/post images are exactly the rows the verb touched (multiset
  equality per image, values included — row ORDER inside cdc files is
  deliberately unpinned: the spec orders nothing);
- the staging job writes ONE cdc file for a single-split touched set
  (the union form wrote one per branch — the fused pass's file-count
  signature);
- every preimage row has its postimage twin (pairing survives the
  interleaved layout).
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable


def _cdc_actions(dl: DeltaLogTable, version: int) -> list[dict]:
    with open(os.path.join(dl.log_path, f"{version:020d}.json")) as fh:
        acts = [json.loads(line) for line in fh if line.strip()]
    return [a["cdc"] for a in acts if "cdc" in a]


@pytest.fixture()
def cdf_table(spark, tmp_path):
    td = str(tmp_path / "cdcfuse")
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)],
        "id BIGINT, grp BIGINT, bal DOUBLE",
    )
    dl = DeltaLogTable(spark, td)
    # one data file => the touched-file subset is one scan split
    dl.write(df.coalesce(1), mode="append")
    dl.set_property("delta.enableChangeDataFeed", "true")
    return dl


def test_update_cdc_pair_multisets_and_single_file(spark, cdf_table):
    dl = cdf_table
    v = dl.latest_version() + 1
    res = dl.update({"bal": "bal + 100.0"}, "grp = 1")
    assert res["rows_updated"] == 10

    cdc = _cdc_actions(dl, v)
    # fused staging: one cdc file for a one-split touched set (the
    # two-branch union wrote one file per branch). NOTE (ADVICE r14):
    # this pins the FUSION SIGNATURE and assumes narrow ops preserve
    # the single input split through the explode — a planner or
    # partitioning change could alter the physical file count without
    # breaking the cdc contract; if it fires spuriously, weaken to
    # `<= 2` (the pre-fusion branch count) rather than chasing splits.
    assert len(cdc) == 1, cdc

    ch = dl.read_changes(v, v)
    pre = sorted(
        (r["id"], r["bal"]) for r in ch.filter("_change_type = 'update_preimage'").collect()
    )
    post = sorted(
        (r["id"], r["bal"]) for r in ch.filter("_change_type = 'update_postimage'").collect()
    )
    want_pre = sorted((i, float(i)) for i in range(30) if i % 3 == 1)
    want_post = sorted((i, float(i) + 100.0) for i in range(30) if i % 3 == 1)
    assert pre == want_pre
    assert post == want_post


def test_merge_update_clause_cdc_pairing(spark, cdf_table):
    dl = cdf_table
    src = spark.createDataFrame(
        [(i, 0, 1000.0 + i) for i in range(0, 30, 5)],
        "id BIGINT, grp BIGINT, bal DOUBLE",
    )
    v = dl.latest_version() + 1
    dl.merge(
        src,
        on=["id"],
        matched_update={"bal": "s.bal"},
        when_not_matched_insert_all=False,
    )
    ch = dl.read_changes(v, v)
    pre = sorted(
        (r["id"], r["bal"]) for r in ch.filter("_change_type = 'update_preimage'").collect()
    )
    post = sorted(
        (r["id"], r["bal"]) for r in ch.filter("_change_type = 'update_postimage'").collect()
    )
    assert pre == sorted((i, float(i)) for i in range(0, 30, 5))
    assert post == sorted((i, 1000.0 + i) for i in range(0, 30, 5))
    # every preimage has its postimage twin on the same key
    assert [p[0] for p in pre] == [p[0] for p in post]


@pytest.mark.parametrize("verb", ["update", "merge"])
def test_failed_cdc_staging_leaves_no_files_or_version(spark, cdf_table, monkeypatch, verb):
    """A CDF UPDATE or MERGE stages its cdc files and data files side by
    side; when the cdc side raises, the data files the other side
    already moved into the table root are removed, nothing lands in
    ``_change_data/``, and no log version is written."""
    dl = cdf_table

    def files() -> set[str]:
        return {
            os.path.join(d, f)
            for d, _, fs in os.walk(dl.path)
            if not d.startswith(dl.log_path)
            for f in fs
        }

    def failing_cdc(self, *args, **kwargs):
        raise RuntimeError("cdc staging failed")

    before, v0 = files(), dl.latest_version()
    monkeypatch.setattr(DeltaLogTable, "_stage_cdc", failing_cdc)
    with pytest.raises(RuntimeError, match="cdc staging failed"):
        if verb == "update":
            dl.update({"bal": "bal + 1.0"}, "grp = 1")
        else:
            src = spark.createDataFrame(
                [(1, 0, 5.0), (99, 0, 9.0)], "id BIGINT, grp BIGINT, bal DOUBLE"
            )
            dl.merge(src, on=["id"])
    monkeypatch.undo()
    assert files() == before
    assert dl.latest_version() == v0
    assert dl.read().count() == 30
