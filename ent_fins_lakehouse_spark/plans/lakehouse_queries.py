"""Lakehouse DML/DDL queries for the driver harness (SURVEY.md §2.8).

Each query materializes a scratch LakeTable from driver parquet,
applies the reference's table-management operations (MERGE / DELETE /
INSERT / time travel / OPTIMIZE), and returns the resulting relation;
the oracle states the same end-state in pure SQL. This is the MERGE
matched/not-matched matrix, DELETE row accounting and version reads of
SURVEY §5.3, run differentially instead of as bare asserts.
"""

from __future__ import annotations

import functools
import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ent_fins_lakehouse_spark.plans.checks import multiset_diff_count
from ent_fins_lakehouse_spark.plans.llm_queries import _swap_persist
from ent_fins_lakehouse_spark.plans.registry import query
from ent_fins_lakehouse_spark.session import run_concurrently
from ent_fins_lakehouse_spark.sources.lakehouse import LakeTable
from ent_fins_lakehouse_spark.sources.readers import load_table


def _scratch(prefix: str) -> str:
    return tempfile.mkdtemp(prefix=f"lake_{prefix}_")


@query(
    "q30_lake_merge_upsert",
    oracle="""
    WITH src AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100 AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey <= 50
      UNION ALL
      SELECT c_custkey + 100000, c_name, c_nationkey, c_acctbal,
             'NEWSEGMENT' AS c_mktsegment
      FROM customer WHERE c_custkey <= 20
    )
    SELECT * FROM src
    UNION ALL
    SELECT c.* FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.c_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
    tags=("lakehouse", "merge"),
)
def q30_lake_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE upsert (D7/J1 — `01-Fraud-Delta.py:235-241` WHEN MATCHED
    UPDATE SET * / WHEN NOT MATCHED INSERT *): 50 updated rows + 20
    inserted rows against the customer table."""
    cust = load_table(spark, sf_dir, "customer")
    t = LakeTable(spark, _scratch("merge"))
    t.write(cust, mode="overwrite")
    updates = cust.filter(F.col("c_custkey") <= 50).withColumn("c_acctbal", F.col("c_acctbal") + 100)
    inserts = (
        cust.filter(F.col("c_custkey") <= 20)
        .withColumn("c_custkey", F.col("c_custkey") + 100000)
        .withColumn("c_mktsegment", F.lit("NEWSEGMENT"))
    )
    t.merge(updates.unionByName(inserts), on=["c_custkey"])
    return t.read().orderBy("c_custkey")


@query(
    "q31_lake_delete",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
    FROM orders WHERE NOT (o_orderstatus = 'F')
    ORDER BY o_orderkey
    """,
    tags=("lakehouse", "delete"),
)
def q31_lake_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate DELETE (D5 — the reference's GDPR delete
    `01-Fraud-Delta.py:159`), on a table laid down in multiple data
    dirs so file-level pruning is exercised."""
    orders = load_table(spark, sf_dir, "orders")
    t = LakeTable(spark, _scratch("delete"))
    t.write(orders.filter(F.col("o_orderkey") % 2 == 0), mode="overwrite")
    t.write(orders.filter(F.col("o_orderkey") % 2 == 1), mode="append")
    t.delete("o_orderstatus = 'F'")
    return (
        t.read()
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy("o_orderkey")
    )


@query(
    "q32_lake_time_travel",
    oracle="SELECT * FROM customer ORDER BY c_custkey",
    tags=("lakehouse", "timetravel"),
)
def q32_lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel (D8 — DESCRIBE HISTORY / versionAsOf,
    `01-Fraud-Delta.py:214`): after an overwrite and a delete, version 0
    still reads the original data."""
    cust = load_table(spark, sf_dir, "customer")
    t = LakeTable(spark, _scratch("tt"))
    t.write(cust, mode="overwrite")  # v0
    t.write(cust.filter(F.col("c_custkey") <= 10), mode="overwrite")  # v1
    t.delete("c_custkey <= 5")  # v2
    assert t.latest_version() == 2, t.latest_version()
    return t.read(version_as_of=0).orderBy("c_custkey")


@query(
    "q33_lake_insert_values",
    oracle="""
    SELECT * FROM nation
    UNION ALL
    SELECT * FROM (VALUES (900, 'ATLANTIS', 0), (901, 'ELDORADO', 1))
      AS t(n_nationkey, n_name, n_regionkey)
    ORDER BY n_nationkey
    """,
    tags=("lakehouse", "insert"),
)
def q33_lake_insert_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT INTO … VALUES (D6 — the concurrency-demo append loop
    `01-Fraud-Delta.py:185-195`)."""
    nation = load_table(spark, sf_dir, "nation")
    t = LakeTable(spark, _scratch("ins"))
    t.write(nation, mode="overwrite")
    t.insert_values([(900, "ATLANTIS", 0)])
    t.insert_values([(901, "ELDORADO", 1)])
    return t.read().orderBy("n_nationkey")


@query(
    "q34_lake_optimize",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
    FROM lineitem WHERE l_returnflag = 'R'
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("lakehouse", "optimize"),
)
def q34_lake_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE + Z-ORDER stand-in (D11 — compaction & clustering named
    at `01-Fraud-Delta.py:287-290`): many small appends compacted into
    few range-clustered files; data identical after."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag"
    )
    t = LakeTable(spark, _scratch("opt"))
    t.write(li.filter(F.col("l_orderkey") % 3 == 0), mode="overwrite")
    t.write(li.filter(F.col("l_orderkey") % 3 == 1), mode="append")
    t.write(li.filter(F.col("l_orderkey") % 3 == 2), mode="append")
    t.optimize(zorder_by=["l_orderkey"], target_files=4)
    hist_ops = [r["operation"] for r in t.history().collect()]
    assert hist_ops[-1] == "optimize", hist_ops
    return t.read().orderBy("l_orderkey", "l_linenumber")


@query(
    "q35_lake_sql_dml",
    oracle="""
    WITH src AS (
      SELECT s_suppkey, s_name, s_nationkey, s_acctbal + 50 AS s_acctbal
      FROM supplier WHERE s_suppkey <= 5
      UNION ALL
      SELECT s_suppkey + 1000, s_name, s_nationkey, s_acctbal FROM supplier
      WHERE s_suppkey <= 3
    ), merged AS (
      SELECT * FROM src
      UNION ALL
      SELECT t.* FROM supplier t
      WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.s_suppkey = t.s_suppkey)
    )
    SELECT * FROM merged WHERE NOT (s_nationkey = 0)
    ORDER BY s_suppkey
    """,
    tags=("lakehouse", "sql"),
)
def q35_lake_sql_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end SQL DML via the LakehouseSession dispatcher: MERGE
    INTO + DELETE FROM + DESCRIBE HISTORY as SQL strings (EP2 for DML,
    `01-Fraud-Delta.py:159,235-241`)."""
    from ent_fins_lakehouse_spark.sources.catalog import LakehouseSession

    supp = load_table(spark, sf_dir, "supplier")
    lh = LakehouseSession(spark, _scratch("sqlwh"))
    lh.sql("CREATE DATABASE IF NOT EXISTS lending")
    lh.catalog.create_table("lending.silver_suppliers", df=supp)
    updates = supp.filter(F.col("s_suppkey") <= 5).withColumn("s_acctbal", F.col("s_acctbal") + 50)
    inserts = supp.filter(F.col("s_suppkey") <= 3).withColumn("s_suppkey", F.col("s_suppkey") + 1000)
    updates.unionByName(inserts).createOrReplaceTempView("merge_table")
    lh.sql(
        "MERGE INTO lending.silver_suppliers d USING merge_table m ON d.s_suppkey = m.s_suppkey "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    lh.sql("DELETE FROM lending.silver_suppliers WHERE s_nationkey = 0")
    hist = lh.sql("DESCRIBE HISTORY lending.silver_suppliers")
    ops = [r["operation"] for r in hist.collect()]
    # the delete commit only exists if the predicate matched rows
    # (it doesn't at sf0.001 — no supplier in nation 0)
    assert ops[:2] == ["overwrite", "merge"], ops
    return lh.sql("SELECT * FROM lending.silver_suppliers").orderBy("s_suppkey")


def _delta_fixture(spark: SparkSession, df: DataFrame, table_dir: str) -> None:
    """Hand-build an open-source Delta table (3 commits: initial add,
    append, rewrite) — the interop fixture for q134. Uses only the
    public `_delta_log` JSON action format."""
    import glob
    import json
    import shutil
    import uuid

    def stage(part: DataFrame) -> list[str]:
        st = tempfile.mkdtemp()
        part.coalesce(1).write.mode("overwrite").parquet(st)
        names = []
        for f in sorted(glob.glob(os.path.join(st, "part-*.parquet"))):
            name = f"part-{uuid.uuid4().hex}.snappy.parquet"
            shutil.move(f, os.path.join(table_dir, name))
            names.append(name)
        shutil.rmtree(st, ignore_errors=True)
        return names

    def commit(version: int, actions: list[dict]) -> None:
        log = os.path.join(table_dir, "_delta_log")
        os.makedirs(log, exist_ok=True)
        with open(os.path.join(log, f"{version:020d}.json"), "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")

    def add(paths: list[str]) -> list[dict]:
        return [
            {"add": {"path": p, "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}}
            for p in paths
        ]

    os.makedirs(table_dir, exist_ok=True)
    lo = df.filter(F.col("n_nationkey") < 12)
    hi = df.filter(F.col("n_nationkey") >= 12)
    a = stage(lo)
    b = stage(hi)
    c = stage(lo)  # rewrite of a, same rows
    commit(0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "q134", "format": {"provider": "parquet", "options": {}},
                      "schemaString": df.schema.json(), "partitionColumns": [],
                      "configuration": {}, "createdTime": 0}},
        *add(a),
    ])
    commit(1, [{"commitInfo": {"operation": "WRITE"}}, *add(b)])
    commit(2, [
        *[{"remove": {"path": p, "deletionTimestamp": 0, "dataChange": True}} for p in a],
        *add(c),
    ])


@query(
    "q134_delta_log_read",
    oracle="SELECT * FROM nation ORDER BY n_nationkey",
    tags=("lakehouse", "delta", "interop"),
)
def q134_delta_log_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-source `_delta_log` interop (VERDICT r2 item 2): a
    hand-built Delta table — protocol/metaData/add/remove JSON actions
    across three commits, including a file rewrite — read back through
    the read-only shim. Latest snapshot must equal the source table
    bit-for-bit; version 0 time travel sees only the first commit's
    files. Covers tables created like
    `/root/reference/Instructor/01-Fraud-Delta.py:130-134`
    (CREATE TABLE ... USING DELTA LOCATION) without delta-spark."""
    from ent_fins_lakehouse_spark.sources.lakehouse import LakeTable

    nation = load_table(spark, sf_dir, "nation")
    td = _scratch("deltalog")
    _delta_fixture(spark, nation, td)
    dl = LakeTable.from_delta_log(spark, td)
    assert dl.latest_version() == 2
    n_v0 = dl.read(version_as_of=0).count()
    assert n_v0 == nation.filter(F.col("n_nationkey") < 12).count(), n_v0
    return dl.read().orderBy("n_nationkey")


@query(
    "q135_generalized_merge",
    oracle="""
    WITH src AS (
      SELECT s_suppkey, s_name, s_nationkey, s_acctbal + 1000 AS s_acctbal
      FROM supplier WHERE s_suppkey <= 8
      UNION ALL
      SELECT s_suppkey + 2000 AS s_suppkey, s_name, s_nationkey, s_acctbal
      FROM supplier WHERE s_suppkey <= 4
    ),
    matched_upd AS (
      SELECT t.s_suppkey, s.s_name, t.s_nationkey, s.s_acctbal
      FROM supplier t JOIN src s USING (s_suppkey)
      WHERE s.s_acctbal > 5000
    ),
    kept AS (
      SELECT t.* FROM supplier t
      WHERE EXISTS (SELECT 1 FROM src s WHERE s.s_suppkey = t.s_suppkey)
        AND NOT EXISTS (SELECT 1 FROM matched_upd u WHERE u.s_suppkey = t.s_suppkey)
      UNION ALL
      SELECT t.* FROM supplier t
      WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.s_suppkey = t.s_suppkey)
        AND NOT (t.s_nationkey = 3)
    ),
    inserted AS (
      SELECT s.* FROM src s
      WHERE NOT EXISTS (SELECT 1 FROM supplier t WHERE t.s_suppkey = s.s_suppkey)
    )
    SELECT * FROM kept
    UNION ALL SELECT * FROM matched_upd
    UNION ALL SELECT * FROM inserted
    ORDER BY s_suppkey
    """,
    tags=("lakehouse", "merge", "sql"),
)
def q135_generalized_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized MERGE clause set (VERDICT r2 item 7) end-to-end via
    the SQL facade: WHEN MATCHED AND <cond> THEN UPDATE SET c = expr
    (explicit columns — unlisted columns keep target values), WHEN NOT
    MATCHED THEN INSERT *, and WHEN NOT MATCHED BY SOURCE AND <cond>
    THEN DELETE. The reference only exercises SET */INSERT *
    (`01-Fraud-Delta.py:235-241`); this is the first superset shape a
    real lakehouse user reaches for."""
    from ent_fins_lakehouse_spark.sources.catalog import LakehouseSession

    supp = load_table(spark, sf_dir, "supplier")
    lh = LakehouseSession(spark, _scratch("gmerge"))
    lh.sql("CREATE DATABASE IF NOT EXISTS lending")
    lh.catalog.create_table("lending.suppliers", df=supp)
    src = (
        supp.filter(F.col("s_suppkey") <= 8)
        .withColumn("s_acctbal", F.col("s_acctbal") + 1000)
        .unionByName(
            supp.filter(F.col("s_suppkey") <= 4).withColumn(
                "s_suppkey", F.col("s_suppkey") + 2000
            )
        )
    )
    src.createOrReplaceTempView("merge_src")
    lh.sql(
        "MERGE INTO lending.suppliers t USING merge_src m ON t.s_suppkey = m.s_suppkey "
        "WHEN MATCHED AND m.s_acctbal > 5000 THEN UPDATE SET s_acctbal = m.s_acctbal, s_name = m.s_name "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND t.s_nationkey = 3 THEN DELETE"
    )
    return lh.sql("SELECT * FROM lending.suppliers").orderBy("s_suppkey")


@query(
    "q137_schema_widening",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
    UNION ALL
    SELECT CAST(n_nationkey + 1000 AS BIGINT) AS n_nationkey, n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
    ORDER BY n_nationkey
    """,
    tags=("lakehouse", "schema"),
)
def q137_schema_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric type widening on schema evolution (VERDICT r2 item 5 —
    the reference names schema evolution as a capability,
    `01-Fraud-Delta.py:282-284`): v0 written with int32 keys, the
    append arrives with int64 and merge_schema=True widens the
    committed schema along int→long; the pre-evolution int32 parquet
    dirs are then read back through the widened (bigint) schema."""
    nation = load_table(spark, sf_dir, "nation")
    t = LakeTable(spark, _scratch("widen"))
    t.write(
        nation.select(
            F.col("n_nationkey").cast("int").alias("n_nationkey"),
            "n_name",
            F.col("n_regionkey").cast("int").alias("n_regionkey"),
        ),
        mode="overwrite",
    )
    t.write(
        nation.select(
            (F.col("n_nationkey").cast("long") + 1000).alias("n_nationkey"),
            "n_name",
            F.col("n_regionkey").cast("long").alias("n_regionkey"),
        ),
        mode="append",
        merge_schema=True,
    )
    out = t.read()
    types = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert types["n_nationkey"] == "bigint" and types["n_regionkey"] == "bigint", types
    return out.orderBy("n_nationkey")


@query(
    "q136_use_database",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderpriority
    FROM orders WHERE NOT (o_orderstatus = 'P')
    ORDER BY o_orderkey
    """,
    tags=("lakehouse", "sql", "use"),
)
def q136_use_database(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's session flow (`02- Databricks_SQL_Scripts.sql:2-10`):
    SHOW DATABASES → USE lending → SHOW TABLES, then unqualified-name
    DML/SELECT resolving against the current database (VERDICT r2
    'what's missing' #2 — previously unqualified names silently hit
    `default`)."""
    from ent_fins_lakehouse_spark.sources.catalog import LakehouseSession

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    lh = LakehouseSession(spark, _scratch("usewh"))
    lh.sql("CREATE DATABASE IF NOT EXISTS lending")
    lh.catalog.create_table("lending.gold_orders", df=orders)
    dbs = {r["databaseName"] for r in lh.sql("SHOW DATABASES").collect()}
    assert "lending" in dbs, dbs
    lh.sql("USE lending")
    tbls = {r["tableName"] for r in lh.sql("SHOW TABLES").collect()}
    assert tbls == {"gold_orders"}, tbls
    # unqualified names must now resolve to lending.*, not default.*
    lh.sql("DELETE FROM gold_orders WHERE o_orderstatus = 'P'")
    return lh.sql("SELECT * FROM gold_orders").orderBy("o_orderkey")


@query(
    "q47_partition_pruning",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS total_value
    FROM events WHERE event_type IN ('purchase', 'error')
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("lakehouse", "layout"),
)
def q47_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition layout + partition pruning: events written
    ``partitionBy(event_type)``, then a two-partition predicate. The
    scan must list only the two matching directories — the plan is
    asserted to carry the predicate as a PartitionFilter (metadata-
    level pruning, zero data read from other partitions). At 100 TB
    this is the difference between scanning 2/5 and 5/5 of the table."""
    root = _scratch("part")
    src = os.path.join(root, "events_by_type")
    ev = load_table(spark, sf_dir, "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(src)

    back = spark.read.parquet(src).filter(F.col("event_type").isin("purchase", "error"))
    import io, contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters", 1)[1].split("\n", 1)[0], (
        "partition predicate did not reach the scan"
    )
    from ent_fins_lakehouse_spark.functions.numeric import dec as _dec

    return (
        back.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum(_dec("value")).cast("double").alias("total_value"))
        .orderBy("event_type")
    )


@query(
    "q48_bucketed_join",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("lakehouse", "layout", "join"),
)
def q48_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides written ``bucketBy(8,
    key)`` via saveAsTable, joined on the bucket key with broadcast
    disabled — the plan must contain NO shuffle exchange on either
    side (bucket layout satisfies the join's distribution
    requirement). This is the pre-shuffled layout big fact-fact joins
    rely on at 100 TB; asserted on the plan, validated by oracle."""
    import io, contextlib, uuid as _uuid

    sfx = _uuid.uuid4().hex[:8]
    t_orders, t_cust = f"b_orders_{sfx}", f"b_cust_{sfx}"
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    for name, df, key in ((t_orders, orders, "o_custkey"), (t_cust, cust, "c_custkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        df.write.bucketBy(8, key).sortBy(key).format("parquet").saveAsTable(name)
    # NOTE: the bucketed tables must outlive the returned (lazy)
    # DataFrame; unique names per run keep re-entry safe.
    bo, bc = spark.table(t_orders), spark.table(t_cust)
    joined = bo.hint("merge").join(bc, bo["o_custkey"] == bc["c_custkey"])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange hashpartitioning" not in plan, "bucketed join still shuffles"
    from ent_fins_lakehouse_spark.functions.numeric import dec as _dec

    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec("o_totalprice", 2)).cast("double").alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q95_lake_change_feed",
    oracle="""
    WITH appended AS (
      SELECT s_suppkey + 100000 AS s_suppkey, s_name, s_nationkey, s_acctbal
      FROM supplier WHERE s_suppkey <= 20
    ),
    v1 AS (SELECT * FROM supplier UNION ALL SELECT * FROM appended)
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
           'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
    FROM appended
    UNION ALL
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
           'delete' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
    FROM v1 WHERE s_acctbal < 0
    ORDER BY _commit_version, _change_type, s_suppkey
    """,
    tags=("lakehouse", "cdf"),
)
def q95_lake_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed (Delta CDF shape): v0 load, v1 append, v2
    predicate delete, then read_changes(1, 2) — appends come off the
    fast path (read only the added dirs), the delete off the
    snapshot-diff path; every row tagged (_change_type,
    _commit_version). The CDC-consumer contract: downstream incremental
    pipelines replay exactly these rows instead of re-reading the
    table."""
    supp = load_table(spark, sf_dir, "supplier")
    t = LakeTable(spark, _scratch("cdf"))
    t.write(supp, mode="overwrite")  # v0
    t.write(
        supp.filter(F.col("s_suppkey") <= 20).withColumn(
            "s_suppkey", F.col("s_suppkey") + 100000
        ),
        mode="append",
    )  # v1
    t.delete("s_acctbal < 0")  # v2
    return (
        t.read_changes(1, 2)
        .withColumn("_commit_version", F.col("_commit_version").cast("long"))
        .orderBy("_commit_version", "_change_type", "s_suppkey")
    )


@query(
    "q104_lake_vacuum",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38, 4))) AS DOUBLE) AS total
    FROM orders
    WHERE NOT (o_orderstatus = 'P')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("lakehouse", "vacuum"),
)
def q104_lake_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM after DELETE + OPTIMIZE (D11 — `01-Fraud-Delta.py:287-290`
    names file compaction; Delta VACUUM is its cleanup half): physically
    drop every data directory the current snapshot no longer
    references, then prove the table still answers queries identically.
    The vacuum removes the pre-delete and pre-compaction dirs (history
    reads are gone by design, like Delta retention-0 VACUUM); the live
    snapshot is untouched."""
    orders = load_table(spark, sf_dir, "orders")
    t = LakeTable(spark, _scratch("vacuum"))
    t.write(orders, mode="overwrite")
    t.delete("o_orderstatus = 'P'")
    t.optimize(target_files=4)
    removed = t.vacuum()
    assert removed > 0, "vacuum should drop superseded dirs"
    # time travel to v0 must now fail fast (files gone), latest must not
    return (
        t.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(38,4)")).cast("double").alias("total"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q111_lake_clone",
    oracle="""
    WITH clone_state AS (
      SELECT * FROM customer WHERE NOT (c_mktsegment = 'BUILDING')
    )
    SELECT 'clone' AS side, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM clone_state GROUP BY c_mktsegment
    UNION ALL
    SELECT 'source' AS side, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM customer GROUP BY c_mktsegment
    ORDER BY side, c_mktsegment
    """,
    tags=("lakehouse", "clone"),
)
def q111_lake_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow CLONE independence: clone the customer table by
    metadata reference (zero data copy — Delta shallow-clone
    semantics), DELETE a segment from the clone, and prove the clone
    diverged while the source is byte-identical to its original state.
    The clone's delete rewrites only clone-owned dirs; source dirs are
    referenced read-only by absolute path."""
    cust = load_table(spark, sf_dir, "customer")
    root = _scratch("clone")
    src = LakeTable(spark, os.path.join(root, "src")).write(cust, mode="overwrite")
    clone = src.clone(os.path.join(root, "clone"), shallow=True)
    clone.delete("c_mktsegment = 'BUILDING'")
    both = clone.read().withColumn("side", F.lit("clone")).unionByName(
        src.read().withColumn("side", F.lit("source"))
    )
    return (
        both.groupBy("side", "c_mktsegment")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("side", "c_mktsegment")
    )


@query(
    "q140_incremental_rollup",
    oracle="""
    SELECT event_type,
           STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY event_type, hour_start
    """,
    tags=("lakehouse", "rollup", "merge"),
)
def q140_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate, maintained incrementally:
    an hourly (event_type, hour) rollup LakeTable built from the first
    third of the event stream, then kept current by two additive MERGE
    batches (WHEN MATCHED UPDATE n = n + delta / WHEN NOT MATCHED
    INSERT) as the remaining thirds 'arrive'. The oracle recomputes the
    rollup from scratch - incremental maintenance must equal full
    recompute exactly, which is why the running sums live in DECIMAL
    (associative, order- and batch-insensitive) until the final read.

    At 100 TB this is the pattern that turns an O(history) nightly
    recompute into an O(delta) MERGE per ingest batch; each MERGE
    rewrites only the hour-bucket dirs the delta touches."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        F.col("value").cast("decimal(18,6)").alias("_v"),
    )

    def rollup(batch: DataFrame) -> DataFrame:
        return batch.groupBy("event_type", "hour_start").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("_v").cast("decimal(28,6)").alias("total_dec"),
        )

    t = LakeTable(spark, _scratch("rollup"))
    t.write(rollup(ev.filter(F.col("event_id") % 3 == 0)), mode="overwrite")
    for r in (1, 2):
        t.merge(
            rollup(ev.filter(F.col("event_id") % 3 == r)),
            on=["event_type", "hour_start"],
            matched_update={
                "n": "t.n + s.n",
                "total_dec": "CAST(t.total_dec + s.total_dec AS DECIMAL(28,6))",
            },
        )
    return (
        t.read()
        .select(
            "event_type",
            "hour_start",
            "n",
            F.col("total_dec").cast("double").alias("total_value"),
        )
        .orderBy("event_type", "hour_start")
    )


@query(
    "q145_delta_log_write",
    oracle="SELECT * FROM supplier ORDER BY s_suppkey",
    tags=("lakehouse", "delta", "interop"),
)
def q145_delta_log_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta `_delta_log` WRITE interop (VERDICT r4 item 2): the engine
    COMMITS tables in the public Delta JSON-action format — protocol/
    metaData at creation, add per file, remove on overwrite, O_EXCL
    optimistic versioned commits — so its output is consumable by any
    Delta reader (delta-spark, DuckDB delta scanner, Polars), the
    write-side complement of q134's read shim. Two appends then a full
    overwrite; the latest snapshot must equal the source bit-for-bit
    and version replay must see the pre-overwrite state. Cross-checks
    the reference's `CREATE TABLE ... USING DELTA`
    (`/root/reference/Instructor/01-Fraud-Delta.py:130-134`) from the
    producer side."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    sup = load_table(spark, sf_dir, "supplier")
    dl = DeltaLogTable(spark, _scratch("deltawrite"))
    v0 = dl.write(sup.filter(F.col("s_suppkey") <= 10), mode="append")
    v1 = dl.write(sup.filter(F.col("s_suppkey") > 10), mode="append")
    v2 = dl.write(sup, mode="overwrite")
    if (v0, v1, v2) != (0, 1, 2):
        raise AssertionError(f"unexpected commit versions {(v0, v1, v2)}")
    # independent counts run concurrently (r15, guide §2.6)
    n_v1, n_sup = run_concurrently(spark, dl.read(version_as_of=1).count, sup.count)
    if n_v1 != n_sup:
        raise AssertionError(f"time travel to pre-overwrite state saw {n_v1} rows")
    return dl.read().orderBy("s_suppkey")


def _roaring64_portable(rows: list[int]) -> bytes:
    """DV payload serialization — shared codec in
    :mod:`sources.roaring` (kept as a named fixture hook for tests)."""
    from ent_fins_lakehouse_spark.sources.roaring import roaring64_payload

    return roaring64_payload(rows)


def _dv_fixture(spark: SparkSession, df: DataFrame, order_col: str, table_dir: str, deleted: list[int]) -> None:
    """Hand-built DV-bearing Delta table (q134's fixture approach): v0 =
    one sorted data file via the engine's own Delta writer; v1 = protocol
    upgrade to readerFeatures=[deletionVectors] + re-add of the same file
    carrying a storageType="u" descriptor whose RoaringBitmap file uses
    the public on-disk framing (1-byte version, [u32 BE size][payload]
    [u32 BE crc32], Base85 UUID naming)."""
    import base64
    import json
    import struct
    import uuid
    import zlib

    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    dl = DeltaLogTable(spark, table_dir)
    dl.write(df.repartition(1).sortWithinPartitions(order_col), mode="append")
    adds, _, _, _ = dl._snapshot()
    (path,) = adds  # single data file by construction
    payload = _roaring64_portable(deleted)
    u = uuid.uuid4()
    with open(os.path.join(table_dir, f"deletion_vector_{u}.bin"), "wb") as fh:
        fh.write(b"\x01")
        fh.write(struct.pack(">i", len(payload)))
        fh.write(payload)
        fh.write(struct.pack(">I", zlib.crc32(payload)))
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"add": {"path": path, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": False,
                 "deletionVector": {
                     "storageType": "u",
                     "pathOrInlineDv": base64.b85encode(u.bytes).decode(),
                     "offset": 1,
                     "sizeInBytes": len(payload),
                     "cardinality": len(deleted),
                 }}},
    ]
    with open(os.path.join(table_dir, "_delta_log", f"{1:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


@query(
    "q146_delta_deletion_vectors",
    oracle="SELECT * FROM supplier WHERE s_suppkey % 7 <> 0 ORDER BY s_suppkey",
    tags=("lakehouse", "delta", "interop"),
)
def q146_delta_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector reads (VERDICT r4 item 3): modern Delta writers
    default to DVs (soft deletes as RoaringBitmaps of row indexes), so
    a 2024+ table from the reference's platform needs this to be
    readable at all. The shim decodes the public DV format — Base85
    UUID file naming, 1-byte-version framing, magic 1681511377, 64-bit
    portable RoaringBitmapArray — and applies it as a row-index
    anti-filter on `_metadata.row_index`. Fixture: supplier written
    sorted into one file, a DV deleting every s_suppkey % 7 == 0 row
    by position; the differential proves exactly the surviving rows
    come back."""
    sup = load_table(spark, sf_dir, "supplier")
    td = _scratch("deltadv")
    keys = [r[0] for r in sup.select("s_suppkey").orderBy("s_suppkey").collect()]
    deleted = [i for i, k in enumerate(keys) if k % 7 == 0]
    _dv_fixture(spark, sup, "s_suppkey", td, deleted)
    dl = LakeTable.from_delta_log(spark, td)
    got = dl.read()
    if got.count() != len(keys) - len(deleted):
        raise AssertionError("DV anti-filter removed the wrong number of rows")
    return got.orderBy("s_suppkey")


_ICE_TYPES = {"LongType()": "long", "IntegerType()": "int", "StringType()": "string",
              "DoubleType()": "double", "FloatType()": "float", "BooleanType()": "boolean",
              "DateType()": "date", "TimestampType()": "timestamptz"}

_ICE_MANIFEST_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": ["null", "long"]},
        {"name": "added_snapshot_id", "type": "long"},
        {"name": "added_files_count", "type": "int"},
        {"name": "existing_files_count", "type": "int"},
        {"name": "deleted_files_count", "type": "int"},
    ],
}

_ICE_MANIFEST_SCHEMA = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "sequence_number", "type": ["null", "long"]},
        {"name": "data_file", "type": {
            "type": "record", "name": "r2", "fields": [
                {"name": "content", "type": "int"},
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
                {"name": "record_count", "type": "long"},
                {"name": "file_size_in_bytes", "type": "long"},
                {"name": "equality_ids", "type": ["null", {"type": "array", "items": "int"}]},
            ]}},
    ],
}


def _iceberg_fixture(spark: SparkSession, df: DataFrame, table_dir: str) -> None:
    """Hand-built Iceberg v2 table (q134's fixture approach, per the
    public spec at iceberg.apache.org/spec): parquet data files + Avro
    manifest / manifest-list (via the in-repo OCF writer) + two
    versioned metadata.json files — snapshot 1 sees the first half of
    ``df``, snapshot 2 (current) sees all of it."""
    import glob
    import json
    import shutil
    import uuid

    from ent_fins_lakehouse_spark.sources.avro_io import write_ocf

    data_dir = os.path.join(table_dir, "data")
    meta_dir = os.path.join(table_dir, "metadata")
    os.makedirs(data_dir)
    os.makedirs(meta_dir)

    key = df.columns[0]
    med = df.approxQuantile(key, [0.5], 0.0)[0]

    def stage(part: DataFrame) -> list[str]:
        st = tempfile.mkdtemp()
        part.coalesce(1).write.mode("overwrite").parquet(st)
        out = []
        for f in sorted(glob.glob(os.path.join(st, "part-*.parquet"))):
            name = f"{uuid.uuid4().hex}.parquet"
            shutil.move(f, os.path.join(data_dir, name))
            out.append(os.path.join(data_dir, name))
        shutil.rmtree(st, ignore_errors=True)
        return out

    def manifest(tag: str, snap: int, paths: list[str]) -> str:
        mpath = os.path.join(meta_dir, f"manifest-{tag}.avro")
        write_ocf(mpath, _ICE_MANIFEST_SCHEMA, [
            {"status": 1, "snapshot_id": snap, "data_file": {
                "content": 0, "file_path": p, "file_format": "PARQUET",
                "record_count": 0, "file_size_in_bytes": os.path.getsize(p)}}
            for p in paths
        ])
        return mpath

    def manifest_list(tag: str, snap: int, manifests: list[str]) -> str:
        lpath = os.path.join(meta_dir, f"snap-{snap}-{tag}.avro")
        write_ocf(lpath, _ICE_MANIFEST_LIST_SCHEMA, [
            {"manifest_path": m, "manifest_length": os.path.getsize(m),
             "partition_spec_id": 0, "content": 0, "added_snapshot_id": snap,
             "added_files_count": 1, "existing_files_count": 0,
             "deleted_files_count": 0}
            for m in manifests
        ])
        return lpath

    a = stage(df.filter(F.col(key) <= med))
    b = stage(df.filter(F.col(key) > med))
    m1 = manifest("a", 101, a)
    m2 = manifest("b", 102, b)
    l1 = manifest_list("l1", 101, [m1])
    l2 = manifest_list("l2", 102, [m1, m2])

    ice_fields = [
        {"id": i + 1, "name": f.name, "required": False,
         "type": _ICE_TYPES[repr(f.dataType)]}
        for i, f in enumerate(df.schema.fields)
    ]
    base = {
        "format-version": 2, "table-uuid": str(uuid.uuid4()), "location": table_dir,
        "last-sequence-number": 1, "last-updated-ms": 0,
        "last-column-id": len(ice_fields), "current-schema-id": 0,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": ice_fields}],
        "default-spec-id": 0, "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999, "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
    }
    snap1 = {"snapshot-id": 101, "sequence-number": 1, "timestamp-ms": 0,
             "manifest-list": l1, "summary": {"operation": "append"}}
    snap2 = {"snapshot-id": 102, "sequence-number": 2, "timestamp-ms": 0,
             "manifest-list": l2, "summary": {"operation": "append"}}
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump({**base, "current-snapshot-id": 101, "snapshots": [snap1]}, fh)
    with open(os.path.join(meta_dir, "v2.metadata.json"), "w") as fh:
        json.dump({**base, "current-snapshot-id": 102, "snapshots": [snap1, snap2]}, fh)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write("2")


@query(
    "q149_iceberg_read",
    oracle="SELECT * FROM nation ORDER BY n_nationkey",
    tags=("lakehouse", "iceberg", "interop"),
)
def q149_iceberg_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache Iceberg read interop (VERDICT r4 item 9; the driver brief
    names Iceberg alongside Delta): metadata.json discovery via
    version-hint, Avro manifest-list -> manifest -> data-file
    resolution with the in-repo pure-Python OCF reader, snapshot time
    travel. The current snapshot must equal the source table
    bit-for-bit; replaying snapshot 101 sees only the first commit's
    file."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    nation = load_table(spark, sf_dir, "nation")
    td = _scratch("iceberg")
    _iceberg_fixture(spark, nation, td)
    t = IcebergTable(spark, td)
    n_old = t.read(snapshot_id=101).count()
    n_half = nation.filter(
        F.col("n_nationkey") <= nation.approxQuantile("n_nationkey", [0.5], 0.0)[0]
    ).count()
    if n_old != n_half:
        raise AssertionError(f"snapshot-101 replay saw {n_old} rows, want {n_half}")
    return t.read().orderBy("n_nationkey")


def _iceberg_posdelete_fixture(
    spark: SparkSession, df: DataFrame, order_col: str, table_dir: str, deleted: list[int]
) -> None:
    """Iceberg v2 table whose snapshot carries a position-delete file
    (spec: 'Position Delete Files' — parquet rows of (file_path, pos))
    beside one sorted data file, linked through a content=1 deletes
    manifest in the manifest list."""
    import glob
    import json
    import shutil
    import uuid

    from ent_fins_lakehouse_spark.sources.avro_io import write_ocf

    data_dir = os.path.join(table_dir, "data")
    meta_dir = os.path.join(table_dir, "metadata")
    os.makedirs(data_dir)
    os.makedirs(meta_dir)

    def stage(part: DataFrame) -> str:
        st = tempfile.mkdtemp()
        part.coalesce(1).write.mode("overwrite").parquet(st)
        (f,) = sorted(glob.glob(os.path.join(st, "part-*.parquet")))
        dest = os.path.join(data_dir, f"{uuid.uuid4().hex}.parquet")
        shutil.move(f, dest)
        shutil.rmtree(st, ignore_errors=True)
        return dest

    dpath = stage(df.repartition(1).sortWithinPartitions(order_col))
    del_path = stage(
        spark.createDataFrame(
            [(dpath, int(p)) for p in deleted], "file_path STRING, pos LONG"
        ).repartition(1).sortWithinPartitions("pos")
    )

    def manifest(tag: str, fpath: str, content: int) -> str:
        mpath = os.path.join(meta_dir, f"manifest-{tag}.avro")
        write_ocf(mpath, _ICE_MANIFEST_SCHEMA, [
            {"status": 1, "snapshot_id": 201, "data_file": {
                "content": content, "file_path": fpath, "file_format": "PARQUET",
                "record_count": 0, "file_size_in_bytes": os.path.getsize(fpath)}}
        ])
        return mpath

    mlist = os.path.join(meta_dir, "snap-201.avro")
    write_ocf(mlist, _ICE_MANIFEST_LIST_SCHEMA, [
        {"manifest_path": manifest("data", dpath, 0), "manifest_length": 1,
         "partition_spec_id": 0, "content": 0, "added_snapshot_id": 201,
         "added_files_count": 1, "existing_files_count": 0, "deleted_files_count": 0},
        {"manifest_path": manifest("del", del_path, 1), "manifest_length": 1,
         "partition_spec_id": 0, "content": 1, "added_snapshot_id": 201,
         "added_files_count": 1, "existing_files_count": 0, "deleted_files_count": 0},
    ])
    ice_fields = [
        {"id": i + 1, "name": f.name, "required": False,
         "type": _ICE_TYPES[repr(f.dataType)]}
        for i, f in enumerate(df.schema.fields)
    ]
    meta = {
        "format-version": 2, "table-uuid": str(uuid.uuid4()), "location": table_dir,
        "last-sequence-number": 1, "last-updated-ms": 0,
        "last-column-id": len(ice_fields), "current-schema-id": 0,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": ice_fields}],
        "default-spec-id": 0, "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999, "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "current-snapshot-id": 201,
        "snapshots": [{"snapshot-id": 201, "sequence-number": 1, "timestamp-ms": 0,
                       "manifest-list": mlist, "summary": {"operation": "overwrite"}}],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write("1")


@query(
    "q150_iceberg_position_deletes",
    oracle="SELECT * FROM supplier WHERE s_suppkey % 5 <> 0 ORDER BY s_suppkey",
    tags=("lakehouse", "iceberg", "interop"),
)
def q150_iceberg_position_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 position-delete reads — the Iceberg analogue of
    q146's Delta deletion vectors: (file_path, pos) parquet delete
    files resolved through a content=1 deletes manifest and applied as
    a fully distributed anti-join on `_metadata.file_path` +
    `_metadata.row_index` (delete files stay a DataFrame — no driver
    materialization, so a 100 TB table's deletes scale like any other
    join; AQE broadcasts them when small). Fixture deletes every
    s_suppkey % 5 == 0 row by position in the sorted data file; the
    differential proves exactly the survivors come back."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    sup = load_table(spark, sf_dir, "supplier")
    td = _scratch("iceposdel")
    keys = [r[0] for r in sup.select("s_suppkey").orderBy("s_suppkey").collect()]
    deleted = [i for i, k in enumerate(keys) if k % 5 == 0]
    _iceberg_posdelete_fixture(spark, sup, "s_suppkey", td, deleted)
    return IcebergTable(spark, td).read().orderBy("s_suppkey")


@query(
    "q152_delta_dv_delete",
    oracle="""
    SELECT * FROM customer
    WHERE NOT (c_mktsegment = 'BUILDING') AND NOT (c_acctbal < 0)
    ORDER BY c_custkey
    """,
    tags=("lakehouse", "delta", "interop"),
)
def q152_delta_dv_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector WRITES — the engine executes DELETE the way
    modern Delta does by default: soft deletes as per-file RoaringBitmap
    sidecars (public DV format, protocol upgraded to the
    deletionVectors feature), no data-file rewrite. Two successive
    predicates prove DV merging (a file's second delete folds into its
    existing bitmap, replacing the descriptor); the read path
    anti-filters through the same public format it wrote, and the
    differential proves exactly the survivors. Complements q145 (write
    interop) + q146 (DV reads): the full round-trip is now
    engine-authored."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    cust = load_table(spark, sf_dir, "customer")
    dl = DeltaLogTable(spark, _scratch("deltadvw"))
    dl.write(cust.repartition(4), mode="append")  # several files → several DVs
    m1 = dl.delete("c_mktsegment = 'BUILDING'")
    m2 = dl.delete("c_acctbal < 0")
    expect = cust.filter("c_mktsegment = 'BUILDING' OR c_acctbal < 0").count()
    if m1["rows_deleted"] + m2["rows_deleted"] != expect:
        raise AssertionError(
            f"DV deletes removed {m1['rows_deleted']}+{m2['rows_deleted']} rows, want {expect}"
        )
    return dl.read().orderBy("c_custkey")


@query(
    "q153_create_using_delta",
    oracle="SELECT * FROM nation ORDER BY n_nationkey",
    tags=("lakehouse", "delta", "sql", "interop"),
)
def q153_create_using_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's exact DDL arc end-to-end
    (`/root/reference/Instructor/01-Fraud-Delta.py:108-134`): CREATE
    DATABASE + CREATE TABLE … USING DELTA LOCATION '…' through the SQL
    facade, over a table the engine itself wrote in the PUBLIC Delta
    log format, then SELECT through the catalog name. Also exercises
    CTAS (CREATE TABLE … USING LAKE AS SELECT) and IF NOT EXISTS
    idempotence. A user can paste the reference's DDL cells unchanged."""
    from ent_fins_lakehouse_spark.sources.catalog import LakehouseSession
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    nation = load_table(spark, sf_dir, "nation")
    ext = _scratch("usingdelta")
    DeltaLogTable(spark, ext).write(nation, mode="append")

    lh = LakehouseSession(spark, _scratch("ddlwh"))
    lh.sql("CREATE DATABASE IF NOT EXISTS lending_club")
    lh.sql(f"CREATE TABLE lending_club.bronze_nation USING DELTA LOCATION '{ext}'")
    lh.sql(f"CREATE TABLE IF NOT EXISTS lending_club.bronze_nation USING DELTA LOCATION '{ext}'")
    nation.createOrReplaceTempView("_nation_src")
    lh.sql(
        "CREATE TABLE lending_club.top_nations USING LAKE AS "
        "SELECT * FROM _nation_src WHERE n_nationkey < 5"
    )
    n_ctas = lh.sql("SELECT * FROM lending_club.top_nations").count()
    if n_ctas != 5:
        raise AssertionError(f"CTAS materialized {n_ctas} rows, want 5")
    return lh.sql("SELECT * FROM lending_club.bronze_nation").orderBy("n_nationkey")


@query(
    "q154_delta_column_mapping",
    oracle="SELECT * FROM nation ORDER BY n_nationkey",
    tags=("lakehouse", "delta", "interop"),
)
def q154_delta_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta column mapping, 'name' mode (what every table gets after
    ALTER TABLE RENAME/DROP COLUMN on modern Delta): physical parquet
    columns are opaque col-<n> names; the logical schema plus the
    physical mapping live in the schemaString field metadata. The shim
    scans physical and projects back to logical — without this, a
    renamed-column table from the reference's platform reads as all
    nulls. 'id' mode still refuses loudly."""
    import glob
    import json
    import shutil
    import uuid

    nation = load_table(spark, sf_dir, "nation")
    td = _scratch("colmap")
    phys_names = {c: f"col-{i + 1}" for i, c in enumerate(nation.columns)}
    pdf = nation.select(*[F.col(c).alias(phys_names[c]) for c in nation.columns])
    st = tempfile.mkdtemp()
    pdf.coalesce(1).write.mode("overwrite").parquet(st)
    (f,) = glob.glob(os.path.join(st, "part-*.parquet"))
    name = f"part-{uuid.uuid4().hex}.snappy.parquet"
    shutil.move(f, os.path.join(td, name))
    shutil.rmtree(st, ignore_errors=True)

    base = json.loads(nation.schema.json())
    for i, fld in enumerate(base["fields"]):
        fld["metadata"] = {
            "delta.columnMapping.id": i + 1,
            "delta.columnMapping.physicalName": phys_names[fld["name"]],
        }
    log = os.path.join(td, "_delta_log")
    os.makedirs(log)
    with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}) + "\n")
        fh.write(json.dumps({"metaData": {
            "id": "q154", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(base), "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": str(len(base["fields"]))},
            "createdTime": 0}}) + "\n")
        fh.write(json.dumps({"add": {
            "path": name, "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True}}) + "\n")
    return LakeTable.from_delta_log(spark, td).read().orderBy("n_nationkey")


@query(
    "q156_lake_update",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderstatus = 'O' THEN 'RUSH' ELSE o_orderpriority END AS o_orderpriority,
           CASE WHEN o_orderstatus = 'O' THEN o_totalprice + 100.0 ELSE o_totalprice END AS o_totalprice,
           o_orderstatus
    FROM orders ORDER BY o_orderkey
    """,
    tags=("lakehouse", "update", "sql"),
)
def q156_lake_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone UPDATE DML (Delta's UPDATE … SET … WHERE — the one
    DML verb the reference's MERGE/DELETE arc skips), via the SQL
    facade over a multi-dir layout so the pruned-rewrite path is
    exercised: only dirs containing 'O'-status rows are rewritten,
    non-matching rows in touched dirs carry through unchanged."""
    from ent_fins_lakehouse_spark.sources.catalog import LakehouseSession

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice", "o_orderstatus"
    )
    lh = LakehouseSession(spark, _scratch("updwh"))
    lh.sql("CREATE DATABASE IF NOT EXISTS dml")
    t = lh.catalog.create_table("dml.orders", df=orders.filter(F.col("o_orderkey") % 2 == 0))
    t.write(orders.filter(F.col("o_orderkey") % 2 == 1), mode="append")
    lh.sql(
        "UPDATE dml.orders SET o_orderpriority = 'RUSH', "
        "o_totalprice = o_totalprice + 100.0 WHERE o_orderstatus = 'O'"
    )
    return lh.sql("SELECT * FROM dml.orders").orderBy("o_orderkey")


@query(
    "q161_delta_change_feed",
    oracle="""
    SELECT *, 'insert' AS _change_type, 1 AS _commit_version
    FROM supplier WHERE s_suppkey > 50
    UNION ALL
    SELECT *, 'delete' AS _change_type, 2 AS _commit_version
    FROM supplier WHERE s_suppkey % 3 = 0
    ORDER BY _commit_version, s_suppkey
    """,
    tags=("lakehouse", "delta", "cdf", "interop"),
)
def q161_delta_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed over the public Delta log (the q95 capability,
    cross-format): per commit, cdc files when present, else synthesis —
    dataChange adds as inserts, removes as deletes, and DV-bearing
    re-adds as deletes of EXACTLY the newly-masked rows (bitmap diff
    against the prior snapshot's DV). Arc: v0 seed append (before the
    feed window), v1 append (→ inserts), v2 soft DELETE via deletion
    vectors (→ deletes). Hash-checked against the reconstructed
    oracle."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    sup = load_table(spark, sf_dir, "supplier")
    dl = DeltaLogTable(spark, _scratch("deltacdf"))
    dl.write(sup.filter(F.col("s_suppkey") <= 50), mode="append")
    dl.write(sup.filter(F.col("s_suppkey") > 50), mode="append")
    dl.delete("s_suppkey % 3 = 0")
    return dl.read_changes(from_version=1).orderBy("_commit_version", "s_suppkey")


def _iceberg_eqdelete_fixture(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    eq_col: str,
    eq_values: list,
    late_pred: str,
) -> None:
    """Iceberg v2 table with an EQUALITY delete file between two data
    files: data A (sequence 1, rows NOT matching ``late_pred``), an
    equality delete on ``eq_col`` ∈ eq_values (sequence 2), data B
    (sequence 3, rows matching ``late_pred``) — so the delete masks
    only sequence-1 rows and B survives even where it matches."""
    import glob
    import json
    import shutil
    import uuid

    from ent_fins_lakehouse_spark.sources.avro_io import write_ocf

    data_dir = os.path.join(table_dir, "data")
    meta_dir = os.path.join(table_dir, "metadata")
    os.makedirs(data_dir)
    os.makedirs(meta_dir)

    def stage(part: DataFrame) -> str:
        st = tempfile.mkdtemp()
        part.coalesce(1).write.mode("overwrite").parquet(st)
        (f,) = sorted(glob.glob(os.path.join(st, "part-*.parquet")))
        dest = os.path.join(data_dir, f"{uuid.uuid4().hex}.parquet")
        shutil.move(f, dest)
        shutil.rmtree(st, ignore_errors=True)
        return dest

    ice_fields = [
        {"id": i + 1, "name": f.name, "required": False,
         "type": _ICE_TYPES[repr(f.dataType)]}
        for i, f in enumerate(df.schema.fields)
    ]
    eq_id = next(fl["id"] for fl in ice_fields if fl["name"] == eq_col)

    a = stage(df.filter(f"NOT ({late_pred})"))
    b = stage(df.filter(late_pred))
    del_path = stage(
        spark.createDataFrame([(v,) for v in eq_values], df.select(eq_col).schema)
    )

    def manifest(tag: str, fpath: str, content: int, ids=None) -> str:
        mpath = os.path.join(meta_dir, f"manifest-{tag}.avro")
        write_ocf(mpath, _ICE_MANIFEST_SCHEMA, [
            {"status": 1, "snapshot_id": 301, "data_file": {
                "content": content, "file_path": fpath, "file_format": "PARQUET",
                "record_count": 0, "file_size_in_bytes": os.path.getsize(fpath),
                "equality_ids": ids}}
        ])
        return mpath

    def lrow(mpath: str, content: int, seq: int) -> dict:
        return {"manifest_path": mpath, "manifest_length": 1,
                "partition_spec_id": 0, "content": content,
                "sequence_number": seq, "added_snapshot_id": 301,
                "added_files_count": 1, "existing_files_count": 0,
                "deleted_files_count": 0}

    mlist = os.path.join(meta_dir, "snap-301.avro")
    write_ocf(mlist, _ICE_MANIFEST_LIST_SCHEMA, [
        lrow(manifest("a", a, 0), 0, 1),
        lrow(manifest("del", del_path, 2, ids=[eq_id]), 1, 2),
        lrow(manifest("b", b, 0), 0, 3),
    ])
    meta = {
        "format-version": 2, "table-uuid": str(uuid.uuid4()), "location": table_dir,
        "last-sequence-number": 3, "last-updated-ms": 0,
        "last-column-id": len(ice_fields), "current-schema-id": 0,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": ice_fields}],
        "default-spec-id": 0, "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999, "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "current-snapshot-id": 301,
        "snapshots": [{"snapshot-id": 301, "sequence-number": 3, "timestamp-ms": 0,
                       "manifest-list": mlist, "summary": {"operation": "overwrite"}}],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write("1")


@query(
    "q164_iceberg_equality_deletes",
    oracle="""
    SELECT * FROM supplier
    WHERE s_suppkey <= 10 OR s_nationkey NOT IN (0, 1, 2, 3, 4, 5, 6, 7)
    ORDER BY s_suppkey
    """,
    tags=("lakehouse", "iceberg", "interop"),
)
def q164_iceberg_equality_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 EQUALITY deletes with sequence-number semantics (the
    shape streaming CDC writers like Flink emit): a delete file at
    sequence S masks rows matching its equality_ids columns only in
    data files with sequence < S. Fixture: data A (seq 1) = suppliers
    with s_suppkey > 10; equality delete (seq 2) on s_nationkey 0-7;
    data B (seq 3) = s_suppkey <= 10, which SURVIVES even where its
    nationkeys match — the differential proves both the masking and
    the strictly-before rule. Applied as a null-safe distributed
    anti-join per delete file."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    sup = load_table(spark, sf_dir, "supplier")
    td = _scratch("iceeqdel")
    _iceberg_eqdelete_fixture(
        spark, sup, td, "s_nationkey", list(range(8)), "s_suppkey <= 10"
    )
    return IcebergTable(spark, td).read().orderBy("s_suppkey")


@query(
    "q165_delta_log_merge",
    oracle="""
    WITH src AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100 AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey <= 50
      UNION ALL
      SELECT c_custkey + 100000, c_name, c_nationkey, c_acctbal,
             'NEWSEGMENT' AS c_mktsegment
      FROM customer WHERE c_custkey <= 20
    )
    SELECT * FROM src
    UNION ALL
    SELECT c.* FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.c_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
    tags=("lakehouse", "delta", "merge", "interop"),
)
def q165_delta_log_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE in the PUBLIC Delta log format — the reference's core cell
    (`01-Fraud-Delta.py:235-241` WHEN MATCHED UPDATE SET * / WHEN NOT
    MATCHED INSERT *) committed as remove/add JSON actions readable by
    delta-spark / DuckDB / Polars. Same 50-update + 20-insert arc as
    q30 (LakeTable), so the two paths share one oracle. Row→file
    attribution rides `_metadata.file_path`; only matched files are
    rewritten; joins are AQE-planned (no forced broadcast)."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    cust = load_table(spark, sf_dir, "customer")
    dl = DeltaLogTable(spark, _scratch("dlmerge"))
    # seed across multiple files so the file-pruned rewrite is real
    dl.write(cust.repartition(4), mode="append")
    updates = cust.filter(F.col("c_custkey") <= 50).withColumn(
        "c_acctbal", F.col("c_acctbal") + 100
    )
    inserts = (
        cust.filter(F.col("c_custkey") <= 20)
        .withColumn("c_custkey", F.col("c_custkey") + 100000)
        .withColumn("c_mktsegment", F.lit("NEWSEGMENT"))
    )
    dl.merge(updates.unionByName(inserts), on=["c_custkey"])
    return dl.read().orderBy("c_custkey")


@query(
    "q168_delta_log_update",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey,
           CASE WHEN s_nationkey < 10 THEN s_acctbal + 50.0 ELSE s_acctbal END
             AS s_acctbal
    FROM supplier
    ORDER BY s_suppkey
    """,
    tags=("lakehouse", "delta", "update", "interop"),
)
def q168_delta_log_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone UPDATE … SET … WHERE committed to the PUBLIC Delta
    log as remove/add actions (q156's verb, cross-format): files
    holding matching rows are rewritten, matching rows take the
    assignment, non-matching rows in touched files carry through, and
    the result is interop-visible. Seeded across multiple files so the
    file-pruned rewrite path is exercised."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    dl = DeltaLogTable(spark, _scratch("dlupd"))
    dl.write(sup.repartition(3), mode="append")
    dl.update({"s_acctbal": "s_acctbal + 50.0"}, "s_nationkey < 10")
    return dl.read().orderBy("s_suppkey")


def _delta_id_mode_fixture(spark: SparkSession, df: DataFrame, td: str) -> None:
    """Delta table in column-mapping 'id' mode: physical parquet
    columns named col-<n> carrying parquet FIELD IDs; the log schema
    maps logical names to those ids (what engines defaulting to
    id-mode — e.g. some Trino/Flink writers — produce)."""
    import glob
    import json
    import shutil
    import uuid

    os.makedirs(td)
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    fields = df.schema.fields
    # physical names + parquet field ids, stamped in-plan (alias
    # metadata) — fully distributed, no driver materialization
    pdf = df.select(
        *[
            F.col(f.name).alias(
                f"col-{i + 1}", metadata={"parquet.field.id": i + 1}
            )
            for i, f in enumerate(fields)
        ]
    )
    st = td + "_stage"
    pdf.repartition(2).write.parquet(st)
    names = []
    for f in sorted(glob.glob(os.path.join(st, "part-*.parquet"))):
        name = f"part-{uuid.uuid4().hex}.snappy.parquet"
        shutil.move(f, os.path.join(td, name))
        names.append(name)
    shutil.rmtree(st, ignore_errors=True)
    log_fields = [
        {
            "name": f.name,
            "type": f.dataType.jsonValue(),
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": i + 1,
                "delta.columnMapping.physicalName": f"col-{i + 1}",
            },
        }
        for i, f in enumerate(fields)
    ]
    log = os.path.join(td, "_delta_log")
    os.makedirs(log)
    with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
        fh.write(
            json.dumps({"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}})
            + "\n"
        )
        fh.write(
            json.dumps(
                {
                    "metaData": {
                        "id": "idmode",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": json.dumps(
                            {"type": "struct", "fields": log_fields}
                        ),
                        "partitionColumns": [],
                        "configuration": {
                            "delta.columnMapping.mode": "id",
                            "delta.columnMapping.maxColumnId": str(len(fields)),
                        },
                        "createdTime": 0,
                    }
                }
            )
            + "\n"
        )
        for name in names:
            fh.write(
                json.dumps(
                    {
                        "add": {
                            "path": name,
                            "partitionValues": {},
                            "size": 1,
                            "modificationTime": 0,
                            "dataChange": True,
                        }
                    }
                )
                + "\n"
            )


@query(
    "q166_delta_id_mode_read",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier
    ORDER BY s_suppkey
    """,
    tags=("lakehouse", "delta", "column-mapping", "interop"),
)
def q166_delta_id_mode_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-mapping 'id'-mode Delta reads (the last refused mapping
    mode, VERDICT r5 missing #3): data columns resolve by parquet
    FIELD ID via Spark's native fieldId read path — physical col-<n>
    names in the files are ignored, logical names come from the log
    schema's columnMapping metadata. Hash-checked against the plain
    supplier projection."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    td = _scratch("idmode") + "_t"
    _delta_id_mode_fixture(spark, sup, td)
    return DeltaLogTable(spark, td).read().orderBy("s_suppkey")


@query(
    "q167_iceberg_append_roundtrip",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier
    ORDER BY s_suppkey
    """,
    tags=("lakehouse", "iceberg", "write", "interop"),
)
def q167_iceberg_append_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 APPEND interop (VERDICT r5 missing #4 — the write
    half of the Iceberg story): two engine appends emit parquet data
    files + Avro manifest/manifest-list (with field-id-keyed bounds) +
    versioned metadata.json, then the engine's own shim reads the
    table back; the union hash-matches the supplier oracle. Snapshot 1
    must still serve exactly the first half (time travel across the
    appends), and the bounds must prune files for a selective
    predicate — asserted here so the interop arc stays honest."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    t = IcebergTable(spark, _scratch("icew") + "_t")
    med = sup.approxQuantile("s_suppkey", [0.5], 0.0)[0]
    first = sup.filter(F.col("s_suppkey") < med)
    snap1 = t.append(first.coalesce(1))
    t.append(sup.filter(F.col("s_suppkey") >= med).coalesce(1))
    if t.read(snapshot_id=snap1).count() != first.count():
        raise AssertionError("snapshot 1 must serve exactly the first append")
    info = t.scan_info(f"s_suppkey < {int(med) - 1}")
    if info["n_pruned"] < 1:
        raise AssertionError(f"writer bounds must prune files, got {info}")
    return t.read().orderBy("s_suppkey")


@query(
    "q169_iceberg_partitioned_append",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderstatus = 'F'
    ORDER BY o_orderkey
    """,
    tags=("lakehouse", "iceberg", "partitioning", "interop"),
)
def q169_iceberg_partitioned_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity-PARTITIONED Iceberg v2 append + partition-pruned read:
    the writer stages hive-style (one partition tuple per data file,
    partition columns kept IN the files per the spec — they are pruning
    metadata, not dropped columns), records the tuple in each manifest
    entry's r102 partition record, and the reader consumes it as an
    exact [v, v] bound — a predicate on the partition column must prune
    whole partitions' files (asserted) while values hash-match the
    plain relational oracle. This is the metadata-level pruning that
    turns a 100 TB scan into a per-partition scan."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    t = IcebergTable(spark, _scratch("icepart") + "_t")
    t.append(orders.repartition(4), partition_by=["o_orderstatus"])
    info = t.scan_info("o_orderstatus = 'F'")
    if not (0 < info["n_read"] < info["n_active"]):
        raise AssertionError(f"partition tuple must prune files, got {info}")
    return t.read(where="o_orderstatus = 'F'").orderBy("o_orderkey")


@query(
    "q170_iceberg_pos_delete_write",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal
    FROM customer
    WHERE c_custkey % 5 <> 0 AND c_nationkey <> 3
    ORDER BY c_custkey
    """,
    tags=("lakehouse", "iceberg", "delete", "interop"),
)
def q170_iceberg_pos_delete_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE written as Iceberg v2 POSITION-DELETE files
    (the write half of q150's read path): two successive deletes stack
    — the second must not re-record rows the first already masked (the
    matched-position job anti-joins prior delete files) — no data file
    is rewritten, and the read-back hash-matches the SQL oracle.
    Positions are computed in ONE distributed job over stats-pruned
    candidates and land via a distributed sorted write; the driver
    never holds a row per deleted position."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    t = IcebergTable(spark, _scratch("icedel") + "_t")
    t.append(cust.repartition(4))
    n_data_files = len(t.data_files())
    r1 = t.delete("c_custkey % 5 = 0")
    # overlapping second delete: nation-3 rows include some % 5 == 0
    # rows already masked — only the net-new positions may be recorded
    r2 = t.delete("c_nationkey = 3")
    if len(t.data_files()) != n_data_files:
        raise AssertionError("position deletes must not rewrite data files")
    if r1["rows_deleted"] == 0 or r2["rows_deleted"] == 0:
        raise AssertionError(f"deletes matched nothing: {r1} {r2}")
    return t.read().orderBy("c_custkey")


@query(
    "q171_delta_log_optimize_vacuum",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal
    FROM customer WHERE c_custkey % 7 <> 0
    ORDER BY c_custkey
    """,
    tags=("lakehouse", "delta", "optimize", "interop"),
)
def q171_delta_log_optimize_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE + VACUUM in the PUBLIC log format (the reference's
    `02-Fraud-Performance.py` maintenance arc, cross-format): a
    12-file table with a DV delete is compacted to 3 files clustered
    by key — dataChange=false remove/add actions, DVs MATERIALIZED
    (masked rows drop out, no DV on the new adds), clustered stats
    making a key-range read selective (asserted) — then VACUUM with
    zero retention physically reclaims the 12 tombstoned files and
    the DV sidecars while the current snapshot reads back untouched
    and hash-matches the oracle."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    dl = DeltaLogTable(spark, _scratch("dlopt"))
    dl.write(cust.repartition(12), mode="append")
    dl.delete("c_custkey % 7 = 0")
    res = dl.optimize(target_files=3, cluster_by=["c_custkey"])
    if res["files_before"] != 12 or res["dvs_materialized"] == 0:
        raise AssertionError(f"unexpected optimize accounting {res}")
    adds, *_ = dl._snapshot()
    if any(i["deletionVector"] for i in adds.values()):
        raise AssertionError("OPTIMIZE must materialize deletion vectors")
    info = dl.scan_info("c_custkey <= 100")
    if info["n_pruned"] < 1:
        raise AssertionError(f"clustered stats must prune, got {info}")
    reclaimed = dl.vacuum(retention_hours=0.0)
    if len(reclaimed) < 12:
        raise AssertionError(f"vacuum reclaimed only {len(reclaimed)} files")
    return dl.read().orderBy("c_custkey")


@query(
    "q172_delta_to_iceberg_convert",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_retailprice
    FROM part ORDER BY p_partkey
    """,
    tags=("lakehouse", "delta", "iceberg", "convert", "interop"),
)
def q172_delta_to_iceberg_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-ONLY format migration (the UniForm / XTable idea): a
    public-format Delta table is converted to Iceberg v2 by writing an
    Iceberg metadata tree whose manifests point at the DELTA TABLE'S
    OWN parquet files — zero bytes of data copied (asserted: identical
    file lists) — with Delta add-action stats re-encoded as Iceberg
    bounds so the converted table file-skips identically (asserted).
    The Iceberg read of the converted table hash-matches the plain
    relational oracle. At 100 TB, format migration MUST be a
    control-plane operation over file listings, not a petabyte
    rewrite."""
    import os

    from ent_fins_lakehouse_spark.sources.iceberg import convert_delta_to_iceberg
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_retailprice"
    )
    dpath = _scratch("conv_d")
    dl = DeltaLogTable(spark, dpath)
    dl.write(part.repartitionByRange(6, "p_partkey"), mode="append")
    it = convert_delta_to_iceberg(spark, dl, _scratch("conv_i"))
    src_files = {
        os.path.abspath(os.path.join(dpath, p)) for p in dl._snapshot()[0]
    }
    if set(it.data_files()) != src_files:
        raise AssertionError("conversion must reference the source files, not copy")
    if it.scan_info("p_partkey <= 100")["n_pruned"] < 1:
        raise AssertionError("converted bounds must prune files")
    return it.read().orderBy("p_partkey")


@query(
    "q173_scd2_dimension",
    oracle="""
    WITH base AS (SELECT c_custkey, c_mktsegment FROM customer),
    hist AS (
      SELECT c_custkey, c_mktsegment,
             DATE '1995-01-01' AS valid_from,
             CASE WHEN c_custkey % 3 = 0 THEN DATE '1996-01-01' END AS valid_to
      FROM base
      UNION ALL
      SELECT c_custkey, 'CHANGED1', DATE '1996-01-01',
             CASE WHEN c_custkey % 6 = 0 THEN DATE '1997-01-01' END
      FROM base WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey, 'CHANGED2', DATE '1997-01-01', NULL
      FROM base WHERE c_custkey % 6 = 0
      UNION ALL
      SELECT c_custkey + 100000, c_mktsegment, DATE '1996-01-01', NULL
      FROM base WHERE c_custkey % 10 = 0
    )
    SELECT c_custkey, c_mktsegment, valid_from, valid_to,
           (valid_to IS NULL) AS is_current
    FROM hist ORDER BY c_custkey, valid_from
    """,
    tags=("lakehouse", "merge", "scd2", "temporal"),
)
def q173_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 maintenance — the warehouse
    pattern behind every auditable dimension (who had which segment
    WHEN): three change batches (bootstrap snapshot; a segment change
    for every 3rd key plus brand-new keys; a second change for every
    6th key) applied via :func:`operators.temporal.scd2_apply`, each
    batch ONE transactional MERGE keyed on (key, valid_from) — close
    directives update exactly the changed keys' current rows, new
    versions ride the INSERT path, unchanged keys' files are never
    rewritten. The full history (three versions for 6k keys, two for
    3k keys, one otherwise) hash-matches the oracle's closed-form
    reconstruction."""
    from ent_fins_lakehouse_spark.operators.temporal import scd2_apply

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    t = LakeTable(spark, _scratch("scd2"))
    scd2_apply(t, cust, ["c_custkey"], ["c_mktsegment"], "1995-01-01")
    b1 = cust.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 3 == 0, F.lit("CHANGED1")).otherwise(
            F.col("c_mktsegment")
        ),
    ).unionByName(
        cust.filter(F.col("c_custkey") % 10 == 0).withColumn(
            "c_custkey", F.col("c_custkey") + 100000
        )
    )
    scd2_apply(t, b1, ["c_custkey"], ["c_mktsegment"], "1996-01-01")
    b2 = (
        cust.filter(F.col("c_custkey") % 6 == 0)
        .withColumn("c_mktsegment", F.lit("CHANGED2"))
    )
    scd2_apply(t, b2, ["c_custkey"], ["c_mktsegment"], "1997-01-01")
    return t.read().orderBy("c_custkey", "valid_from")


@query(
    "q179_iceberg_maintenance",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier WHERE s_suppkey % 4 <> 0
    ORDER BY s_suppkey
    """,
    tags=("lakehouse", "iceberg", "optimize", "interop"),
)
def q179_iceberg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg table MAINTENANCE arc (rewrite_data_files +
    expire_snapshots — the cross-format twin of q171's Delta
    OPTIMIZE/VACUUM): an 8-file table takes a position delete, then
    compacts to 2 files via a REPLACE snapshot (position deletes
    MATERIALIZED — the new snapshot carries no delete manifests;
    asserted), timestamp time travel still serves the pre-delete
    state, and snapshot expiration physically reclaims every file
    only the expired snapshots referenced (asserted non-empty) while
    the survivor reads back hash-exact."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    t = IcebergTable(spark, _scratch("icemaint") + "_t")
    s1 = t.append(sup.repartition(8))
    ts1 = next(
        s for s in t.snapshots() if s["snapshot-id"] == s1
    )["timestamp-ms"]
    t.delete("s_suppkey % 4 = 0")
    res = t.compact(target_files=2)
    if res["files_before"] != 8 or res["deletes_materialized"] < 1:
        raise AssertionError(f"unexpected compaction accounting {res}")
    if t.read(as_of_timestamp_ms=ts1).count() != sup.count():
        raise AssertionError("timestamp time travel lost the pre-delete state")
    exp = t.expire_snapshots(keep_last=1)
    if exp["expired"] != 2 or not exp["files_deleted"]:
        raise AssertionError(f"unexpected expiration accounting {exp}")
    return t.read().orderBy("s_suppkey")


@query(
    "q180_delta_log_zorder",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice
    FROM lineitem WHERE l_partkey <= 200
    ORDER BY l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice
    """,
    tags=("lakehouse", "delta", "zorder", "interop"),
)
def q180_delta_log_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE … ZORDER BY in the PUBLIC log format — true
    multi-dimensional Morton clustering (the reference's
    `02-Fraud-Performance.py` Z-ORDER cell, cross-format): each
    z-ordered column bucketizes over its [min, max], bucket bits
    interleave JVM-side into a z-value, and the rewrite range-
    partitions + sorts on it. Every output file then covers a small
    (orderkey × partkey) hyper-rectangle, so add-action stats prune
    predicates on EITHER column — asserted for both dimensions before
    the hash check against the relational oracle."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    dl = DeltaLogTable(spark, _scratch("dlz"))
    dl.write(li.repartition(16), mode="append")
    dl.optimize(target_files=16, zorder_by=["l_orderkey", "l_partkey"])
    # selectivity assertions on 5%-quantile cutoffs so they hold at
    # every scale factor (a fixed literal is selective at sf0.01 but
    # covers most of the key space at sf0.001)
    # ONE pass builds both column sketches (r14, guide §1.2) — the
    # per-column generator ran two full scans
    q_ok, q_pk = (
        int(v[0])
        for v in li.approxQuantile(["l_orderkey", "l_partkey"], [0.05], 0.01)
    )
    for pred in (f"l_orderkey <= {q_ok}", f"l_partkey <= {q_pk}"):
        info = dl.scan_info(pred)
        if info["n_pruned"] < 4:
            raise AssertionError(f"z-order must prune on {pred}: {info}")
    return dl.read(where="l_partkey <= 200").orderBy(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )


@query(
    "q181_delta_log_constraints",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice,
           CASE WHEN p_partkey % 10 = 0 THEN p_retailprice + 1.0
                ELSE p_retailprice END AS p_adjusted
    FROM part ORDER BY p_partkey
    """,
    tags=("lakehouse", "delta", "constraints", "interop"),
)
def q181_delta_log_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints in the PUBLIC encoding
    (``delta.constraints.<name>`` metaData configuration + the
    writer-version-3 protocol gate, exactly how delta-spark persists
    ALTER TABLE ADD CONSTRAINT): a positivity constraint is added
    (existing rows validate in one scan), a violating append and a
    violating UPDATE are both REFUSED (asserted), a conforming UPDATE
    commits, and the surviving table hash-matches the oracle. Any
    engine reading this log sees — and any conforming writer
    enforces — the same constraint."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_retailprice"
    )
    dl = DeltaLogTable(spark, _scratch("dlcons"))
    dl.write(part.withColumn("p_adjusted", F.col("p_retailprice")), mode="append")
    dl.add_constraint("positive_price", "p_adjusted > 0")
    if dl.constraints() != {"positive_price": "p_adjusted > 0"}:
        raise AssertionError("constraint not visible in the public encoding")
    try:
        dl.write(
            part.withColumn("p_adjusted", F.lit(-1.0)).limit(5), mode="append"
        )
        raise AssertionError("violating append was not refused")
    except ValueError:
        pass
    try:
        dl.update({"p_adjusted": "-p_adjusted"}, "p_partkey % 10 = 0")
        raise AssertionError("violating update was not refused")
    except ValueError:
        pass
    dl.update({"p_adjusted": "p_adjusted + 1.0"}, "p_partkey % 10 = 0")
    return dl.read().orderBy("p_partkey")


@query(
    "q182_delta_log_restore",
    oracle="""
    SELECT s_suppkey, s_name, s_acctbal FROM supplier ORDER BY s_suppkey
    """,
    tags=("lakehouse", "delta", "restore", "interop"),
)
def q182_delta_log_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE … TO VERSION AS OF in the PUBLIC log format
    (q95/LakeTable.restore's verb, cross-format): after a DV delete
    AND an append, restoring to v0 must drop the appended files and
    re-add the DV-bearing file WITHOUT its deletion vector (an add
    action replaces the path's state) — metadata-only, nothing read or
    rewritten, and the restore itself remains time-travelable. The
    restored table hash-matches the untouched supplier oracle."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    dl = DeltaLogTable(spark, _scratch("dlrst"))
    dl.write(sup.repartition(4), mode="append")
    v0 = dl.latest_version()
    dl.delete("s_suppkey % 3 = 0")
    dl.write(
        sup.withColumn("s_suppkey", F.col("s_suppkey") + 500000), mode="append"
    )
    res = dl.restore(v0)
    if res["files_removed"] < 1 or res["files_added"] < 1:
        raise AssertionError(f"unexpected restore accounting {res}")
    post = dl.read()
    if post.filter("s_suppkey >= 500000").count() != 0:
        raise AssertionError("restore kept post-target appends")
    return post.orderBy("s_suppkey")


@query(
    "q183_iceberg_read_changes",
    oracle="""
    SELECT c_custkey, c_name, 'insert' AS _change_type,
           CAST(2 AS BIGINT) AS _commit_snapshot
    FROM customer WHERE c_custkey > 1000
    UNION ALL
    SELECT c_custkey, c_name, 'delete', CAST(3 AS BIGINT)
    FROM customer WHERE c_custkey % 6 = 0
    ORDER BY _commit_snapshot, _change_type, c_custkey
    """,
    tags=("lakehouse", "iceberg", "cdf", "interop"),
)
def q183_iceberg_read_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg INCREMENTAL read (the Delta change-data-feed twin,
    q161 cross-format): rows changed in snapshots (s1, s3] — the
    second append's rows as inserts (tagged with their committing
    snapshot) and the masked positions of a position delete resolved
    back to full rows as deletes. Consumers tail a table by snapshot
    id exactly like a CDF cursor; REPLACE (compaction) snapshots are
    skipped because they move rows without changing them."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    t = IcebergTable(spark, _scratch("icerc") + "_t")
    s1 = t.append(cust.filter(F.col("c_custkey") <= 1000).coalesce(2))
    t.append(cust.filter(F.col("c_custkey") > 1000).coalesce(2))
    t.delete("c_custkey % 6 = 0")
    return t.read_changes(s1).orderBy(
        "_commit_snapshot", "_change_type", "c_custkey"
    )


def _iceberg_renamed_fixture(spark: SparkSession, df: DataFrame, table_dir: str) -> None:
    """Hand-built Iceberg v2 table whose PARQUET carries field ids
    under the ORIGINAL column names while the CURRENT schema renames
    the last column — the post-`ALTER TABLE RENAME COLUMN` shape every
    real Iceberg writer produces (spec 'Column Projection': resolution
    is BY ID; names are display metadata)."""
    import json as _json
    import time
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ent_fins_lakehouse_spark.sources.avro_io import write_ocf
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    data_dir = os.path.join(table_dir, "data")
    meta_dir = os.path.join(table_dir, "metadata")
    os.makedirs(data_dir)
    os.makedirs(meta_dir)
    pdf = df.toPandas()
    pa_types = {"int64": pa.int64(), "object": pa.string(), "float64": pa.float64()}
    fields = [
        pa.field(
            c,
            pa_types[str(pdf[c].dtype)],
            metadata={b"PARQUET:field_id": str(i + 1).encode()},
        )
        for i, c in enumerate(pdf.columns)
    ]
    fpath = os.path.join(data_dir, "part-0.parquet")
    pq.write_table(pa.Table.from_pandas(pdf, schema=pa.schema(fields)), fpath)

    ice_types = {"int64": "long", "object": "string", "float64": "double"}
    sfields = [
        {"id": i + 1, "name": c, "required": False, "type": ice_types[str(pdf[c].dtype)]}
        for i, c in enumerate(pdf.columns)
    ]
    sfields[-1]["name"] = "renamed_" + sfields[-1]["name"]  # the rename
    mpath = os.path.join(meta_dir, f"manifest-{_uuid.uuid4().hex}.avro")
    write_ocf(
        mpath,
        IcebergTable._MANIFEST_SCHEMA,
        [
            {
                "status": 1,
                "snapshot_id": 1,
                "sequence_number": None,
                "data_file": {
                    "content": 0,
                    "file_path": fpath,
                    "file_format": "PARQUET",
                    "record_count": len(pdf),
                    "file_size_in_bytes": os.path.getsize(fpath),
                    "lower_bounds": None,
                    "upper_bounds": None,
                },
            }
        ],
    )
    lpath = os.path.join(meta_dir, f"snap-1-{_uuid.uuid4().hex}.avro")
    write_ocf(
        lpath,
        IcebergTable._MANIFEST_LIST_SCHEMA,
        [
            {
                "manifest_path": mpath,
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": 1,
                "added_snapshot_id": 1,
            }
        ],
    )
    meta = {
        "format-version": 2,
        "table-uuid": str(_uuid.uuid4()),
        "location": table_dir,
        "last-sequence-number": 1,
        "last-updated-ms": int(time.time() * 1000),
        "last-column-id": len(sfields),
        "schemas": [{"schema-id": 0, "type": "struct", "fields": sfields}],
        "current-schema-id": 0,
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "current-snapshot-id": 1,
        "snapshots": [
            {"snapshot-id": 1, "sequence-number": 1,
             "timestamp-ms": int(time.time() * 1000),
             "manifest-list": lpath, "summary": {"operation": "append"}}
        ],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        _json.dump(meta, fh)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write("1")


@query(
    "q184_iceberg_renamed_column",
    oracle="""
    SELECT s_suppkey, s_name, s_acctbal AS renamed_s_acctbal
    FROM supplier ORDER BY s_suppkey
    """,
    tags=("lakehouse", "iceberg", "schema-evolution", "interop"),
)
def q184_iceberg_renamed_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg reads after ALTER TABLE RENAME COLUMN (closes the
    shim's last read refusal): the fixture's parquet stores the
    column under its ORIGINAL name with embedded parquet field ids —
    exactly what real writers produce — while the current schema
    renames it. Resolution goes BY FIELD ID (spec 'Column
    Projection' rule 1) through Spark's native ``parquet.field.id``
    read support, so the renamed column returns its values; name
    matching would silently return all nulls. Files without ids (this
    shim's own writes) keep name resolution — one footer probe
    decides."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    td = _scratch("iceren") + "_t"
    _iceberg_renamed_fixture(spark, sup, td)
    t = IcebergTable(spark, td)
    out = t.read()
    if out.filter(F.col("renamed_s_acctbal").isNull()).count() > 0:
        raise AssertionError("renamed column read as nulls — id resolution failed")
    return out.orderBy("s_suppkey")


@query(
    "q185_sql_dml_on_delta_location",
    oracle="""
    WITH upd AS (
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 4 = 0 THEN c_acctbal + 10.0 ELSE c_acctbal END AS c_acctbal
      FROM customer
    ),
    merged AS (
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey <= 30 THEN c_acctbal + 1000.0 ELSE c_acctbal END AS c_acctbal
      FROM upd
      UNION ALL
      -- inserted rows carry the SOURCE's values (the pre-UPDATE
      -- customer rows), not the updated target's
      SELECT c_custkey + 900000, c_name, c_nationkey, c_acctbal
      FROM customer WHERE c_custkey <= 10
    )
    SELECT * FROM merged WHERE NOT (c_nationkey = 7 AND c_custkey < 900000)
    ORDER BY c_custkey
    """,
    tags=("lakehouse", "delta", "sql", "interop"),
)
def q185_sql_dml_on_delta_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's SQL DML cells against a ``CREATE TABLE … USING
    DELTA LOCATION`` table, END-TO-END IN THE PUBLIC FORMAT: UPDATE,
    MERGE INTO (matched update + not-matched insert) and DELETE FROM
    all route through the facade to :class:`DeltaLogTable` commits —
    the write-side completion of read()'s transparent shim
    fall-through (before r6 these raised; a LakeTable commit would
    have split-brained the table across two logs). The surviving
    table hash-matches the composed oracle, and the final state is
    visible to any Delta reader."""
    from ent_fins_lakehouse_spark.sources.catalog import LakehouseSession
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    ext = _scratch("sqldelta")
    DeltaLogTable(spark, ext).write(cust.repartition(4), mode="append")
    lh = LakehouseSession(spark, _scratch("wh_sqldelta"))
    lh.sql("CREATE DATABASE ext")
    lh.sql(f"CREATE TABLE ext.c USING DELTA LOCATION '{ext}'")
    lh.sql("UPDATE ext.c SET c_acctbal = c_acctbal + 10.0 WHERE c_custkey % 4 = 0")
    src = (
        cust.filter(F.col("c_custkey") <= 30)
        .withColumn("c_acctbal", F.lit(0.0))
        .unionByName(
            cust.filter(F.col("c_custkey") <= 10).withColumn(
                "c_custkey", F.col("c_custkey") + 900000
            )
        )
    )
    src.createOrReplaceTempView("q185_src")
    lh.sql(
        "MERGE INTO ext.c AS t USING q185_src AS s ON t.c_custkey = s.c_custkey "
        "WHEN MATCHED THEN UPDATE SET c_acctbal = t.c_acctbal + 1000.0 "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    lh.sql("DELETE FROM ext.c WHERE c_nationkey = 7 AND c_custkey < 900000")
    # the mutations live in the PUBLIC log (readable by any Delta reader)
    if DeltaLogTable(spark, ext).latest_version() < 3:
        raise AssertionError("SQL DML did not commit to the public _delta_log")
    return lh.sql("SELECT * FROM ext.c").orderBy("c_custkey")


@query(
    "q186_iceberg_rename_column",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice AS list_price FROM part
    UNION ALL
    SELECT p_partkey + 700000, p_name, p_retailprice FROM part WHERE p_partkey <= 50
    ORDER BY p_partkey
    """,
    tags=("lakehouse", "iceberg", "schema-evolution", "interop"),
)
def q186_iceberg_rename_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE RENAME COLUMN on the engine's OWN Iceberg tables
    (q184 covered external fixtures): staged writes embed the Iceberg
    field ids as parquet field ids, the rename is a metadata-only
    schema version keeping the id, and a post-rename append writes
    files under the NEW name with the SAME id — so a read spanning
    pre- and post-rename files resolves both by id and returns full
    values (name matching would null the older half; asserted)."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_retailprice"
    )
    t = IcebergTable(spark, _scratch("iceren2") + "_t")
    t.append(part.repartition(2))
    t.rename_column("p_retailprice", "list_price")
    t.append(
        part.filter(F.col("p_partkey") <= 50)
        .withColumn("p_partkey", F.col("p_partkey") + 700000)
        .withColumnRenamed("p_retailprice", "list_price")
    )
    out = t.read()
    if out.filter(F.col("list_price").isNull()).count() > 0:
        raise AssertionError("pre-rename files read as nulls — id resolution failed")
    return out.orderBy("p_partkey")


@query(
    "q187_delta_shallow_clone",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE c_custkey % 9 <> 0 AND c_custkey > 40
    ORDER BY c_custkey
    """,
    tags=("lakehouse", "delta", "clone", "interop"),
)
def q187_delta_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE in the PUBLIC format: the clone's v0 re-adds the
    source's data files by ABSOLUTE path (spec-legal) — zero bytes
    copied (asserted: no parquet under the clone before its own DML) —
    carrying stats and converting the source's relative DV descriptors
    to absolute paths. The clone then diverges with its own DV DELETE
    while the source stays bit-identical (asserted), the
    dev/test-against-production-data workflow CLONE exists for. The
    diverged clone hash-matches the composed oracle."""
    import glob
    import os

    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    spath = _scratch("clsrc")
    src = DeltaLogTable(spark, spath)
    src.write(cust.repartition(4), mode="append")
    src.delete("c_custkey % 9 = 0")  # source carries a DV
    n_src = src.read().count()
    cpath = _scratch("cldst")
    cl = src.clone(cpath)
    if glob.glob(os.path.join(cpath, "*.parquet")):
        raise AssertionError("shallow clone copied data files")
    cl.delete("c_custkey <= 40")
    if src.read().count() != n_src:
        raise AssertionError("clone DML leaked into the source")
    return cl.read().orderBy("c_custkey")


@query(
    "q189_iceberg_update",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey,
           CASE WHEN s_nationkey < 10 THEN s_acctbal + 50.0 ELSE s_acctbal END
             AS s_acctbal
    FROM supplier
    ORDER BY s_suppkey
    """,
    tags=("lakehouse", "iceberg", "update", "interop"),
)
def q189_iceberg_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level UPDATE on an ICEBERG v2 table (q168's verb,
    cross-format) committed MERGE-ON-READ: one 'overwrite' snapshot
    carries a position-delete manifest masking the old row versions
    plus a data manifest with the re-written rows — no data file is
    rewritten, so write cost scales with the change, not the table.
    The pre-update snapshot must still serve the ORIGINAL values (time
    travel across the update, asserted); the current read hash-matches
    the CASE-expression oracle."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    t = IcebergTable(spark, _scratch("iceupd") + "_t")
    snap0 = t.append(sup.repartition(3))
    res = t.update({"s_acctbal": "s_acctbal + 50.0"}, "s_nationkey < 10")
    n_low = sup.filter(F.col("s_nationkey") < 10).count()
    if res["rows_updated"] != n_low:
        raise AssertionError(f"expected {n_low} updated rows, got {res}")
    before = t.read(snapshot_id=snap0).select(*sup.columns)
    # one evaluation per side instead of up to four (r14, guide §1.2)
    if multiset_diff_count(before, sup) != 0:
        raise AssertionError("pre-update snapshot must serve original values")
    return t.read().orderBy("s_suppkey")


@query(
    "q190_iceberg_merge",
    oracle="""
    WITH src AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100 AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey <= 50
      UNION ALL
      SELECT c_custkey + 100000, c_name, c_nationkey, c_acctbal,
             'NEWSEGMENT' AS c_mktsegment
      FROM customer WHERE c_custkey <= 20
    )
    SELECT * FROM src
    UNION ALL
    SELECT c.* FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.c_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
    tags=("lakehouse", "iceberg", "merge", "interop"),
)
def q190_iceberg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO … USING on an ICEBERG v2 table — the reference's
    core upsert (`01-Fraud-Delta.py:235-241` WHEN MATCHED UPDATE SET *
    / WHEN NOT MATCHED INSERT *) in the Iceberg format, same 50-update
    + 20-insert arc as q30/q165 so all three share one oracle.
    Merge-on-read: matched row versions become position deletes,
    updates + inserts land as new data files, ONE snapshot. Write cost
    follows the change-feed size — the property that lets a 100 TB
    table absorb a 100 MB feed without rewriting itself."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    cust = load_table(spark, sf_dir, "customer")
    t = IcebergTable(spark, _scratch("icemerge") + "_t")
    t.append(cust.repartition(4))
    updates = cust.filter(F.col("c_custkey") <= 50).withColumn(
        "c_acctbal", F.col("c_acctbal") + 100
    )
    inserts = (
        cust.filter(F.col("c_custkey") <= 20)
        .withColumn("c_custkey", F.col("c_custkey") + 100000)
        .withColumn("c_mktsegment", F.lit("NEWSEGMENT"))
    )
    res = t.merge(updates.unionByName(inserts), on=["c_custkey"])
    # independent counts run concurrently (r15, guide §2.6)
    n_upd, n_ins = run_concurrently(spark, updates.count, inserts.count)
    if res["rows_updated"] != n_upd or res["rows_inserted"] != n_ins:
        raise AssertionError(
            f"expected {n_upd} updates + {n_ins} inserts, got {res}"
        )
    return t.read().orderBy("c_custkey")


@query(
    "q194_delta_schema_evolution",
    oracle="""
    SELECT p_partkey,
           p_retailprice AS price,
           CASE WHEN p_partkey % 3 = 2 THEN 'NEW' END AS origin
    FROM part ORDER BY p_partkey
    """,
    tags=("lakehouse", "delta", "ddl", "interop"),
)
def q194_delta_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE schema evolution on the PUBLIC Delta log — the arc
    every aging production table goes through, metadata-only at each
    step (no data file is touched, the property that makes renames
    instant on a 100 TB table):

    v0 seed append → ``RENAME COLUMN`` (auto-upgrades to columnMapping
    ``name`` mode: existing fields get ids + physicalName = their
    current name, so old files still resolve; protocol gains (2,5)) →
    a POST-RENAME append, whose files carry PHYSICAL column names +
    parquet field ids (the write half of q154's read support — without
    it a mapped table is read-only) → ``ADD COLUMN`` (fresh id, opaque
    col-<uuid> physical name; pre-existing files read the new column
    as NULL via the explicit-schema scan) → append carrying the new
    column → ``DROP COLUMN`` (metadata removal; physical data stays,
    never projected). Time travel still serves the PRE-RENAME shape
    from the old metadata. All through the reference-shaped SQL facade
    (`01-Fraud-Delta.py:130-134` DDL idiom + ALTER verbs)."""
    from ent_fins_lakehouse_spark.sources.catalog import LakehouseSession
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_retailprice"
    )
    loc = _scratch("schevo")
    dl = DeltaLogTable(spark, loc)
    dl.write(part.filter(F.col("p_partkey") % 3 == 0), mode="append")

    lh = LakehouseSession(spark, _scratch("schevowh"))
    lh.sql("CREATE DATABASE IF NOT EXISTS evo")
    lh.sql(f"CREATE TABLE evo.parts USING DELTA LOCATION '{loc}'")
    lh.sql("ALTER TABLE evo.parts RENAME COLUMN p_retailprice TO price")

    # post-rename append: physical col names + field ids in the files
    mid = part.filter(F.col("p_partkey") % 3 == 1).withColumnRenamed(
        "p_retailprice", "price"
    )
    dl.write(mid, mode="append")

    lh.sql("ALTER TABLE evo.parts ADD COLUMN origin STRING")
    tail = (
        part.filter(F.col("p_partkey") % 3 == 2)
        .withColumnRenamed("p_retailprice", "price")
        .withColumn("origin", F.lit("NEW"))
    )
    dl.write(tail, mode="append")
    lh.sql("ALTER TABLE evo.parts DROP COLUMN p_name")

    # time travel serves the pre-rename shape from the old metadata
    v0_cols = dl.read(version_as_of=0).columns
    if v0_cols != ["p_partkey", "p_name", "p_retailprice"]:
        raise AssertionError(f"version 0 must keep the original schema, got {v0_cols}")
    out = lh.sql("SELECT * FROM evo.parts")
    if out.columns != ["p_partkey", "price", "origin"]:
        raise AssertionError(f"post-evolution schema wrong: {out.columns}")
    return out.orderBy("p_partkey")


@query(
    "q195_iceberg_cdc_upsert",
    oracle="""
    WITH src AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100 AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey <= 50
      UNION ALL
      SELECT c_custkey + 100000, c_name, c_nationkey, c_acctbal,
             'NEWSEGMENT' AS c_mktsegment
      FROM customer WHERE c_custkey <= 20
    ),
    merged AS (
      SELECT * FROM src
      UNION ALL
      SELECT c.* FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.c_custkey = c.c_custkey)
    )
    SELECT * FROM merged WHERE c_custkey % 7 <> 0 ORDER BY c_custkey
    """,
    tags=("lakehouse", "iceberg", "cdc", "interop"),
)
def q195_iceberg_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC ingestion into Iceberg v2 via EQUALITY DELETE files — the
    Flink-CDC commit shape (content=2, the write half of q164's read
    support). Unlike MERGE (q190), the upsert NEVER READS THE TARGET:
    one snapshot commits the batch's key tuples as an equality delete
    at sequence S (masking older row versions in every file with
    sequence < S) plus the batch rows as data files at S. Write cost
    ∝ batch size — a 100 MB CDC feed commits blind against a 100 TB
    table; readers pay the anti-joins until compact() materializes
    them. Arc: seed append → upsert batch (same 50-update + 20-insert
    arc as q30/q165/q190, one shared oracle family) → key-only
    delete_eq batch → read, with the seed snapshot still serving the
    original rows (time travel across both CDC commits)."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    cust = load_table(spark, sf_dir, "customer")
    t = IcebergTable(spark, _scratch("icecdc") + "_t")
    snap0 = t.append(cust.repartition(4))
    updates = cust.filter(F.col("c_custkey") <= 50).withColumn(
        "c_acctbal", F.col("c_acctbal") + 100
    )
    inserts = (
        cust.filter(F.col("c_custkey") <= 20)
        .withColumn("c_custkey", F.col("c_custkey") + 100000)
        .withColumn("c_mktsegment", F.lit("NEWSEGMENT"))
    )
    res = t.upsert_eq(updates.unionByName(inserts), keys=["c_custkey"])
    n_batch = updates.count() + inserts.count()
    if res["rows_upserted"] != n_batch:
        raise AssertionError(f"expected {n_batch} upserted rows, got {res}")
    dead = t.read().select("c_custkey").filter("c_custkey % 7 = 0")
    t.delete_eq(dead, keys=["c_custkey"])
    if t.read(snapshot_id=snap0).count() != cust.count():
        raise AssertionError("seed snapshot must still serve the original rows")
    return t.read().orderBy("c_custkey")


def _v2_checkpoint_fixture(spark: SparkSession, df, table_dir: str) -> None:
    """Hand-built Delta table whose log is a V2 CHECKPOINT (spec: 'V2
    Spec Checkpoint', what Delta 3.x writers produce under the
    ``v2Checkpoint`` table feature): a UUID-named top-level checkpoint
    parquet carrying protocol / metaData / checkpointMetadata plus
    ``sidecar`` actions, with the add actions living in
    ``_delta_log/_sidecars/*.parquet`` — followed by one ordinary JSON
    commit, with the pre-checkpoint JSON history cleaned away."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(table_dir)
    log = os.path.join(table_dir, "_delta_log")
    sidecar_dir = os.path.join(log, "_sidecars")
    os.makedirs(sidecar_dir)

    pdf = df.toPandas()
    thirds = [pdf[pdf.index % 3 == i] for i in range(3)]
    names = [f"part-{_uuid.uuid4().hex}.snappy.parquet" for _ in range(3)]
    for chunk, name in zip(thirds, names):
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False),
            os.path.join(table_dir, name),
        )

    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
        ]
    )
    # two sidecars: files 0 and 1 in the first, none in the second's
    # place — prove multi-sidecar consumption with files 0/1 split
    sc_names = [f"{_uuid.uuid4().hex}.parquet", f"{_uuid.uuid4().hex}.parquet"]
    for sc_name, file_names in zip(sc_names, (names[0:1], names[1:2])):
        rows = [
            {
                "add": {
                    "path": n,
                    "partitionValues": [],
                    "size": os.path.getsize(os.path.join(table_dir, n)),
                    "modificationTime": 0,
                    "dataChange": True,
                }
            }
            for n in file_names
        ]
        pq.write_table(
            pa.Table.from_pylist(rows, schema=pa.schema([("add", add_t)])),
            os.path.join(sidecar_dir, sc_name),
        )

    schema_json = df.schema.json()
    proto_t = pa.struct(
        [
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ]
    )
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string()),
                                  ("options", pa.map_(pa.string(), pa.string()))])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
            ("createdTime", pa.int64()),
        ]
    )
    cpm_t = pa.struct([("version", pa.int64()), ("tags", pa.map_(pa.string(), pa.string()))])
    sc_t = pa.struct(
        [
            ("path", pa.string()),
            ("sizeInBytes", pa.int64()),
            ("modificationTime", pa.int64()),
        ]
    )
    top_rows = [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["v2Checkpoint"],
                "writerFeatures": ["v2Checkpoint"],
            }
        },
        {
            "metaData": {
                "id": "v2cp-fixture",
                "format": {"provider": "parquet", "options": []},
                "schemaString": schema_json,
                "partitionColumns": [],
                "configuration": [],
                "createdTime": 0,
            }
        },
        {"checkpointMetadata": {"version": 1, "tags": []}},
        *[
            {
                "sidecar": {
                    "path": n,
                    "sizeInBytes": os.path.getsize(os.path.join(sidecar_dir, n)),
                    "modificationTime": 0,
                }
            }
            for n in sc_names
        ],
    ]
    top_schema = pa.schema(
        [
            ("protocol", proto_t),
            ("metaData", meta_t),
            ("checkpointMetadata", cpm_t),
            ("sidecar", sc_t),
        ]
    )
    pq.write_table(
        pa.Table.from_pylist(top_rows, schema=top_schema),
        os.path.join(log, f"{1:020d}.checkpoint.{_uuid.uuid4()}.parquet"),
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        fh.write(json.dumps({"version": 1, "size": len(top_rows)}))
    # one JSON commit past the checkpoint: the third file arrives at v2
    with open(os.path.join(log, f"{2:020d}.json"), "w") as fh:
        fh.write(json.dumps({"commitInfo": {"timestamp": 0, "operation": "WRITE"}}) + "\n")
        fh.write(
            json.dumps(
                {
                    "add": {
                        "path": names[2],
                        "partitionValues": {},
                        "size": os.path.getsize(os.path.join(table_dir, names[2])),
                        "modificationTime": 0,
                        "dataChange": True,
                    }
                }
            )
            + "\n"
        )


@query(
    "q197_delta_v2_checkpoint",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders ORDER BY o_orderkey
    """,
    tags=("lakehouse", "delta", "interop"),
)
def q197_delta_v2_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap from a Delta V2 CHECKPOINT — the log shape Delta 3.x
    writers produce under the ``v2Checkpoint`` table feature, and the
    last checkpoint format the shim didn't read: a UUID-named top-level
    checkpoint file whose add actions live in referenced
    ``_delta_log/_sidecars/`` parquet files, discovered WITHOUT the
    classic ``{v}.checkpoint.parquet`` name. The pre-checkpoint JSON
    history is cleaned away (metadata lives only in the checkpoint) and
    one ordinary JSON commit follows it — so the read proves checkpoint
    discovery, sidecar consumption, protocol feature gating
    (readerVersion 3 + v2Checkpoint) AND post-checkpoint replay in one
    arc. Scale: the bootstrap is one parquet scan of the action table
    + one of the sidecar set, never the data."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    td = _scratch("v2cp") + "_t"
    _v2_checkpoint_fixture(spark, orders, td)
    dl = DeltaLogTable(spark, td)
    if dl.latest_version() != 2:
        raise AssertionError(f"latest version should be 2, got {dl.latest_version()}")
    return dl.read().orderBy("o_orderkey")


@query(
    "q198_iceberg_bucket_partitioning",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey IN (
      SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 5
    )
    ORDER BY o_orderkey
    """,
    tags=("lakehouse", "iceberg", "interop"),
)
def q198_iceberg_bucket_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg ``bucket[16]`` partition transform — hash partitioning
    for point-lookup serving, the spec's answer to high-cardinality
    keys that identity partitioning can't hold (spec: 'Bucket Transform
    Details'): rows land in murmur3_x86_32-ordinal partitions (bit-exact
    vs the reference implementation, vectorized numpy in an Arrow
    batch UDF on the write path), the manifests carry the ordinal in
    each file's partition tuple, and an equality predicate on the
    SOURCE column prunes by rewriting through the same transform —
    ``o_orderkey = K`` reads only bucket(K)'s files. At 100 TB this is
    the difference between a key lookup scanning the table and scanning
    1/16th (or 1/4096th) of it, with no clustering maintenance. Each
    lookup here is asserted to prune; the unioned result hash-matches
    the IN-list oracle."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = IcebergTable(spark, _scratch("icebucket") + "_t")
    t.append(orders.repartition(4), partition_by=["bucket(16, o_orderkey)"])
    keys = [r[0] for r in orders.orderBy("o_orderkey").limit(5).collect()]
    parts = []
    for k in keys:
        info = t.scan_info(f"o_orderkey = {k}")
        if info["n_read"] >= info["n_active"]:
            raise AssertionError(f"bucket pruning did not engage for key {k}: {info}")
        parts.append(t.read(where=f"o_orderkey = {k}"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("o_orderkey")


@query(
    "q201_iceberg_truncate_partitioning",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey BETWEEN 3000 AND 4500
    ORDER BY o_orderkey
    """,
    tags=("lakehouse", "iceberg", "interop"),
)
def q201_iceberg_truncate_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg ``truncate[1024]`` partition transform — range
    clustering where bucket's hash scatter would destroy locality
    (spec: 'Truncate Transform Details'): int keys floor to 1024-wide
    blocks (``v − (((v % W) + W) % W)``, floor-toward-−∞ including
    negatives), strings to prefixes — pure JVM staging exprs, no UDF.
    Unlike bucket ordinals, a truncate tuple IS source-column
    information: an int tuple t pins the file to [t, t+1023], a string
    tuple to the prefix interval — so the reader turns tuples into real
    bounds and BOTH equality and RANGE predicates prune with no
    predicate rewriting (string partition pruning too, which parquet
    footers can't give — they truncate string min/max). The BETWEEN
    scan here is asserted to read only the overlapping blocks."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = IcebergTable(spark, _scratch("icetrunc") + "_t")
    t.append(orders.repartition(4), partition_by=["truncate(1024, o_orderkey)"])
    info = t.scan_info("o_orderkey BETWEEN 3000 AND 4500")
    if info["n_read"] >= info["n_active"]:
        raise AssertionError(f"truncate range pruning did not engage: {info}")
    return t.read(where="o_orderkey BETWEEN 3000 AND 4500").orderBy("o_orderkey")


@query(
    "q202_iceberg_day_partitioning",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS total_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <  TIMESTAMP '2024-01-17 00:00:00'
    GROUP BY 1 ORDER BY 1
    """,
    tags=("lakehouse", "iceberg", "interop"),
)
def q202_iceberg_day_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg ``day(ts)`` temporal partition transform — the default
    layout of every event-time fact table (spec: 'Partition
    Transforms'): rows land in days-since-epoch ordinal partitions
    (pure JVM floor division, pre-1970 safe), and the reader decodes
    each tuple into a conservative [day, next-day) DATE-string bound on
    the SOURCE timestamp — so event-time range scans prune to exactly
    the overlapping days with no predicate rewriting. At 100 TB this is
    the difference between a one-week dashboard query scanning 3 years
    of events and scanning 7 days — the hypertable/time-chunking
    pattern as Iceberg metadata. The week-window scan here is asserted
    to read less than the full file set before aggregating."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable
    from ent_fins_lakehouse_spark.functions.numeric import dec

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    t = IcebergTable(spark, _scratch("iceday") + "_t")
    t.append(ev.repartition(8), partition_by=["day(ts)"])
    pred = "ts >= '2024-01-10 00:00:00' AND ts < '2024-01-17 00:00:00'"
    info = t.scan_info(pred)
    if info["n_read"] >= info["n_active"]:
        raise AssertionError(f"day pruning did not engage: {info}")
    return (
        t.read(where=pred)
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .orderBy("day")
    )


@query(
    "q209_iceberg_to_delta_convert",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier ORDER BY s_suppkey
    """,
    tags=("lakehouse", "delta", "iceberg", "interop"),
)
def q209_iceberg_to_delta_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg → Delta METADATA-ONLY conversion — q172's reverse (the
    XTable both-directions contract): a `_delta_log` is synthesized
    whose add actions point at the Iceberg table's own parquet files
    (absolute paths — the shallow-clone mechanism), with each manifest
    entry's record count and bounds re-encoded as Delta per-file
    stats, so the converted table FILE-SKIPS exactly like the source.
    Zero data copied (asserted: the destination holds no parquet).
    A truncate-partitioned source converts too — the spec keeps source
    columns in the files, so the Delta side sees complete rows and the
    tuple-derived bounds keep pruning. Tables carrying delete files
    refuse (compact() first). At 100 TB, format migration as a
    control-plane op over file listings, not a petabyte rewrite."""
    import glob

    from ent_fins_lakehouse_spark.sources.iceberg import (
        IcebergTable,
        convert_iceberg_to_delta,
    )

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    src = IcebergTable(spark, _scratch("ice2delta") + "_t")
    # width-4 truncate blocks exist at EVERY test sf (sf0.001's keys
    # stop at 9 — a width of 64 would leave one unprunable block)
    src.append(sup.filter(F.col("s_suppkey") % 2 == 0).repartition(2),
               partition_by=["truncate(4, s_suppkey)"])
    src.append(sup.filter(F.col("s_suppkey") % 2 == 1).repartition(2),
               partition_by=["truncate(4,s_suppkey)"])
    dest = _scratch("ice2delta") + "_delta"
    dl = convert_iceberg_to_delta(spark, src, dest)
    if glob.glob(os.path.join(dest, "**", "*.parquet"), recursive=True):
        raise AssertionError("conversion must not copy data files")
    info = dl.scan_info("s_suppkey <= 2")
    if info["n_pruned"] == 0:
        raise AssertionError(f"converted stats must still skip files: {info}")
    return dl.read().orderBy("s_suppkey")


@query(
    "q213_iceberg_spec_evolution",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM documents ORDER BY doc_id
    """,
    tags=("lakehouse", "iceberg", "interop"),
)
def q213_iceberg_spec_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg partition-spec EVOLUTION (spec: 'Partition Evolution'):
    a table created with identity(lang) partitioning is re-pointed at
    truncate(16, doc_id) via a METADATA-ONLY commit — no snapshot, no
    data rewrite, O(1) on a 100 TB table — and subsequent appends
    stage under the new layout. Reads interpret every manifest's
    partition tuples under THAT manifest's spec id, so BOTH
    generations keep pruning: the asserted scan_info calls prove a
    lang equality skips old-spec files (identity tuples → [v,v]
    bounds) while a doc_id range skips new-spec files (truncate
    tuples → [t, t+15] bounds), and appends declaring the superseded
    spec are refused loudly."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    t = IcebergTable(spark, _scratch("specevo") + "_t")
    t.append(docs.filter(F.col("doc_id") % 2 == 0), partition_by=["lang"])
    new_spec = t.evolve_spec(["truncate(16, doc_id)"])
    if new_spec != 1:
        raise AssertionError(f"expected spec id 1, got {new_spec}")
    t.append(docs.filter(F.col("doc_id") % 2 == 1),
             partition_by=["truncate(16, doc_id)"])
    li = t.scan_info("lang = 'zh'")
    if li["n_pruned"] == 0:
        raise AssertionError(f"identity tuples must still prune: {li}")
    di = t.scan_info("doc_id <= 15")
    if di["n_pruned"] == 0:
        raise AssertionError(f"truncate tuples must prune post-evolution: {di}")
    try:
        t.append(docs.limit(1), partition_by=["lang"])
        raise AssertionError("append under the superseded spec must refuse")
    except ValueError:
        pass
    return t.read().orderBy("doc_id")


@query(
    "q214_delta_generated_columns",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1 ORDER BY 1
    """,
    tags=("lakehouse", "delta", "interop"),
)
def q214_delta_generated_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta GENERATED COLUMNS (protocol: 'Generated Columns',
    writerVersion 4) on the public log: the table is created with
    ``event_date GENERATED ALWAYS AS (CAST(ts AS DATE))`` as its
    partition column — the canonical date-from-timestamp layout that
    gives event-time queries partition pruning without the writer ever
    supplying the column. Asserted in-line: an append WITHOUT the
    column has it computed; an append carrying a value that disagrees
    with the expression is refused (the O(write-size) validation scan,
    like CHECK constraints); a date-equality scan_info prunes all but
    one partition's files (ISO partitionValues compare
    lexicographically = chronologically). At 100 TB the win is the
    pruning: a one-day dashboard query reads one day's files, and
    enforcement cost stays proportional to the write, never the
    table."""
    from ent_fins_lakehouse_spark.functions.numeric import dsum
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    t = DeltaLogTable(spark, _scratch("gencol") + "_t")
    t.write(
        ev.filter(F.col("event_id") % 2 == 0),
        mode="overwrite",
        partition_by=["event_date"],
        generated_columns={"event_date": "CAST(ts AS DATE)"},
    )
    # second writer never mentions event_date — the table computes it
    t.write(ev.filter(F.col("event_id") % 2 == 1), mode="append")
    one_day = t.read().select(F.col("event_date").cast("string")).first()[0]
    info = t.scan_info(f"event_date = '{one_day}'")
    if info["n_pruned"] == 0:
        raise AssertionError(f"generated partition column must prune: {info}")
    try:
        t.write(
            ev.limit(1).withColumn("event_date", F.expr("DATE '1999-01-01'")),
            mode="append",
        )
        raise AssertionError("value disagreeing with the expression must refuse")
    except ValueError:
        pass
    return (
        t.read()
        .groupBy(F.col("event_date").cast("string").alias("event_date"))
        .agg(F.count("*").alias("n"), dsum("value").alias("total_value"))
        .orderBy("event_date")
    )


@query(
    "q215_bloom_file_index",
    oracle="""
    SELECT event_id, event_type,
           CAST(CAST(value AS DECIMAL(12,4)) AS DOUBLE) AS value
    FROM events WHERE event_id IN (101, 333, 501, 750, 888)
    ORDER BY event_id
    """,
    tags=("lakehouse", "delta", "skipping"),
)
def q215_bloom_file_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file BLOOM FILTER index for high-cardinality point lookups
    (the Databricks Delta bloom-index shape, as an engine sidecar):
    the table is written hash-shuffled so every file spans the whole
    key domain — min/max range stats are PROVABLY useless (asserted:
    zero files pruned pre-index) — then one distributed applyInPandas
    pass builds an fpp=1% bloom per file, keyed by the add action.
    Point probes then skip every file whose filter proves the key
    absent (asserted: fewer files read than active), with
    post-index appends simply carrying no entry (never skipped —
    sound). At 100 TB this is the needle-in-haystack path: a key
    lookup over randomly-ordered data reads ~1 file instead of all of
    them, and the index build touches each row exactly once."""
    from functools import reduce

    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    t = DeltaLogTable(spark, _scratch("bloom") + "_t")
    t.write(
        ev.repartition(8, F.md5(F.col("event_id").cast("string"))),
        mode="overwrite",
    )
    pre = t.scan_info("event_id = 501")
    if pre["n_pruned"] != 0:
        raise AssertionError(f"range stats must be useless pre-index: {pre}")
    t.create_bloom_index("event_id", fpp=0.01)
    parts = []
    for key in (101, 333, 501, 750, 888):
        info = t.scan_info(f"event_id = {key}")
        if info["n_read"] >= info["n_active"]:
            raise AssertionError(f"bloom probe must skip files: {info}")
        parts.append(t.read(where=f"event_id = {key}"))
    out = reduce(lambda a, b: a.unionAll(b), parts)
    return (
        out.select(
            "event_id",
            "event_type",
            F.col("value").cast("decimal(12,4)").cast("double").alias("value"),
        )
        .orderBy("event_id")
    )


@query(
    "q216_delta_identity_columns",
    oracle="""
    SELECT COUNT(*) AS n_rows, COUNT(*) AS n_distinct,
           COUNT(*) AS above_start, COUNT(*) AS step_aligned
    FROM events
    """,
    tags=("lakehouse", "delta"),
)
def q216_delta_identity_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta IDENTITY COLUMNS (protocol: 'Identity Columns',
    writerVersion 6): ``row_id BIGINT GENERATED ALWAYS AS IDENTITY
    (START WITH 100 INCREMENT BY 10)`` — the surrogate-key generator.
    Assignment is fully distributed: each partition numbers its rows
    inside a disjoint reserved span above the high water mark (a
    per-partition window — no global sort, no driver counter), so
    values are UNIQUE and ascending-by-batch with gaps, exactly
    Delta's contract for concurrent/partitioned writers. The high
    water mark advances from the committed files' add-action stats —
    zero extra scan — and persists in the re-emitted metaData, so the
    second append provably allocates above the first (asserted).
    Explicit values for the column are refused (GENERATED ALWAYS).
    The oracle checks the invariants the feature guarantees:
    row-count preserved, all ids distinct, at-or-above start,
    step-aligned."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    t = DeltaLogTable(spark, _scratch("ident") + "_t")
    t.write(
        ev.filter(F.col("event_id") % 2 == 0).repartition(4),
        mode="overwrite",
        identity_columns={"row_id": {"start": 100, "step": 10}},
    )
    hwm1 = t.read().agg(F.max("row_id")).first()[0]
    t.write(ev.filter(F.col("event_id") % 2 == 1).repartition(3), mode="append")
    full = t.read()
    batch2_min = full.filter(F.col("event_id") % 2 == 1).agg(
        F.min("row_id")
    ).first()[0]
    if batch2_min <= hwm1:
        raise AssertionError(
            f"append must allocate above the high water mark: {batch2_min} <= {hwm1}"
        )
    try:
        t.write(ev.limit(1).withColumn("row_id", F.lit(1).cast("long")), mode="append")
        raise AssertionError("explicit identity values must refuse")
    except ValueError:
        pass
    return full.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("row_id").alias("n_distinct"),
        F.count_if(F.col("row_id") >= 100).alias("above_start"),
        F.count_if((F.col("row_id") - 100) % 10 == 0).alias("step_aligned"),
    )


@query(
    "q217_uniform_incremental_sync",
    oracle="""
    SELECT s_suppkey, s_name, s_acctbal FROM supplier
    WHERE (s_suppkey % 3 = 0 OR s_suppkey % 3 = 1) AND s_suppkey <= 50
    ORDER BY s_suppkey
    """,
    tags=("lakehouse", "delta", "iceberg", "interop"),
)
def q217_uniform_incremental_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniForm-style INCREMENTAL Delta→Iceberg sync (the XTable
    incremental contract, one step past q172's one-shot conversion):
    the Iceberg snapshot summary anchors the last-synced Delta
    version, so a later sync translates ONLY the commits since then —
    an append window becomes one Iceberg append snapshot carrying just
    the new files with prior manifests reused untouched (sync cost is
    O(new files), not O(table), the property that makes continuous
    dual-format publication viable at 100 TB); a window containing
    removals (DELETE + OPTIMIZE here) degrades to one REPLACE snapshot
    over the current listing — still zero bytes of data copied, and
    every earlier snapshot stays time-travelable (asserted). An
    in-sync table returns None (asserted); the op chain is asserted
    ['append', 'append', 'replace']."""
    from ent_fins_lakehouse_spark.sources.iceberg import (
        convert_delta_to_iceberg,
        sync_delta_to_iceberg,
    )
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    base = _scratch("unisync")
    t = DeltaLogTable(spark, base + "_delta")
    t.write(sup.filter(F.col("s_suppkey") % 3 == 0), mode="overwrite")
    ice = convert_delta_to_iceberg(spark, t, base + "_ice")
    if sync_delta_to_iceberg(spark, t, ice) is not None:
        raise AssertionError("in-sync table must be a no-op")
    t.write(sup.filter(F.col("s_suppkey") % 3 == 1), mode="append")
    if sync_delta_to_iceberg(spark, t, ice) is None:
        raise AssertionError("append window must produce a snapshot")
    n_mid = ice.read().count()
    t.delete("s_suppkey > 50")
    t.optimize()
    sync_delta_to_iceberg(spark, t, ice)
    ops = [s["summary"]["operation"] for s in ice.snapshots()]
    if ops != ["append", "append", "replace"]:
        raise AssertionError(f"unexpected sync op chain: {ops}")
    if ice.read(snapshot_id=2).count() != n_mid:
        raise AssertionError("pre-replace snapshot must stay time-travelable")
    return ice.read().orderBy("s_suppkey")


@query(
    "q218_hll_sketch_rollup",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             COUNT(DISTINCT user_id) AS n_exact
      FROM events GROUP BY 1
    )
    SELECT day, n_exact, TRUE AS within_tol FROM daily
    UNION ALL
    SELECT 'TOTAL' AS day, COUNT(DISTINCT user_id) AS n_exact,
           TRUE AS within_tol
    FROM events
    ORDER BY day
    """,
    tags=("lakehouse", "sketch", "incremental"),
)
def q218_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches as PERSISTED table state (Apache
    DataSketches via Spark's hll_sketch_agg family): per-day user
    sketches are built in one pass over events, persisted to a Delta
    table as a binary column, and every later distinct-users question
    — per day or across ANY day range — is answered by unioning the
    KB-sized sketches, never rescanning the raw events. This is the
    incremental-view pattern that makes 'distinct users last 90 days'
    a metadata-sized query on a 100 TB event store: ingestion appends
    one sketch row per (day, batch); re-aggregation is associative, so
    the rollup shuffles sketch bytes, not user ids.

    Correctness gate: the estimate must land within 2%% of the exact
    per-day AND total distinct counts (lgConfigK=14 ≈ 0.8%% RSE) —
    the ``within_tol`` column hash-checks that invariant against the
    oracle's exact counts; a sketch regression flips it to false and
    the driver flags the mismatch."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    daily = ev.groupBy(F.to_date("ts").cast("string").alias("day")).agg(
        F.hll_sketch_agg(F.col("user_id"), F.lit(14)).alias("sk"),
        F.countDistinct("user_id").alias("n_exact"),
    )
    t = DeltaLogTable(spark, _scratch("hll") + "_t")
    t.write(daily, mode="overwrite")
    sk = t.read()
    per_day = sk.select(
        "day",
        "n_exact",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("n_exact"))
            <= F.greatest(F.col("n_exact") * 0.02, F.lit(1.0))
        ).alias("within_tol"),
    )
    total = sk.agg(
        F.hll_union_agg("sk").alias("sk"),
        # the exact total is NOT the sum of dailies (users repeat
        # across days) — recomputed from raw once, for the gate only
    ).crossJoin(
        ev.agg(F.countDistinct("user_id").alias("n_exact"))
    ).select(
        F.lit("TOTAL").alias("day"),
        "n_exact",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("n_exact"))
            <= F.greatest(F.col("n_exact") * 0.02, F.lit(1.0))
        ).alias("within_tol"),
    )
    return per_day.unionAll(total).orderBy("day")


@query(
    "q219_copy_into",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier ORDER BY s_suppkey
    """,
    tags=("lakehouse", "delta", "ingest"),
)
def q219_copy_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``COPY INTO`` — idempotent file-level ingestion (the platform
    verb behind the reference's re-runnable batch loads; the batch
    sibling of `Auto Loader demo.py:69-76`'s incremental stream): the
    same statement re-run loads each landing-zone file exactly once,
    tracked in COPY INTO commitInfo actions on the public Delta log.
    Sequence here: land part of supplier → COPY → COPY again (must be
    a no-op) → land the rest → COPY (loads only the new files). Any
    double-load would duplicate rows and hash-mismatch the oracle."""
    import glob
    import shutil
    import uuid as _uuid

    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    land = _scratch("copyland")
    stage = _scratch("copystage")

    def land_files(df: DataFrame, nparts: int) -> int:
        """Land df as parquet files; returns how many actually landed
        (AQE may coalesce below nparts at small scale)."""
        df.repartition(nparts).write.mode("overwrite").parquet(stage)
        moved = 0
        for f in glob.glob(os.path.join(stage, "part-*.parquet")):
            shutil.move(f, os.path.join(land, f"{_uuid.uuid4().hex}.parquet"))
            moved += 1
        return moved

    n_a = land_files(sup.filter(F.col("s_suppkey") <= 50), 2)
    t = DeltaLogTable(spark, _scratch("copyinto") + "_t")
    m1 = t.copy_into(land, pattern="*.parquet")
    m2 = t.copy_into(land, pattern="*.parquet")  # re-run: must skip all
    if m1["n_loaded"] != n_a or m2["n_loaded"] != 0 or m2["n_skipped"] != n_a:
        raise AssertionError(f"COPY INTO idempotence broken: {m1} then {m2}")
    n_b = land_files(sup.filter(F.col("s_suppkey") > 50), 3)
    m3 = t.copy_into(land, pattern="*.parquet")
    if m3["n_loaded"] != n_b or m3["n_skipped"] != n_a:
        raise AssertionError(f"COPY INTO incremental load broken: {m3}")
    return t.read().select(*sup.columns).orderBy("s_suppkey")


@query(
    "q220_iceberg_refs",
    oracle="""
    WITH agg AS (
      SELECT 'branch_audit' AS ref, COUNT(*) AS n,
             CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
      FROM supplier
      UNION ALL
      SELECT 'main_after_publish' AS ref, COUNT(*) AS n,
             CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
      FROM supplier
      UNION ALL
      SELECT 'tag_v1' AS ref, COUNT(*) AS n,
             CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
      FROM supplier WHERE s_suppkey <= 60
    )
    SELECT * FROM agg ORDER BY ref
    """,
    tags=("lakehouse", "iceberg", "refs"),
)
def q220_iceberg_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg named refs (spec v2 'Refs') — tags + branches + the
    write-audit-publish flow: tag ``v1`` pins the first snapshot
    forever; branch ``audit`` takes appends WITHOUT moving main
    (readers of main are isolated from in-audit data); publishing is
    ``fast_forward`` — a metadata-only commit. Snapshot expiration
    pins every ref'd snapshot. This is how a 100 TB table takes
    staging writes with zero copies: branch commits reuse the same
    manifests/data files, isolation is a pointer, publish is O(1).

    Gates (raise on violation): main sees only pre-branch rows while
    the branch holds them all; expire_snapshots keeps the tagged snapshot; the result
    hashes per-ref counts + DECIMAL balance sums vs the oracle."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    n_total = sup.count()
    n_first = sup.filter(F.col("s_suppkey") <= 60).count()
    t = IcebergTable(spark, _scratch("icerefs") + "_t")
    t.append(sup.filter(F.col("s_suppkey") <= 60))
    t.set_ref("v1", ref_type="tag")
    t.set_ref("audit", ref_type="branch")
    t.append(sup.filter(F.col("s_suppkey") > 60), branch="audit")
    n_main = t.read().count()
    n_branch = t.read(ref="audit").count()
    if n_main != n_first or n_branch != n_total:
        raise AssertionError(
            f"branch isolation broken: main={n_main}, audit={n_branch}"
        )
    t.expire_snapshots(keep_last=1)
    if t.read(ref="v1").count() != n_first:  # tag pinned through expiration
        raise AssertionError("expire_snapshots dropped a tagged snapshot")
    t.fast_forward("audit")

    def agg(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.count("*").alias("n"),
            F.sum(F.col("s_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("bal"),
        ).select(F.lit(label).alias("ref"), "n", "bal")

    return (
        agg(t.read(ref="v1"), "tag_v1")
        .unionAll(agg(t.read(ref="audit"), "branch_audit"))
        .unionAll(agg(t.read(), "main_after_publish"))
        .orderBy("ref")
    )


@query(
    "q221_iceberg_month_year_partitioning",
    oracle="""
    SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-02-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-08-01 00:00:00'
    GROUP BY 1 ORDER BY 1
    """,
    tags=("lakehouse", "iceberg", "interop"),
)
def q221_iceberg_month_year_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg ``month(ts)``/``year(ts)`` temporal transforms —
    completing the hidden-partitioning family (day: q202): ordinals
    are months/years since 1970 (pure JVM exprs, negative-safe), and
    the reader decodes each tuple into a conservative
    [start, next-start) DATE-string bound on the SOURCE column, so
    calendar-range scans prune with NO predicate rewriting. A 6-month
    window over 6+ years of orders must read < the full file set on
    BOTH layouts — the coarser year table prunes to ~1-2 files, the
    month table to ~6; same aggregation result either way (asserted
    by returning the month-table scan and gating the year table's
    count equality)."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable
    from ent_fins_lakehouse_spark.functions.numeric import dec

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    pred = (
        "o_orderdate >= '1996-02-01 00:00:00' AND "
        "o_orderdate < '1996-08-01 00:00:00'"
    )
    tm = IcebergTable(spark, _scratch("icemonth") + "_t")
    tm.append(orders.repartition(8), partition_by=["month(o_orderdate)"])
    ty = IcebergTable(spark, _scratch("iceyear") + "_t")
    ty.append(orders.repartition(8), partition_by=["year(o_orderdate)"])
    for t, unit in ((tm, "month"), (ty, "year")):
        info = t.scan_info(pred)
        if info["n_read"] >= info["n_active"]:
            raise AssertionError(f"{unit} pruning did not engage: {info}")
    n_year = ty.read(where=pred).count()
    out = (
        tm.read(where=pred)
        .groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("month")
    )
    if n_year != tm.read(where=pred).count():
        raise AssertionError("month- and year-layout scans disagree")
    return out


@query(
    "q223_histogram_quantile_rollup",
    oracle="""
    WITH per AS (
      SELECT source, COUNT(*) AS n,
             CAST(quantile_cont(n_chars, 0.5) AS DOUBLE) AS p50
      FROM documents GROUP BY source
    )
    SELECT source, n, p50, TRUE AS within_tol FROM per
    UNION ALL
    SELECT 'TOTAL' AS source, COUNT(*) AS n,
           CAST(quantile_cont(n_chars, 0.5) AS DOUBLE) AS p50,
           TRUE AS within_tol
    FROM documents
    ORDER BY source
    """,
    tags=("lakehouse", "sketch", "incremental"),
)
def q223_histogram_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equi-width histograms as PERSISTED quantile state —
    q218's (HLL/distinct) twin for percentiles: per-source bin counts
    over document length are built in one pass, persisted to a Delta
    table as (source, bin, cnt) rows, and any later quantile question
    — per source or for ANY source union — is answered by summing
    KB-sized bin rows, never rescanning the corpus. Merging is
    element-wise addition (associative/commutative), so incremental
    ingest appends one histogram per (source, batch) and rollups
    shuffle bin counts, not documents. Bin bounds ride in-plan as a
    1-row broadcast cross join (no driver constant).

    Correctness gate: the histogram's p50 estimate must land within
    one bin width of the EXACT per-source and global medians (Spark's
    exact ``percentile``, hash-checked against DuckDB's
    ``quantile_cont``); ``within_tol`` flips false on any sketch
    regression and the driver flags the mismatch."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    NBINS = 128
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    bounds = docs.agg(
        F.min("n_chars").alias("lo"),
        (F.max("n_chars") + 1).alias("hi"),  # half-open domain
    )
    binned = docs.crossJoin(F.broadcast(bounds)).select(
        "source",
        "lo",
        "hi",
        F.least(
            F.lit(NBINS - 1),
            F.floor(
                (F.col("n_chars") - F.col("lo"))
                * NBINS
                / (F.col("hi") - F.col("lo"))
            ),
        ).alias("bin"),
    )
    hist = binned.groupBy("source", "lo", "hi", "bin").agg(
        F.count("*").alias("cnt")
    )
    t = DeltaLogTable(spark, _scratch("histq") + "_t")
    t.write(hist, mode="overwrite")
    sk = t.read()

    def estimate(h: DataFrame, key) -> DataFrame:
        """p50 from bin counts: first bin where the running total
        crosses n/2, estimated at the bin midpoint."""
        agg = h.groupBy(key, "lo", "hi", "bin").agg(F.sum("cnt").alias("cnt"))
        w = W.partitionBy(key).orderBy("bin")
        tot = W.partitionBy(key)
        return (
            agg.withColumn("cum", F.sum("cnt").over(w))
            .withColumn("n", F.sum("cnt").over(tot))
            .filter(F.col("cum") >= F.col("n") / 2)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                F.col(key).alias("source"),
                "n",
                (
                    F.col("lo")
                    + (F.col("bin") + 0.5)
                    * (F.col("hi") - F.col("lo"))
                    / NBINS
                ).alias("p50_est"),
                ((F.col("hi") - F.col("lo")) / NBINS).alias("width"),
            )
        )

    from pyspark.sql import Window as W  # noqa: F811 (local alias)

    per_est = estimate(sk, "source")
    tot_est = estimate(sk.withColumn("all", F.lit("TOTAL")), "all")
    exact_per = docs.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.5)").alias("p50")
    )
    exact_tot = docs.agg(
        F.expr("percentile(n_chars, 0.5)").alias("p50")
    ).select(F.lit("TOTAL").alias("source"), "p50")
    est = per_est.unionAll(tot_est)
    exact = exact_per.unionAll(exact_tot)
    return (
        est.join(exact, "source")
        .select(
            "source",
            "n",
            "p50",
            (F.abs(F.col("p50_est") - F.col("p50")) <= F.col("width")).alias(
                "within_tol"
            ),
        )
        .orderBy("source")
    )


@query(
    "q231_analyze_table_stats",
    oracle="""
    WITH s AS (
      SELECT 'c_mktsegment' AS col_name,CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             COUNT(DISTINCT c_mktsegment) AS ndv_exact,
             CAST(MIN(c_mktsegment) AS VARCHAR) AS min_value,
             CAST(MAX(c_mktsegment) AS VARCHAR) AS max_value
      FROM customer
      UNION ALL
      SELECT 'c_nationkey',
             CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(DISTINCT c_nationkey),
             CAST(MIN(c_nationkey) AS VARCHAR), CAST(MAX(c_nationkey) AS VARCHAR)
      FROM customer
      UNION ALL
      SELECT '__table__', 0, COUNT(*), NULL, NULL FROM customer
    )
    SELECT col_name, n_nulls, ndv_exact, TRUE AS within_tol,
           min_value, max_value
    FROM s ORDER BY col_name
    """,
    tags=("lakehouse", "catalog", "stats"),
)
def q231_analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS`` — the
    CBO-stats verb (Spark/Databricks parity) through the SQL facade:
    one distributed pass computes rowCount + per-column nullCount /
    HLL ndv / min / max, persisted as a version-stamped sidecar so
    later writes mark them stale (asserted in tests). The returned
    relation hash-checks the EXACT stats (nulls, min, max, rowCount)
    and gates the HLL ndv within 5% of exact via ``within_tol`` —
    identical to how Spark's own ANALYZE trades a per-column exact
    distinct shuffle for one sketch pass at scale."""
    from ent_fins_lakehouse_spark.sources.lakehouse import LakeTable

    cust = load_table(spark, sf_dir, "customer")
    t = LakeTable(spark, _scratch("analyze"))
    t.write(cust, mode="overwrite")
    stats = t.analyze(["c_nationkey", "c_mktsegment"])
    got = t.stats()
    if got is None or not got["fresh"] or got["rowCount"] != stats["rowCount"]:
        raise AssertionError(f"stats sidecar broken: {got}")
    exact = (
        cust.groupBy()
        .agg(
            F.countDistinct("c_nationkey").alias("nk"),
            F.countDistinct("c_mktsegment").alias("mk"),
            F.count("*").alias("n"),
        )
        .first()
    )
    rows = []
    for col, nd_exact in (("c_nationkey", exact["nk"]), ("c_mktsegment", exact["mk"])):
        cs = stats["columns"][col]
        rows.append(
            (
                col,
                cs["nullCount"],
                nd_exact,
                abs(cs["ndv"] - nd_exact) <= max(1, int(0.05 * nd_exact)),
                cs["min"],
                cs["max"],
            )
        )
    rows.append(("__table__", 0, stats["rowCount"], True, None, None))
    return spark.createDataFrame(
        rows,
        "col_name STRING, n_nulls LONG, ndv_exact LONG, within_tol BOOLEAN, "
        "min_value STRING, max_value STRING",
    ).orderBy("col_name")


@query(
    "q234_dlt_expectations",
    oracle="""
    WITH flags AS (
      SELECT *,
        COALESCE(l_quantity BETWEEN 1 AND 50, FALSE) AS p_qty,
        COALESCE(l_extendedprice > 0, FALSE) AS p_price,
        COALESCE(l_discount BETWEEN 0 AND 0.1, FALSE) AS p_disc,
        COALESCE(l_shipdate IS NOT NULL, FALSE) AS p_ship
      FROM lineitem
    ),
    m AS (
      SELECT 'valid_qty' AS rule, 'drop' AS action,CAST(SUM(CASE WHEN NOT p_qty THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
             COUNT(*) AS n_rows FROM flags
      UNION ALL
      SELECT 'positive_price', 'drop',
             CAST(SUM(CASE WHEN NOT p_price THEN 1 ELSE 0 END) AS BIGINT), COUNT(*) FROM flags
      UNION ALL
      SELECT 'sane_discount', 'warn',
             CAST(SUM(CASE WHEN NOT p_disc THEN 1 ELSE 0 END) AS BIGINT), COUNT(*) FROM flags
      UNION ALL
      SELECT 'shipdate_present', 'fail',
             CAST(SUM(CASE WHEN NOT p_ship THEN 1 ELSE 0 END) AS BIGINT), COUNT(*) FROM flags
      UNION ALL
      SELECT '__clean__', '',
             COUNT(*) FILTER (WHERE p_qty AND p_price), COUNT(*) FROM flags
      UNION ALL
      SELECT '__quarantine__', '',
             COUNT(*) FILTER (WHERE NOT (p_qty AND p_price)), COUNT(*) FROM flags
    )
    SELECT * FROM m ORDER BY rule
    """,
    tags=("lakehouse", "quality", "expectations"),
)
def q234_dlt_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline data-quality expectations — the Delta Live Tables
    surface (`@dlt.expect` / `expect_or_drop` / `expect_or_fail`) the
    reference's platform layers over exactly this kind of medallion
    cleanup (`01-Fraud-Delta.py:59-80`'s bronze→silver cell): three
    enforcement levels over lineitem in ONE metrics aggregation pass
    (all rules as summed predicates — no per-rule scan) plus a
    clean/quarantine split carrying per-row violation lists. DLT null
    semantics (NULL = violation), unlike CHECK constraints (q181).
    The fail-level rule passes here; its abort path is exercised in
    tests/test_lakehouse.py."""
    from ent_fins_lakehouse_spark.operators.expectations import (
        Expectation,
        apply_expectations,
        gate_condition,
    )

    li = load_table(spark, sf_dir, "lineitem")
    exps = [
        Expectation("valid_qty", "l_quantity BETWEEN 1 AND 50", "drop"),
        Expectation("positive_price", "l_extendedprice > 0", "drop"),
        Expectation("sane_discount", "l_discount BETWEEN 0 AND 0.1", "warn"),
        Expectation("shipdate_present", "l_shipdate IS NOT NULL", "fail"),
    ]
    clean, quarantine, metrics = apply_expectations(li, exps)
    # r14 (guide §1.2): the split tallies were FOUR more full-table
    # jobs (clean.count, quarantine.count, li.count ×2) after the
    # operator's single metrics pass. ONE aggregate over the operator's
    # own gate conjunction gives all four numbers: n_clean = Σ all-pass
    # (clean is filter(all_pass)), n_quarantine = n − n_clean exactly
    # (quarantine is filter(~all_pass) and the coalesced gate is never
    # NULL, so the two filters partition the table).
    gate_pass = gate_condition(exps)
    row = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(gate_pass.cast("long")).alias("nc"),
    ).first()
    n_rows, n_clean = int(row["n"]), int(row["nc"] or 0)
    extras = spark.createDataFrame(
        [
            ("__clean__", "", n_clean, n_rows),
            ("__quarantine__", "", n_rows - n_clean, n_rows),
        ],
        "rule STRING, action STRING, n_violations LONG, n_rows LONG",
    )
    return metrics.unionAll(extras).orderBy("rule")


@query(
    "q235_fsck_repair",
    oracle="""
    SELECT s_suppkey, s_name, s_acctbal,
           CAST(s_suppkey % 4 AS INT) AS p
    FROM supplier WHERE s_suppkey % 4 <> 3
    ORDER BY s_suppkey
    """,
    tags=("lakehouse", "delta", "repair"),
)
def q235_fsck_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``FSCK REPAIR TABLE`` — recovery from out-of-band file loss
    (lifecycle policies, foreign VACUUMs): a partition's data file is
    deleted from storage behind the log's back; FSCK probes existence
    (control-plane listing, no data read) and commits ``remove``
    actions for the dangling adds in one version, after which reads
    succeed on the surviving data. Dry-run first (must report, not
    mutate), then repair; the log history keeps the pre-loss version
    for audit. Hash-checked: the repaired table equals supplier minus
    the lost partition exactly."""
    import glob

    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal",
        (F.col("s_suppkey") % 4).cast("int").alias("p"),
    )
    t = DeltaLogTable(spark, _scratch("fsck") + "_t")
    t.write(sup, mode="append", partition_by=["p"])
    # lose partition p=3 out-of-band
    lost = glob.glob(os.path.join(t.path, "p=3", "*.parquet"))
    if not lost:
        raise AssertionError("expected hive-partitioned files under p=3")
    for f in lost:
        os.remove(f)
    dry = t.fsck_repair(dry_run=True)
    if dry["n_missing"] != len(lost) or t.latest_version() != 0:
        raise AssertionError(f"dry-run must not commit: {dry}")
    rep = t.fsck_repair()
    if rep["n_missing"] != len(lost) or rep.get("version") != 1:
        raise AssertionError(f"repair accounting wrong: {rep}")
    post = t.fsck_repair(dry_run=True)
    if post["n_missing"] != 0:
        raise AssertionError(f"repair left dangling entries: {post}")
    return t.read().select("s_suppkey", "s_name", "s_acctbal", "p").orderBy("s_suppkey")


@query(
    "q238_append_only_table",
    oracle="""
    SELECT s_suppkey, s_name, s_acctbal FROM supplier
    UNION ALL
    SELECT s_suppkey + 100000, s_name, s_acctbal FROM supplier
    WHERE s_suppkey < 10
    ORDER BY s_suppkey
    """,
    tags=("lakehouse", "delta", "governance"),
)
def q238_append_only_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``delta.appendOnly=true`` (protocol: 'Append-only Tables') —
    the immutable-ledger contract a FRAUD lakehouse needs on its audit
    tables: with the property set, appends flow but DELETE / UPDATE /
    MERGE / overwrite / RESTORE are refused at the COMMIT layer (not
    by convention); unsetting via ALTER TABLE TBLPROPERTIES restores
    mutability. Every refusal is asserted to raise; the final state
    hash-checks that the refused operations truly left no trace."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    t = DeltaLogTable(spark, _scratch("appendonly") + "_t")
    t.write(sup, mode="append")
    t.set_property("delta.appendOnly", "true")
    extra = sup.filter(F.col("s_suppkey") < 10).withColumn(
        "s_suppkey", F.col("s_suppkey") + 100000
    )
    t.write(extra, mode="append")  # appends still flow
    for op, fn in (
        ("DELETE", lambda: t.delete("s_suppkey = 1")),
        ("UPDATE", lambda: t.update({"s_acctbal": "0.0"}, "s_suppkey = 1")),
        ("MERGE", lambda: t.merge(extra, on=["s_suppkey"])),
        ("overwrite", lambda: t.write(extra, mode="overwrite")),
        ("RESTORE", lambda: t.restore(0)),
    ):
        try:
            fn()
        except ValueError as e:
            if "append-only" not in str(e):
                raise AssertionError(f"{op}: wrong refusal: {e}") from e
        else:
            raise AssertionError(f"{op} must be refused on an append-only table")
    if t.read().count() != sup.count() + extra.count():
        raise AssertionError("refused operations mutated the table")
    # unset -> mutable again (and the delete takes effect)
    t.set_property("delta.appendOnly", None)
    t.delete("s_suppkey = 100001")
    t.write(
        extra.filter(F.col("s_suppkey") == 100001), mode="append"
    )  # restore the row so the oracle stays order-invariant
    return t.read().orderBy("s_suppkey")


@query(
    "q240_iceberg_partitions_table",
    oracle="""
    SELECT CAST(o_custkey % 8 AS BIGINT) AS bucket,
           COUNT(*) AS record_count
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    tags=("lakehouse", "iceberg", "metadata"),
)
def q240_iceberg_partitions_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``<table>.partitions`` metadata table — per-partition row /
    file / byte accounting decoded from Avro manifests ONLY: the
    layout-audit query (skew inspection, small-file detection,
    compaction targeting) answered from KBs of metadata however large
    the data. Hash-checked: manifest-derived per-partition record
    counts must equal the data-side group-by exactly (footer-sourced
    counts, not estimates)."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice",
        (F.col("o_custkey") % 8).alias("bucket"),
    )
    t = IcebergTable(spark, _scratch("icepart") + "_t")
    t.append(orders.repartition(8), partition_by=["bucket"])
    parts = t.partitions_df()
    n_files = parts.agg(F.sum("file_count")).first()[0]
    if n_files < 8:
        raise AssertionError(f"expected >=8 partitioned files, saw {n_files}")
    # pure-codegen JSON field extraction — keeps the repo at zero
    # row-at-a-time Python scalar UDFs (VERDICT r7 item 6)
    return (
        parts.select(
            F.get_json_object("partition", "$.bucket").cast("long").alias("bucket"),
            "record_count",
        )
        .orderBy("bucket")
    )


@query(
    "q241_cross_format_federation",
    oracle="""
    SELECT n.n_name AS nation,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1 ORDER BY 1
    """,
    tags=("lakehouse", "interop", "federation"),
)
def q241_cross_format_federation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One query over THREE table formats — orders in public-format
    Delta, customers in Iceberg v2, nations in raw parquet — joined in
    a single plan: the lakehouse-federation claim made concrete (a
    migration in flight never blocks analytics). Each source is just a
    DataFrame; Catalyst broadcasts the two small sides into the
    Delta-backed fact scan like any other join. Hash-checked against
    the single-format oracle — formats must not change answers."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    dt = DeltaLogTable(spark, _scratch("fed_delta") + "_t")
    dt.write(orders.select("o_orderkey", "o_custkey", "o_totalprice"), mode="append")
    it = IcebergTable(spark, _scratch("fed_ice") + "_t")
    it.append(cust.select("c_custkey", "c_nationkey"))

    o = dt.read()
    c = it.read()
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nation), c.c_nationkey == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("nation")
    )


@query(
    "q247_delta_row_tracking",
    oracle="""
    WITH b1 AS (
      SELECT o_orderkey,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid,
             1 AS dcv
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    b2 AS (
      SELECT o_orderkey,
             (SELECT COUNT(*) FROM b1)
               + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid,
             2 AS dcv
      FROM orders WHERE o_orderkey % 3 = 1
    ),
    allr AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
    SELECT dcv AS _row_commit_version,
           COUNT(*) AS n_rows,
           MIN(rid) AS min_row_id,
           MAX(rid) AS max_row_id,
           SUM(CAST(rid * o_orderkey AS DECIMAL(38,0))) AS checksum
    FROM allr WHERE o_orderkey % 9 <> 0
    GROUP BY dcv ORDER BY dcv
    """,
    tags=("lakehouse", "delta", "interop"),
)
def q247_delta_row_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta ROW TRACKING on the public log (spec: 'Row Tracking'):
    ``enable_row_tracking()`` upgrades the protocol to writer v7 with
    the ``rowTracking``/``domainMetadata`` features and backfills
    ``baseRowId`` over the live files; every subsequent commit assigns
    fresh ids above the ``delta.rowTracking`` domain-metadata high
    water mark, and ``read_with_row_ids()`` materializes ``_row_id =
    baseRowId + row_index`` through a broadcast file→base map — fully
    distributed, one map row per data file. The fixture builds two
    single-file sorted appends (so the id↔key mapping is
    deterministic), then DV-deletes a slice: surviving rows MUST keep
    their ids (the oracle recomputes them from first principles, and
    the ``checksum = Σ rid·key`` catches any misalignment a count
    would miss). 100 TB design: row-id assignment is control-plane
    (per-add arithmetic at commit time), the read-side map is one
    broadcast row per file, and DV deletes never renumber."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    ords = load_table(spark, sf_dir, "orders").select("o_orderkey")
    dl = DeltaLogTable(spark, _scratch("rowtrack"))
    dl.write(
        ords.filter(F.col("o_orderkey") % 3 == 0).coalesce(1).sortWithinPartitions("o_orderkey"),
        mode="append",
    )
    dl.enable_row_tracking()
    dl.write(
        ords.filter(F.col("o_orderkey") % 3 == 1).coalesce(1).sortWithinPartitions("o_orderkey"),
        mode="append",
    )
    pre = dl.read_with_row_ids().select("o_orderkey", "_row_id")
    dl.delete("o_orderkey % 9 = 0")
    post = dl.read_with_row_ids()
    # survivors keep their ids under the DV delete — joined equality,
    # not just counts (renumbering would shift every later id)
    moved = (
        post.select("o_orderkey", "_row_id")
        .join(pre.withColumnRenamed("_row_id", "_pre_id"), "o_orderkey")
        .filter(F.col("_row_id") != F.col("_pre_id"))
        .count()
    )
    if moved:
        raise AssertionError(f"{moved} surviving rows were renumbered by a DV delete")
    return (
        post.groupBy("_row_commit_version")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("_row_id").alias("min_row_id"),
            F.max("_row_id").alias("max_row_id"),
            # DECIMAL(38,0) accumulation: at sf10+ the BIGINT product sum
            # would wrap silently in non-ANSI Spark while DuckDB promotes
            # SUM(BIGINT) to HUGEINT — keep both sides decimal-exact.
            F.sum(
                (F.col("_row_id") * F.col("o_orderkey")).cast("decimal(38,0)")
            ).alias("checksum"),
        )
        .orderBy("_row_commit_version")
    )


@query(
    "q252_sql_dml_on_iceberg_location",
    oracle="""
    WITH upd AS (
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 4 = 0 THEN c_acctbal + 10.0 ELSE c_acctbal END AS c_acctbal
      FROM customer
    ),
    merged AS (
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey <= 30 THEN c_acctbal + 1000.0 ELSE c_acctbal END AS c_acctbal
      FROM upd
      UNION ALL
      SELECT c_custkey + 900000, c_name, c_nationkey, c_acctbal
      FROM customer WHERE c_custkey <= 10
    )
    SELECT * FROM merged WHERE NOT (c_nationkey = 7 AND c_custkey < 900000)
    ORDER BY c_custkey
    """,
    tags=("lakehouse", "iceberg", "sql", "interop"),
)
def q252_sql_dml_on_iceberg_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``CREATE TABLE … USING ICEBERG LOCATION`` + full SQL DML in the
    facade — the cross-format twin of q153/q185 the r6 verdict asked
    for (missing #3 / next #5; reference DDL idiom
    `/root/reference/Instructor/01-Fraud-Delta.py:130-134`): the
    catalog sniffs the Iceberg ``metadata/`` dir at the registered
    location and routes UPDATE / MERGE INTO / DELETE FROM to
    :class:`IcebergTable`'s v2 writers (merge-on-read snapshots) — no
    split-brain with a LakeTable commit log. Same statement text as
    the Delta twin, same composed oracle; every mutation lands as an
    Iceberg snapshot any v2 reader serves."""
    from ent_fins_lakehouse_spark.sources.catalog import LakehouseSession
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    ext = _scratch("sqliceberg") + "_t"
    IcebergTable(spark, ext).append(cust.repartition(4))
    lh = LakehouseSession(spark, _scratch("wh_sqliceberg"))
    lh.sql("CREATE DATABASE ext")
    lh.sql(f"CREATE TABLE ext.c USING ICEBERG LOCATION '{ext}'")
    lh.sql("UPDATE ext.c SET c_acctbal = c_acctbal + 10.0 WHERE c_custkey % 4 = 0")
    src = (
        cust.filter(F.col("c_custkey") <= 30)
        .withColumn("c_acctbal", F.lit(0.0))
        .unionByName(
            cust.filter(F.col("c_custkey") <= 10).withColumn(
                "c_custkey", F.col("c_custkey") + 900000
            )
        )
    )
    src.createOrReplaceTempView("q252_src")
    lh.sql(
        "MERGE INTO ext.c AS t USING q252_src AS s ON t.c_custkey = s.c_custkey "
        "WHEN MATCHED THEN UPDATE SET c_acctbal = t.c_acctbal + 1000.0 "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    lh.sql("DELETE FROM ext.c WHERE c_nationkey = 7 AND c_custkey < 900000")
    # the mutations live as ICEBERG snapshots (readable by any v2 reader)
    t = IcebergTable(spark, ext)
    if len(t.snapshots()) < 4:
        raise AssertionError("SQL DML did not commit Iceberg snapshots")
    return lh.sql("SELECT * FROM ext.c").orderBy("c_custkey")


@query(
    "q253_iceberg_copy_on_write",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_custkey % 7 = 0 THEN o_totalprice + 5.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE o_orderkey % 10 <> 3 AND o_orderkey % 10 <> 7
    ORDER BY o_orderkey
    """,
    tags=("lakehouse", "iceberg", "cow"),
)
def q253_iceberg_copy_on_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg COPY-ON-WRITE DML + rewrite_manifests (VERDICT r6 item
    4): after a merge-on-read DELETE leaves position-delete files, a
    ``mode="cow"`` UPDATE rewrites every affected data file in one
    REPLACE-style overwrite snapshot (no new delete manifest), and
    ``rewrite_manifests()`` consolidates the data manifests AND drops
    the now-dangling position-delete manifests — so the read-side
    anti-join disappears WITHOUT a full compaction (asserted: zero
    delete files in the final snapshot). A final CoW DELETE shows the
    verb composes. The read-heavy serving trade: write cost tracks the
    affected files; read cost returns to a plain scan."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = IcebergTable(spark, _scratch("icow") + "_t")
    t.append(orders.repartitionByRange(4, "o_orderkey").sortWithinPartitions("o_orderkey"))
    t.delete("o_orderkey % 10 = 3")  # merge-on-read: delete files appear
    _, pos, _ = t._files()
    if not pos:
        raise AssertionError("MoR delete staged no position-delete files")
    t.update({"o_totalprice": "o_totalprice + 5.0"}, "o_custkey % 7 = 0", mode="cow")
    rm = t.rewrite_manifests()
    if rm["delete_manifests_dropped"] < 1:
        raise AssertionError(f"dangling delete manifests not dropped: {rm}")
    _, pos, eq = t._files()
    if pos or eq:
        raise AssertionError("anti-join not removed after CoW + rewrite_manifests")
    t.delete("o_orderkey % 10 = 7", mode="cow")
    _, pos, eq = t._files()
    if pos or eq:
        raise AssertionError("CoW delete must not stage delete files")
    return t.read().orderBy("o_orderkey")


@query(
    "q254_delta_v2_checkpoint_write",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
    FROM orders ORDER BY o_orderkey
    """,
    tags=("lakehouse", "delta", "interop"),
)
def q254_delta_v2_checkpoint_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta V2 SPEC CHECKPOINT writes (VERDICT r6 item 3, closing the
    read-only half q197 left): with ``delta.checkpointPolicy=v2`` the
    engine's own ``checkpoint()`` emits the UUID-named top-level file
    (checkpointMetadata + sidecar actions, protocol carried verbatim
    with the v2Checkpoint table feature) and puts the add actions in a
    ``_delta_log/_sidecars/`` parquet — no silent classic downgrade
    for Delta 3.x peers. The fixture proves the shape is REAL: the
    pre-checkpoint JSON commits are deleted (as log retention does),
    so the final read MUST bootstrap through the v2 checkpoint +
    sidecar, replay only the post-checkpoint commit, and still
    hash-match the oracle. Stats ride the sidecar, so file skipping
    keeps working after the bootstrap."""
    import glob as _glob

    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    td = _scratch("v2cpw") + "_t"
    dl = DeltaLogTable(spark, td)
    dl.write(ords.filter(F.col("o_orderkey") % 3 == 0).repartition(2), mode="append")
    dl.set_property("delta.checkpointPolicy", "v2")
    dl.write(ords.filter(F.col("o_orderkey") % 3 == 1).repartition(2), mode="append")
    cp = dl.checkpoint()
    if len(os.path.basename(cp).split(".")) != 4:
        raise AssertionError(f"expected a UUID-named V2 checkpoint, got {cp}")
    if not _glob.glob(os.path.join(td, "_delta_log", "_sidecars", "*.parquet")):
        raise AssertionError("V2 checkpoint wrote no sidecar files")
    # log retention: the JSON commits covered by the checkpoint vanish
    cp_version = int(os.path.basename(cp).split(".")[0])
    for v in range(cp_version + 1):
        p = os.path.join(td, "_delta_log", f"{v:020d}.json")
        if os.path.exists(p):
            os.remove(p)
    dl2 = DeltaLogTable(spark, td)
    dl2.write(ords.filter(F.col("o_orderkey") % 3 == 2).repartition(2), mode="append")
    return (
        DeltaLogTable(spark, td)
        .read()
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("o_totalprice"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "q259_delta_in_commit_timestamps",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
    FROM orders WHERE o_orderkey % 2 = 0
    ORDER BY o_orderkey
    """,
    tags=("lakehouse", "delta", "interop"),
)
def q259_delta_in_commit_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta IN-COMMIT TIMESTAMPS (spec: 'In-Commit Timestamps',
    writer feature ``inCommitTimestamp``): once
    ``delta.enableInCommitTimestamps=true``, every commit's commitInfo
    is the FIRST action and carries a strictly monotonic
    ``inCommitTimestamp``; timestamp time travel resolves against ICTs
    instead of file mtimes — the clock that survives log copies,
    checkpoint rewrites and filesystem skew. The enabling commit
    itself carries the first ICT plus the enablement-provenance
    properties, and the protocol upgrades to the table feature. The
    fixture enables, appends two halves, asserts monotonic first-action
    ICTs, and returns the ``TIMESTAMP AS OF`` view at the FIRST
    append's ICT — which must contain exactly the first half (the
    oracle) even though the second append exists."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    td = _scratch("ict") + "_t"
    dl = DeltaLogTable(spark, td)
    dl.write(ords.filter(F.col("o_orderkey") % 2 == 0).repartition(2), mode="append")
    dl.set_property("delta.enableInCommitTimestamps", "true")
    cfg = dl.properties()
    if cfg.get("delta.inCommitTimestampEnablementVersion") != "1":
        raise AssertionError(f"enablement provenance missing: {cfg}")
    proto = dl._last_protocol
    if "inCommitTimestamp" not in (proto.get("writerFeatures") or []):
        raise AssertionError(f"protocol lacks the ICT writer feature: {proto}")
    # the snapshot at the ENABLING commit's ICT excludes later appends
    t_enable = dl._last_ict
    dl.write(ords.filter(F.col("o_orderkey") % 2 == 1).repartition(2), mode="append")
    t_second = dl._last_ict
    if not (t_second > t_enable > 0):
        raise AssertionError(f"ICTs not strictly monotonic: {t_enable}, {t_second}")
    # first action of every post-enablement commit is commitInfo w/ ICT
    for v in (1, 2):
        with open(os.path.join(td, "_delta_log", f"{v:020d}.json")) as fh:
            first = json.loads(fh.readline())
        if "commitInfo" not in first or "inCommitTimestamp" not in first["commitInfo"]:
            raise AssertionError(f"commit {v} first action lacks an ICT: {first}")
    v_at = dl.version_at(t_enable)
    if v_at != 1 or dl.version_at(t_second) != 2:
        raise AssertionError(
            f"ICT time travel resolved wrong versions: {v_at}, {dl.version_at(t_second)}"
        )
    return (
        dl.read(version_as_of=v_at)
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("o_totalprice"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "q264_iceberg_cherry_pick",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey FROM supplier
    ORDER BY s_suppkey
    """,
    tags=("lakehouse", "iceberg", "wap"),
)
def q264_iceberg_cherry_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg CHERRY-PICK — the WAP publish verb for when MAIN HAS
    MOVED ON (where q-refs' fast_forward refuses: the branch no longer
    descends from head): a batch staged on an audit branch is
    published onto the advanced main by re-committing its added data
    manifests under a fresh snapshot id/sequence — metadata-only, the
    manifest files reused verbatim. The fixture: main gets the first
    third, a WAP branch stages the second third (invisible to main —
    asserted), main independently appends the last third (so
    fast_forward would refuse — asserted), then cherry_pick publishes
    the staged batch; main now serves ALL rows, and a non-append
    snapshot refuses to cherry-pick (asserted)."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    t = IcebergTable(spark, _scratch("cherry") + "_t")
    t.append(sup.filter(F.col("s_suppkey") % 3 == 0))
    t.set_ref("wap", ref_type="branch")
    staged = t.append(sup.filter(F.col("s_suppkey") % 3 == 1), branch="wap")
    n_main = t.read().count()
    t.append(sup.filter(F.col("s_suppkey") % 3 == 2))  # main advances
    if t.read().count() <= n_main:
        raise AssertionError("main append not visible")
    try:
        t.fast_forward("wap")
        raise AssertionError("fast_forward must refuse a diverged branch")
    except ValueError:
        pass
    published = t.cherry_pick(staged)
    # a row-level (delete) snapshot must REFUSE to cherry-pick: commit
    # a real delete AFTER the publish and assert; the returned view is
    # the pre-delete published snapshot (time travel)
    t2 = IcebergTable(spark, t.path)
    t2.delete("s_suppkey % 7 = 3")
    del_snap = t2.metadata()["current-snapshot-id"]
    if del_snap == published:
        raise AssertionError("delete committed no snapshot")
    try:
        t2.cherry_pick(del_snap)
        raise AssertionError("cherry-pick of a delete snapshot must refuse")
    except NotImplementedError:
        pass
    return t2.read(snapshot_id=published).orderBy("s_suppkey")


@query(
    "q268_incremental_join_view",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_mktsegment,
           CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_orderkey
    """,
    tags=("lakehouse", "incremental", "materialized-view"),
)
def q268_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN materialized view with BOTH
    sides changing — the delta-join identity Δ(A⋈B) = ΔA⋈B_old ∪
    A_new⋈ΔB (q140 covered the aggregate-rollup case; this is the
    enrichment-view case every serving layer runs): the view persists
    as a lake table, each increment appends only the delta joins —
    O(Δ) work per refresh, never a recompute — and the final view
    hash-matches the full join recomputed from scratch (the oracle).
    Both delta joins broadcast the smaller side; the view table's
    commit log gives the refresh exactly-once semantics via the
    engine's txn watermark if driven from a stream (q77)."""
    from ent_fins_lakehouse_spark.sources.lakehouse import LakeTable

    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    # initial state: even customers and their orders
    c0 = cust.filter(F.col("c_custkey") % 2 == 0)
    a0 = ords.join(c0.select("c_custkey"), ords.o_custkey == F.col("c_custkey")).drop(
        "c_custkey"
    )
    mv = LakeTable(spark, _scratch("joinmv"))
    mv.write(
        a0.join(F.broadcast(c0), a0.o_custkey == c0.c_custkey).select(
            "o_orderkey", "o_custkey", "c_name", "c_mktsegment", "o_totalprice"
        ),
        mode="overwrite",
    )
    # increment: the odd customers arrive (ΔB) along with their orders (ΔA)
    c1 = cust.filter(F.col("c_custkey") % 2 == 1)
    a1 = ords.join(c1.select("c_custkey"), ords.o_custkey == F.col("c_custkey")).drop(
        "c_custkey"
    )
    # ΔA ⋈ B_old is empty here by construction (new orders reference new
    # customers), but the identity is applied in full — both terms land
    inc1 = a1.join(F.broadcast(c0), a1.o_custkey == c0.c_custkey)
    a_new = a0.unionByName(a1)
    inc2 = a_new.join(F.broadcast(c1), a_new.o_custkey == c1.c_custkey)
    delta = inc1.unionByName(inc2).select(
        "o_orderkey", "o_custkey", "c_name", "c_mktsegment", "o_totalprice"
    )
    mv.insert_into(delta)
    return (
        mv.read()
        .select(
            "o_orderkey",
            "o_custkey",
            "c_name",
            "c_mktsegment",
            F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("o_totalprice"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "q272_delta_clustered_table",
    oracle="""
    SELECT event_id, event_type,
           CAST(CAST(value AS DECIMAL(12,4)) AS DOUBLE) AS value
    FROM events WHERE event_id BETWEEN 400 AND 460
    ORDER BY event_id
    """,
    tags=("lakehouse", "delta", "clustering"),
)
def q272_delta_clustered_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta CLUSTERED TABLES (spec: 'Clustered Table' — the liquid
    clustering surface): ``set_clustering`` declares the layout target
    as the ``delta.clustering`` domain + ``clustering`` writer feature
    (metadata-only), and a BARE ``optimize()`` — no columns passed —
    reads the declaration and clusters the rewrite on it, exactly how
    engines maintain liquid-clustered tables without per-job layout
    hints. The fixture writes hash-shuffled (range stats provably
    useless — asserted zero pruning), declares clustering on
    event_id, bare-OPTIMIZEs, then asserts a range probe now PRUNES
    files and hash-matches the oracle. At 100 TB this is incremental
    layout maintenance: each OPTIMIZE pass needs only the declaration,
    so clustering policy lives with the TABLE, not the pipeline."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    t = DeltaLogTable(spark, _scratch("clustered") + "_t")
    t.write(
        ev.repartition(8, F.md5(F.col("event_id").cast("string"))),
        mode="overwrite",
    )
    pre = t.scan_info("event_id >= 400 AND event_id <= 460")
    if pre["n_pruned"] != 0:
        raise AssertionError(f"hash layout must not prune pre-optimize: {pre}")
    t.set_clustering(["event_id"])
    if t.clustering_columns() != ["event_id"]:
        raise AssertionError("clustering declaration not readable back")
    proto = t._last_protocol
    if "clustering" not in (proto.get("writerFeatures") or []):
        raise AssertionError(f"protocol lacks the clustering feature: {proto}")
    t.optimize()  # bare: must pick up the declared clustering columns
    post = t.scan_info("event_id >= 400 AND event_id <= 460")
    if post["n_pruned"] == 0 or post["n_read"] >= post["n_active"]:
        raise AssertionError(f"bare OPTIMIZE did not cluster on event_id: {post}")
    return (
        t.read(where="event_id >= 400 AND event_id <= 460")
        .select(
            "event_id",
            "event_type",
            F.col("value").cast("decimal(12,4)").cast("double").alias("value"),
        )
        .orderBy("event_id")
    )


@query(
    "q273_delta_column_defaults",
    oracle="""
    SELECT s_suppkey, s_name,
           CASE WHEN s_suppkey % 2 = 0 THEN NULL ELSE 'standard' END AS tier,
           CASE WHEN s_suppkey % 2 = 0 THEN NULL
                WHEN s_suppkey % 3 = 0 THEN 250 ELSE 100 END AS credit_limit
    FROM supplier ORDER BY s_suppkey
    """,
    tags=("lakehouse", "delta", "schema-evolution"),
)
def q273_delta_column_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta COLUMN DEFAULTS (spec: 'Default Columns', writer feature
    ``allowColumnDefaults``): ``ADD COLUMN … DEFAULT expr`` records the
    SQL expression as the field's ``CURRENT_DEFAULT`` metadata and
    upgrades the protocol; writes that OMIT the column fill the
    default, writes that supply it win, and rows written BEFORE the
    declaration keep reading NULL — Delta's future-writes-only
    contract, asserted by the oracle's CASE reconstruction (even
    suppkeys landed pre-declaration → NULL; odd ones post-declaration
    → defaulted 'standard'/100 unless explicitly 250). Defaults are
    pure metadata — zero data rewrite at declaration time."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    t = DeltaLogTable(spark, _scratch("coldef") + "_t")
    t.write(sup.filter(F.col("s_suppkey") % 2 == 0), mode="append")
    t.add_column("tier", "string", default="'standard'")
    t.add_column("credit_limit", "int", default="100")
    proto = t._last_protocol
    if "allowColumnDefaults" not in (proto.get("writerFeatures") or []):
        raise AssertionError(f"protocol lacks allowColumnDefaults: {proto}")
    # batch B omits BOTH new columns -> defaults fill
    t.write(
        sup.filter((F.col("s_suppkey") % 2 == 1) & (F.col("s_suppkey") % 3 != 0)),
        mode="append",
    )
    # batch C supplies credit_limit explicitly -> explicit value wins
    t.write(
        sup.filter((F.col("s_suppkey") % 2 == 1) & (F.col("s_suppkey") % 3 == 0))
        .withColumn("credit_limit", F.lit(250)),
        mode="append",
    )
    return t.read().orderBy("s_suppkey")


@query(
    "q278_catalog_views",
    oracle="""
    WITH enriched AS (
      SELECT o.o_orderkey, o.o_custkey, c.c_mktsegment,
             CAST(o.o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(price) AS DOUBLE) AS total
    FROM enriched WHERE price > 150000
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("lakehouse", "catalog", "views"),
)
def q278_catalog_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE VIEW in the catalog facade — stored logical-plan text
    (persisted beside the warehouse, like any metastore view), planned
    FRESH at every read with catalog table references resolved through
    the format shims: a base view joins two lake tables, a second view
    STACKS on the first (views-on-views compose), and reading the top
    view after the base tables CHANGED shows view reads track table
    state (no materialization — asserted with an append). DROP VIEW
    removes only the definition."""
    from ent_fins_lakehouse_spark.sources.catalog import LakehouseSession
    from ent_fins_lakehouse_spark.sources.lakehouse import LakeTable

    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    lh = LakehouseSession(spark, _scratch("wh_views"))
    lh.catalog.create_table("default.orders_t", df=ords.filter(F.col("o_orderkey") % 2 == 0))
    lh.catalog.create_table("default.cust_t", df=cust)
    lh.sql(
        "CREATE VIEW default.enriched AS "
        "SELECT o.o_orderkey, o.o_custkey, c.c_mktsegment, "
        "CAST(o.o_totalprice AS DECIMAL(18,2)) AS price "
        "FROM default.orders_t o JOIN default.cust_t c ON o.o_custkey = c.c_custkey"
    )
    lh.sql(
        "CREATE VIEW default.big_orders AS "
        "SELECT c_mktsegment, COUNT(*) AS n, CAST(SUM(price) AS DOUBLE) AS total "
        "FROM default.enriched WHERE price > 150000 "
        "GROUP BY c_mktsegment"
    )
    n_before = lh.sql("SELECT * FROM default.big_orders").agg(F.sum("n")).first()[0]
    # views are NOT materialized: appending to the base table changes
    # the next read
    LakeTable(spark, lh.catalog.table_path("default.orders_t")).insert_into(
        ords.filter(F.col("o_orderkey") % 2 == 1)
    )
    n_after = lh.sql("SELECT * FROM default.big_orders").agg(F.sum("n")).first()[0]
    if not (n_after > n_before):
        raise AssertionError(f"view did not track base-table change: {n_before} -> {n_after}")
    lh.sql("DROP VIEW default.enriched")
    if os.path.isfile(lh._view_path("default.enriched")):
        raise AssertionError("DROP VIEW left the definition behind")
    # big_orders still holds its definition; recreate the dependency
    lh.sql(
        "CREATE VIEW default.enriched AS "
        "SELECT o.o_orderkey, o.o_custkey, c.c_mktsegment, "
        "CAST(o.o_totalprice AS DECIMAL(18,2)) AS price "
        "FROM default.orders_t o JOIN default.cust_t c ON o.o_custkey = c.c_custkey"
    )
    return lh.sql("SELECT * FROM default.big_orders").orderBy("c_mktsegment")


@query(
    "q279_governance_policies",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_custkey % 10 = 0 THEN c_name ELSE 'REDACTED' END AS c_name,
           c_nationkey,
           CAST(ROUND(CAST(c_acctbal AS DECIMAL(12,2)) / 100, 0) * 100 AS DOUBLE)
             + 0.0 AS c_acctbal
    FROM customer
    WHERE c_nationkey <> 7
    ORDER BY c_custkey
    """,
    tags=("lakehouse", "catalog", "governance"),
)
def q279_governance_policies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW FILTERS + COLUMN MASKS — read-time governance in the
    catalog facade (the Unity-Catalog-shaped policy surface): an
    ``ALTER TABLE … SET ROW FILTER`` hides one nation's rows, a name
    mask redacts all but every 10th customer, and a balance mask
    coarsens amounts to the nearest 100 — all applied IN THE PLAN as
    expressions over the scan (filters still push down beneath them;
    DML sees raw rows, policies are a read concern). UNSET restores
    raw reads (asserted). The oracle reconstructs the governed view."""
    from ent_fins_lakehouse_spark.sources.catalog import LakehouseSession

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    lh = LakehouseSession(spark, _scratch("wh_gov"))
    lh.catalog.create_table("default.cust", df=cust)
    n_raw = lh.sql("SELECT * FROM default.cust").count()
    lh.sql("ALTER TABLE default.cust SET ROW FILTER (c_nationkey <> 7)")
    lh.sql(
        "ALTER TABLE default.cust SET COLUMN MASK c_name = "
        "CASE WHEN c_custkey % 10 = 0 THEN c_name ELSE 'REDACTED' END"
    )
    lh.sql(
        "ALTER TABLE default.cust SET COLUMN MASK c_acctbal = "
        "CAST(ROUND(CAST(c_acctbal AS DECIMAL(12,2)) / 100, 0) * 100 AS DOUBLE) + 0.0"
    )
    governed = lh.sql("SELECT * FROM default.cust")
    if governed.count() >= n_raw:
        raise AssertionError("row filter did not prune")
    # UNSET restores raw reads
    lh.sql("ALTER TABLE default.cust UNSET ROW FILTER")
    lh.sql("ALTER TABLE default.cust UNSET COLUMN MASK c_name")
    lh.sql("ALTER TABLE default.cust UNSET COLUMN MASK c_acctbal")
    if lh.sql("SELECT * FROM default.cust").count() != n_raw:
        raise AssertionError("UNSET did not restore raw reads")
    # re-apply for the returned governed view
    lh.sql("ALTER TABLE default.cust SET ROW FILTER (c_nationkey <> 7)")
    lh.sql(
        "ALTER TABLE default.cust SET COLUMN MASK c_name = "
        "CASE WHEN c_custkey % 10 = 0 THEN c_name ELSE 'REDACTED' END"
    )
    lh.sql(
        "ALTER TABLE default.cust SET COLUMN MASK c_acctbal = "
        "CAST(ROUND(CAST(c_acctbal AS DECIMAL(12,2)) / 100, 0) * 100 AS DOUBLE) + 0.0"
    )
    return lh.sql("SELECT * FROM default.cust").orderBy("c_custkey")


@query(
    "q281_iceberg_hour_partitioning",
    oracle="""
    SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS total_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 06:00:00'
      AND ts <  TIMESTAMP '2024-01-10 12:00:00'
    GROUP BY 1 ORDER BY 1
    """,
    tags=("lakehouse", "iceberg", "interop"),
)
def q281_iceberg_hour_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg ``hour(ts)`` temporal transform (VERDICT r7 item 2) —
    the spec's fourth temporal member and the default layout for
    high-rate event tables: rows land in hours-since-epoch ordinal
    partitions (the same negative-safe JVM floor division as ``day``,
    q202), and the reader decodes each tuple into a conservative
    [hour, next-hour) timestamp-string bound on the SOURCE column, so
    a dashboard's 6-hour window scans exactly the overlapping hour
    partitions — at 100 TB of events the difference between reading
    6 hours and reading years. Pruning is asserted in-plan: the
    window scan must read fewer files than the active set."""
    from ent_fins_lakehouse_spark.functions.numeric import dec
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "value")
        .filter("ts >= '2024-01-10 00:00:00' AND ts < '2024-01-12 00:00:00'")
    )
    t = IcebergTable(spark, _scratch("icehour") + "_t")
    t.append(ev.repartition(8), partition_by=["hour(ts)"])
    pred = "ts >= '2024-01-10 06:00:00' AND ts < '2024-01-10 12:00:00'"
    info = t.scan_info(pred)
    if info["n_read"] >= info["n_active"]:
        raise AssertionError(f"hour pruning did not engage: {info}")
    return (
        t.read(where=pred)
        .groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .orderBy("hour")
    )


@query(
    "q282_iceberg_string_bucket_partitioning",
    oracle="""
    SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS uid, lang, source, n_chars
    FROM documents
    WHERE doc_id IN (3, 17, 41, 88, 120)
    ORDER BY uid
    """,
    tags=("lakehouse", "iceberg", "interop"),
)
def q282_iceberg_string_bucket_partitioning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg ``bucket[n]`` over STRING keys (VERDICT r7 item 3) —
    the uuid/doc-id serving-key shape q198 couldn't hold: string
    values hash by murmur3_x86_32 of their raw UTF-8 bytes (spec
    'Bucket Transform Details', bit-exact vs the Appendix B test
    vector hash("iceberg")=1210000089, asserted in tests), vectorized
    in the same Arrow-batch write UDF by grouping each batch on byte
    length (uniform-length keys — the common case — run as one numpy
    pass). An equality predicate on the source column rewrites
    through the transform to an ordinal equality, so each point
    lookup reads only its bucket's files — at 100 TB, 1/32nd of the
    table per lookup with zero clustering maintenance. Every lookup
    here is asserted to prune."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    docs = load_table(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("uid"),
        "lang",
        "source",
        "n_chars",
    )
    t = IcebergTable(spark, _scratch("icestrbucket") + "_t")
    t.append(docs.repartition(4), partition_by=["bucket(32, uid)"])
    parts = []
    for k in (3, 17, 41, 88, 120):
        pred = f"uid = 'doc-{k}'"
        info = t.scan_info(pred)
        if info["n_read"] >= info["n_active"]:
            raise AssertionError(
                f"string-bucket pruning did not engage for doc-{k}: {info}"
            )
        parts.append(t.read(where=pred))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("uid")


@query(
    "q283_delta_variant_persistence",
    oracle="""
    WITH j AS (
      SELECT event_id,
             '{"type": "' || event_type || '", "user": ' ||
             CAST(user_id AS VARCHAR) || ', "amount": ' ||
             CAST(ROUND(CAST(value AS DECIMAL(18,4)), 4) AS VARCHAR) || '}'
               AS payload
      FROM events
    )
    SELECT json_extract_string(payload, '$.type') AS etype,
           COUNT(*) AS n,CAST(SUM(CAST(json_extract(payload, '$.user') AS BIGINT)) AS BIGINT) AS user_sum,
           ROUND(CAST(SUM(CAST(json_extract(payload, '$.amount')
                    AS DECIMAL(18,4))) AS DOUBLE), 4) AS amount_sum
    FROM j GROUP BY etype ORDER BY etype
    """,
    tags=("lakehouse", "delta", "variant", "interop"),
)
def q283_delta_variant_persistence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT columns PERSISTED in the public Delta log (VERDICT r7
    item 4 — q270's missing half): the landing-zone pattern end to
    end. Events wrapped as JSON parse ONCE into Spark 4's binary
    variant encoding and commit through the engine's own public-log
    writer — the table gates itself on the ``variantType-preview``
    reader+writer feature (spec 'Variant Data Type', asserted
    in-plan), the schemaString carries type ``variant``, and the data
    files hold the binary encoding natively. The read back is typed:
    ``variant_get`` path extraction runs as codegen over the variant
    column with NO reparse — at 100 TB, JSON is parsed exactly once
    at ingest, never per query."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", "value"
    )
    payload = F.concat(
        F.lit('{"type": "'),
        F.col("event_type"),
        F.lit('", "user": '),
        F.col("user_id").cast("string"),
        F.lit(', "amount": '),
        F.round(F.col("value").cast("decimal(18,4)"), 4).cast("string"),
        F.lit("}"),
    )
    dl = DeltaLogTable(spark, _scratch("dvar") + "_t")
    dl.write(ev.select("event_id", F.parse_json(payload).alias("v")), mode="append")
    back = dl.read()
    proto = getattr(dl, "_last_protocol", None) or {}
    if "variantType-preview" not in (proto.get("readerFeatures") or []):
        raise AssertionError(f"variant feature gate missing: {proto}")
    if back.schema["v"].dataType.typeName() != "variant":
        raise AssertionError(f"variant type not restored: {back.schema}")
    return (
        back.groupBy(F.variant_get("v", "$.type", "string").alias("etype"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.variant_get("v", "$.user", "bigint")).alias("user_sum"),
            F.round(
                F.sum(F.variant_get("v", "$.amount", "decimal(18,4)")).cast(
                    "double"
                ),
                4,
            ).alias("amount_sum"),
        )
        .orderBy("etype")
    )


@query(
    "q284_delta_log_compaction",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_orderkey % 7 < 6
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    tags=("lakehouse", "delta", "interop"),
)
def q284_delta_log_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta minor LOG COMPACTION (VERDICT r7 item 5, spec 'Log
    Compaction Files'): under ``delta.enableLogCompaction`` the engine
    emits ``{start}.{end}.compacted.json`` on a 5-commit cadence
    between checkpoints — the reconciled actions of the covered
    commits — and replay PREFERS it, consuming one file in place of
    five. Proven the q254 way: the covered JSON commits are deleted
    (peer log maintenance) and the snapshot must survive, including a
    DV delete inside the compacted range (no resurrection). At 100 TB
    with minute-cadence streaming commits, this is what keeps log
    replay O(compactions + tail) instead of O(every commit since the
    last checkpoint)."""
    import glob as _glob
    import os as _os

    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    td = _scratch("logcomp") + "_t"
    dl = DeltaLogTable(spark, td)
    dl.write(orders.filter("o_orderkey % 7 = 0"), mode="append")
    dl.set_property("delta.enableLogCompaction", "true")
    for m in range(1, 7):
        dl.write(orders.filter(f"o_orderkey % 7 = {m}"), mode="append")
    dl.delete("o_orderkey % 7 = 6")
    comps = _glob.glob(_os.path.join(td, "_delta_log", "*.compacted.json"))
    if not comps:
        raise AssertionError("log compaction did not emit on cadence")
    # peer maintenance removes the JSON commits the compaction covers
    for v in range(0, 5):
        _os.remove(_os.path.join(td, "_delta_log", f"{v:020d}.json"))
    back = DeltaLogTable(spark, td).read()
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q290_delta_version_checksum",
    oracle="""
    SELECT * FROM (VALUES
      (0, TRUE, 1), (1, TRUE, 2), (2, TRUE, 3)
    ) AS t(version, validated, num_files)
    ORDER BY version
    """,
    tags=("lakehouse", "delta", "interop", "audit"),
)
def q290_delta_version_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta VERSION CHECKSUM sidecars ({version}.crc — delta-spark's
    VersionChecksum shape): every commit writes a one-line JSON with
    the post-commit snapshot's numFiles / tableSizeBytes / metadata /
    protocol, maintained INCREMENTALLY from the verb's own replay (no
    extra log scan, no Spark job), and `validate_checksum` cross-checks
    a version's .crc against a fresh replay — the cheap state-audit
    that catches truncated logs, lost add actions, and out-of-band
    file pruning before they surface as silent wrong answers. Three
    single-file commits give deterministic file counts; each version's
    validation result is returned and must match the literal oracle.
    At 100 TB this validation is KBs of JSON per version — the log
    audits itself without touching data."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    dl = DeltaLogTable(spark, _scratch("vcrc") + "_t")
    for m in range(3):
        dl.write(
            orders.filter(f"o_orderkey % 3 = {m}").coalesce(1), mode="append"
        )
    rows = []
    for v in range(3):
        res = DeltaLogTable(spark, dl.path).validate_checksum(v)
        rows.append((v, bool(res["validated"]), int(res["numFiles"])))
    return spark.createDataFrame(
        rows, "version int, validated boolean, num_files int"
    ).orderBy("version")


@query(
    "q292_delta_reorg_purge",
    oracle="""
    SELECT c_nationkey,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS bal
    FROM customer
    WHERE c_custkey > 300
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
    tags=("lakehouse", "delta", "maintenance", "dv"),
)
def q292_delta_reorg_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REORG TABLE … APPLY (PURGE) — the surgical deletion-vector GC:
    a 6-file range-clustered table takes a stats-prunable DV delete
    (``c_custkey <= 300`` masks rows in ONE file), then PURGE rewrites
    ONLY the DV-carrying file — the five clean files keep their add
    actions untouched (asserted by path), the purged snapshot carries
    zero DVs (asserted), and the read-back hash-matches the oracle.
    optimize() would rewrite all 6; at 100 TB with 0.1% of files DV'd
    that difference is the whole verb: PURGE is O(DV'd bytes), commits
    dataChange=false, and makes metadata-only UniForm/Iceberg
    conversion affordable on tables with soft deletes."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    dl = DeltaLogTable(spark, _scratch("purge") + "_t")
    dl.write(cust.repartitionByRange(6, "c_custkey"), mode="append")
    res = dl.delete("c_custkey <= 300")
    if res["files_touched"] < 1:
        raise AssertionError(f"DV delete touched no file: {res}")
    adds_before, *_ = dl._snapshot()
    clean_before = {p for p, i in adds_before.items() if not i["deletionVector"]}
    dvd_before = {p for p, i in adds_before.items() if i["deletionVector"]}
    pr = dl.reorg_purge()
    if pr["files_purged"] != len(dvd_before) or pr["rows_purged"] != res["rows_deleted"]:
        raise AssertionError(f"purge scope wrong: {pr} vs dv files {dvd_before}")
    adds_after, *_ = dl._snapshot()
    if any(i["deletionVector"] for i in adds_after.values()):
        raise AssertionError("purged snapshot still carries deletion vectors")
    if not clean_before <= set(adds_after):
        raise AssertionError("REORG PURGE rewrote clean files (must be surgical)")
    if dvd_before & set(adds_after):
        raise AssertionError("REORG PURGE kept a DV'd file in the snapshot")
    return (
        dl.read()
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("bal"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "q293_iceberg_rollback",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderkey % 3 < 2
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("lakehouse", "iceberg", "time-travel", "maintenance"),
)
def q293_iceberg_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg rollback_to_snapshot / set_current_snapshot — the undo
    verb (Delta RESTORE's cross-format twin, q179 family): three
    appends, roll the head BACK to the second snapshot (metadata-only,
    ancestor-checked), and the read hash-matches the first two chunks.
    The snapshots list is untouched — the rolled-past snapshot is
    still readable AS OF and re-publishable with set_current_snapshot
    (asserted round-trip) — and a rollback to a non-ancestor refuses.
    At 100 TB undoing a bad write is one metadata.json commit, zero
    data movement."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = IcebergTable(spark, _scratch("rollb") + "_t")
    sids = [
        t.append(orders.filter(f"o_orderkey % 3 = {m}")) for m in range(3)
    ]
    n_all = t.read().count()
    t.rollback_to(snapshot_id=sids[1])
    if len(t.snapshots()) != 3:
        raise AssertionError("rollback must not drop snapshots from the log")
    # the rolled-past snapshot stays readable and re-publishable
    if t.read(snapshot_id=sids[2]).count() != n_all:
        raise AssertionError("rolled-past snapshot no longer readable AS OF")
    t.set_current_snapshot(sids[2])
    if t.read().count() != n_all:
        raise AssertionError("set_current_snapshot did not republish")
    t.rollback_to(snapshot_id=sids[1])
    try:
        t.rollback_to(snapshot_id=sids[2])
    except ValueError:
        pass
    else:
        raise AssertionError("rollback to a non-ancestor must refuse")
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q294_delta_hilbert_clustering",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice
    FROM lineitem WHERE l_suppkey <= 40
    ORDER BY l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice
    """,
    tags=("lakehouse", "delta", "clustering", "interop"),
)
def q294_delta_hilbert_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE … hilbert_by — HILBERT-curve multi-dimensional
    clustering (the curve behind liquid clustering; q180's Z-order
    sibling): bucket ordinals compute JVM-side, the bucket tuple maps
    to its curve index via one Arrow-batched vectorized Skilling
    transform (write-path only), and files range-partition + sort on
    it. Unlike Morton, consecutive curve positions are always grid
    neighbors — no Z-shaped jumps — so the same file count covers
    tighter (orderkey × suppkey) hyper-rectangles; stats pruning on
    EITHER column is asserted before the hash check. At 100 TB the
    curve choice is free at write time and pays on every read."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    dl = DeltaLogTable(spark, _scratch("dlh"))
    dl.write(li.repartition(16), mode="append")
    dl.optimize(target_files=16, hilbert_by=["l_orderkey", "l_suppkey"])
    # ONE pass builds both column sketches (r14, guide §1.2)
    q_ok, q_sk = (
        int(v[0])
        for v in li.approxQuantile(["l_orderkey", "l_suppkey"], [0.05], 0.01)
    )
    for pred in (f"l_orderkey <= {q_ok}", f"l_suppkey <= {q_sk}"):
        info = dl.scan_info(pred)
        if info["n_pruned"] < 4:
            raise AssertionError(f"hilbert clustering must prune on {pred}: {info}")
    return dl.read(where="l_suppkey <= 40").orderBy(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )


@query(
    "q297_iceberg_add_files",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("lakehouse", "iceberg", "migration", "interop"),
)
def q297_iceberg_add_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """system.add_files — the migration on-ramp: half of orders lives
    as a LEGACY plain-parquet directory and registers into a fresh
    Iceberg table METADATA-ONLY (files referenced in place — zero data
    copied, asserted by path); the other half arrives through the
    native append writer. The combined read must hash-match the full
    orders oracle, and a selective key-range scan file-skips on the
    imported files' FOOTER-sourced bounds (asserted) exactly like
    native writes. At 100 TB onboarding a legacy lake is a
    control-plane footer pass, not a rewrite."""
    import os as _os

    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = _scratch("addf")
    legacy = _os.path.join(base, "legacy")
    orders.filter("o_orderkey % 2 = 0").repartitionByRange(
        4, "o_orderkey"
    ).write.parquet(legacy)
    t = IcebergTable(spark, _os.path.join(base, "ice"))
    t.add_files(legacy)
    if not all(p.startswith(_os.path.abspath(legacy)) for p in t.data_files()):
        raise AssertionError("add_files must reference files in place")
    t.append(orders.filter("o_orderkey % 2 = 1"))
    lo = int(orders.approxQuantile("o_orderkey", [0.05], 0.01)[0])
    info = t.scan_info(f"o_orderkey <= {lo}")
    if info["n_pruned"] < 2:
        raise AssertionError(f"imported footer bounds must file-skip: {info}")
    return (
        t.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q298_delta_merge_schema_evolution",
    oracle="""
    WITH b AS (
      SELECT CAST(FLOOR(MAX(c_custkey) / 8.0) AS BIGINT) AS lo,
             CAST(FLOOR(7 * MAX(c_custkey) / 8.0) AS BIGINT) AS hi
      FROM customer
    ),
    merged AS (
      SELECT c_custkey,
             CASE WHEN c_custkey <= (SELECT lo FROM b) THEN c_acctbal + 1000.0 ELSE c_acctbal END AS c_acctbal,
             CASE WHEN c_custkey <= (SELECT lo FROM b) THEN 'priority' ELSE NULL END AS tier
      FROM customer
      UNION ALL
      SELECT c_custkey + 1000000, c_acctbal + 1000.0, 'priority'
      FROM customer
      WHERE c_custkey > (SELECT hi FROM b)
    )
    SELECT COALESCE(tier, 'untouched') AS tier,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS bal
    FROM merged
    GROUP BY 1 ORDER BY 1
    """,
    tags=("lakehouse", "delta", "merge", "schema-evolution"),
)
def q298_delta_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE … WITH SCHEMA EVOLUTION in the public log: the source
    carries a NEW ``tier`` column — the evolved metaData action commits
    ATOMICALLY with the rewritten/inserted files, rows in UNTOUCHED
    files read NULL for the new column (the Delta add-column contract:
    old files stay valid, no rewrite), and time travel still serves
    the pre-evolution schema. The merge itself stays file-surgical:
    only files holding matched keys rewrite. The read-back aggregate
    by tier hash-matches the relational oracle."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    dl = DeltaLogTable(spark, _scratch("mse") + "_t")
    dl.write(cust.repartitionByRange(8, "c_custkey"), mode="append")
    maxk = int(cust.agg(F.max("c_custkey")).first()[0])
    lo, hi = maxk // 8, 7 * maxk // 8
    src = (
        cust.filter(f"c_custkey <= {lo} OR c_custkey > {hi}")
        .select(
            F.when(F.col("c_custkey") > hi, F.col("c_custkey") + 1000000)
            .otherwise(F.col("c_custkey"))
            .alias("c_custkey"),
            (F.col("c_acctbal") + 1000.0).alias("c_acctbal"),
            F.lit("priority").alias("tier"),
        )
    )
    res = dl.merge(src, on=["c_custkey"], with_schema_evolution=True)
    adds, *_ = dl._snapshot()
    if not (0 < res["files_rewritten"] < 8):
        raise AssertionError(f"evolved merge must stay file-surgical: {res}")
    old = dl.read(version_as_of=0)
    if "tier" in old.columns:
        raise AssertionError("time travel must serve the pre-evolution schema")
    return (
        dl.read()
        .groupBy(F.coalesce("tier", F.lit("untouched")).alias("tier"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("bal"),
        )
        .orderBy("tier")
    )


@query(
    "q299_iceberg_schema_evolution",
    oracle="""
    WITH both_halves AS (
      SELECT o_orderkey, o_totalprice, NULL AS channel
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderkey % 4 = 1 THEN 'web' ELSE 'store' END AS channel
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT COALESCE(channel, 'legacy') AS channel,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
    FROM both_halves
    GROUP BY 1 ORDER BY 1
    """,
    tags=("lakehouse", "iceberg", "schema-evolution"),
)
def q299_iceberg_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg ADD/DROP COLUMN — metadata-only schema evolution by
    FIELD ID (the spec's never-reuse rule): half of orders lands, a
    ``channel`` column is added (fresh id, old files read NULL — no
    rewrite, asserted by file count), the other half appends WITH the
    column, and a junk column is added then dropped to prove dropped
    ids are never resurrected. The aggregate over old-NULL vs new
    values hash-matches the oracle. At 100 TB schema changes are one
    metadata.json commit."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    t = IcebergTable(spark, _scratch("icevo") + "_t")
    t.append(orders.filter("o_orderkey % 2 = 0"))
    n_files = len(t.data_files())
    t.add_column("junk", "long")
    t.add_column("channel", "string")
    t.drop_column("junk")
    if len(t.data_files()) != n_files:
        raise AssertionError("schema evolution must not rewrite data files")
    t.append(
        orders.filter("o_orderkey % 2 = 1").select(
            "o_orderkey",
            "o_totalprice",
            F.when(F.col("o_orderkey") % 4 == 1, F.lit("web"))
            .otherwise(F.lit("store"))
            .alias("channel"),
        )
    )
    return (
        t.read()
        .groupBy(F.coalesce("channel", F.lit("legacy")).alias("channel"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("total"),
        )
        .orderBy("channel")
    )


@query(
    "q300_delta_type_widening",
    oracle="""
    SELECT l_linestatus,CAST(SUM(CAST(CAST(l_quantity AS INT) AS BIGINT)) AS BIGINT) AS qty,
           MAX(CAST(CAST(l_extendedprice AS REAL) AS DOUBLE)) AS max_price,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
    tags=("lakehouse", "delta", "schema-evolution", "interop"),
)
def q300_delta_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """typeWidening (Delta 3.x table feature): a table written with
    NARROW types (int quantity, float price) widens to long/double
    METADATA-ONLY — zero files rewritten (asserted by add-set), the
    narrow physical encodings up-cast at scan time (Spark's parquet
    reader does the spec's value-preserving promotions natively), the
    protocol gates readers on the feature, and the schema field
    carries the delta.typeChanges audit trail. Aggregates over the
    widened columns hash-match the oracle computing through the same
    narrow→wide cast chain. At 100 TB a type migration is one
    metadata.json commit instead of a full rewrite."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("int").alias("l_quantity"),
        F.col("l_extendedprice").cast("float").alias("l_extendedprice"),
        "l_linestatus",
    )
    dl = DeltaLogTable(spark, _scratch("widen") + "_t")
    dl.write(li.repartition(4), mode="append")
    files_before = set(dl._snapshot()[0])
    dl.widen_column_type("l_quantity", "long")
    dl.widen_column_type("l_extendedprice", "double")
    fresh = DeltaLogTable(spark, dl.path)
    adds, schema, *_ = fresh._snapshot()
    if set(adds) != files_before:
        raise AssertionError("type widening must not rewrite any file")
    if [f.dataType.simpleString() for f in schema.fields][:2] != ["bigint", "double"]:
        raise AssertionError(f"schema did not widen: {schema.simpleString()}")
    return (
        fresh.read()
        .groupBy("l_linestatus")
        .agg(
            F.sum("l_quantity").alias("qty"),
            F.max("l_extendedprice").alias("max_price"),
            F.count("*").alias("n"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "q301_iceberg_type_promotion",
    oracle="""
    SELECT l_linestatus,CAST(SUM(CAST(CAST(l_quantity AS INT) AS BIGINT)) AS BIGINT) AS qty,
           MAX(CAST(CAST(l_extendedprice AS REAL) AS DOUBLE)) AS max_price,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_orderkey <= (SELECT CAST(FLOOR(MAX(l_orderkey) / 4.0) AS BIGINT) FROM lineitem)
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
    tags=("lakehouse", "iceberg", "schema-evolution", "interop"),
)
def q301_iceberg_type_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg type PROMOTION (q300's cross-format twin): int→long and
    float→double by field id, metadata-only — zero files rewritten
    (asserted). The subtle half is PRUNING: manifests written before
    the promotion carry 4-byte bounds under a now-8-byte column type;
    the bound decoder dispatches on payload width, so the stats-pruned
    key-range scan stays correct across the promotion (asserted
    against a post-promotion predicate). The filtered aggregate
    hash-matches the oracle computing through the same narrow→wide
    cast chain."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_quantity").cast("int").alias("l_quantity"),
        F.col("l_extendedprice").cast("float").alias("l_extendedprice"),
        "l_linestatus",
    )
    t = IcebergTable(spark, _scratch("icepromo") + "_t")
    t.append(li.repartitionByRange(6, "l_orderkey"))
    n_files = len(t.data_files())
    t.promote_column_type("l_quantity", "long")
    t.promote_column_type("l_extendedprice", "double")
    if len(t.data_files()) != n_files:
        raise AssertionError("type promotion must not rewrite data files")
    cut = int(li.agg(F.max("l_orderkey")).first()[0]) // 4
    info = t.scan_info(f"l_orderkey <= {cut}")
    if info["n_pruned"] < 2:
        raise AssertionError(
            f"narrow pre-promotion bounds must still prune: {info}"
        )
    return (
        t.read(where=f"l_orderkey <= {cut}")
        .groupBy("l_linestatus")
        .agg(
            F.sum("l_quantity").alias("qty"),
            F.max("l_extendedprice").alias("max_price"),
            F.count("*").alias("n"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "q302_delta_cdf_dml",
    oracle="""
    WITH b AS (
      SELECT CAST(FLOOR(MAX(c_custkey) / 4.0) AS BIGINT) AS lo,
             CAST(FLOOR(MAX(c_custkey) / 2.0) AS BIGINT) AS mid,
             CAST(FLOOR(3 * MAX(c_custkey) / 4.0) AS BIGINT) AS hi
      FROM customer
    ),
    upd AS (SELECT * FROM customer WHERE c_custkey <= (SELECT lo FROM b)),
    mrg AS (SELECT * FROM customer
            WHERE c_custkey > (SELECT lo FROM b)
              AND c_custkey <= (SELECT mid FROM b)),
    tl AS (SELECT * FROM customer WHERE c_custkey > (SELECT hi FROM b))
    SELECT * FROM (
      SELECT 'update' AS op, 'update_preimage' AS change_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
      FROM upd
      UNION ALL
      SELECT 'update', 'update_postimage', COUNT(*),
             CAST(SUM(CAST(c_acctbal + 100 AS DECIMAL(18,2))) AS DOUBLE)
      FROM upd
      UNION ALL
      SELECT 'merge', 'update_preimage', COUNT(*),
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
      FROM mrg
      UNION ALL
      SELECT 'merge', 'update_postimage', COUNT(*),
             CAST(SUM(CAST(c_acctbal + 500 AS DECIMAL(18,2))) AS DOUBLE)
      FROM mrg
      UNION ALL
      SELECT 'merge', 'insert', COUNT(*),
             CAST(SUM(CAST(c_acctbal + 1000 AS DECIMAL(18,2))) AS DOUBLE)
      FROM tl
      UNION ALL
      SELECT 'delete', 'delete', COUNT(*),
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
      FROM tl
    ) ORDER BY op, change_type
    """,
    tags=("lakehouse", "delta", "cdf", "dml"),
)
def q302_delta_cdf_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed WRITES for the public Delta log (spec 'Add CDC
    File' / 'Change Data Feed'): with ``delta.enableChangeDataFeed``
    set, UPDATE / MERGE / DELETE commits carry explicit ``cdc``
    actions pointing at ``_change_data/`` parquet — updates surface as
    update_preimage/update_postimage PAIRS (the shape the synthesized
    snapshot-diff feed can never produce), merges additionally emit
    insert rows, DV deletes emit exactly the newly-masked rows. The
    reference streams table changes downstream
    (`Instructor/02-Fraud-DLT.py` CDC flows); explicit cdc files are
    how delta-spark serves that at O(rows changed), not O(table).

    Gates (raise on violation): every DML commit carries >=1 cdc
    action; the protocol carries the changeDataFeed writer feature;
    the UPDATE commit's feed holds ONLY update_* rows (cdc preferred
    over add/remove synthesis). Result: per (op, change_type) row
    counts + DECIMAL-exact balance sums vs the oracle's restatement
    over the base table."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    maxk = int(cust.agg(F.max("c_custkey")).first()[0])
    lo, mid, hi = maxk // 4, maxk // 2, (3 * maxk) // 4
    dl = DeltaLogTable(spark, _scratch("cdfdml") + "_t")
    dl.write(cust.repartitionByRange(8, "c_custkey"), mode="append")
    dl.set_property("delta.enableChangeDataFeed", "true")

    v_upd = dl.latest_version() + 1
    dl.update({"c_acctbal": "c_acctbal + 100"}, f"c_custkey <= {lo}")
    v_mrg = dl.latest_version() + 1
    src = (
        cust.filter(f"c_custkey > {lo} AND c_custkey <= {mid}")
        .withColumn("c_acctbal", F.col("c_acctbal") + 500)
        .unionByName(
            cust.filter(f"c_custkey > {hi}").select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                "c_mktsegment",
                (F.col("c_acctbal") + 1000).alias("c_acctbal"),
            )
        )
    )
    dl.merge(src, on=["c_custkey"])
    v_del = dl.latest_version() + 1
    dl.delete(f"c_custkey > {hi} AND c_custkey <= {maxk}")

    for v in (v_upd, v_mrg, v_del):
        with open(os.path.join(dl.log_path, f"{v:020d}.json")) as fh:
            acts = [json.loads(line) for line in fh if line.strip()]
        if not any("cdc" in a for a in acts):
            raise AssertionError(f"DML commit {v} carries no cdc action")
    proto = getattr(dl, "_last_protocol", None) or {}
    feats = set(proto.get("writerFeatures") or [])
    if "changeDataFeed" not in feats:
        raise AssertionError(f"changeDataFeed feature missing: {proto}")
    upd_types = {
        r["_change_type"]
        for r in dl.read_changes(v_upd, v_upd)
        .select("_change_type")
        .distinct()
        .collect()
    }
    if upd_types != {"update_preimage", "update_postimage"}:
        raise AssertionError(
            f"UPDATE feed must be cdc-sourced update_* pairs, got {upd_types}"
        )

    return (
        dl.read_changes(v_upd, v_del)
        .select(
            F.when(F.col("_commit_version") == v_upd, "update")
            .when(F.col("_commit_version") == v_mrg, "merge")
            .otherwise("delete")
            .alias("op"),
            F.col("_change_type").alias("change_type"),
            F.col("c_acctbal").cast("decimal(18,2)").alias("_bal"),
        )
        .groupBy("op", "change_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_bal").cast("double").alias("bal"),
        )
        .orderBy("op", "change_type")
    )


@query(
    "q312_scd2_point_in_time_join",
    oracle="""
    SELECT CASE
             WHEN c.c_custkey % 6 = 0
                  AND o.o_orderdate >= TIMESTAMP '1997-03-01'
               THEN 'SEG_CHANGE_B'
             WHEN c.c_custkey % 3 = 0
                  AND o.o_orderdate >= TIMESTAMP '1995-06-01'
               THEN 'SEG_CHANGE_A'
             ELSE c.c_mktsegment
           END AS segment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1 ORDER BY 1
    """,
    tags=("lakehouse", "temporal", "scd2", "join"),
)
def q312_scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time fact↔dimension join against a LIVE SCD2 table —
    the query side of q173's maintenance side: every order joins the
    dimension version that was CURRENT at order time
    (``valid_from ≤ o_orderdate < valid_to``, open-ended for the
    current version), the as-of-the-fact semantics behind auditable
    revenue attribution (and exactly what training-data snapshots need
    to avoid feature leakage). The dimension is built through three
    real :func:`operators.temporal.scd2_apply` MERGE batches
    (1992 bootstrap; %3 keys → SEG_CHANGE_A at 1995-06-01; %6 keys →
    SEG_CHANGE_B at 1997-03-01), so the differential proves the stored
    interval history reproduces the oracle's closed-form segment
    function — any off-by-one in interval closing would flip rows at
    the effective-date boundaries. Scale: equi-join on the key carries
    the plan; the interval predicate is a post-filter over each key's
    ≤3 versions (bounded), never a time-range blowup."""
    from ent_fins_lakehouse_spark.operators.temporal import scd2_apply

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    t = LakeTable(spark, _scratch("scd2pit"))
    scd2_apply(t, cust, ["c_custkey"], ["c_mktsegment"], "1992-01-01")
    b1 = cust.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 3 == 0, F.lit("SEG_CHANGE_A")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    scd2_apply(t, b1, ["c_custkey"], ["c_mktsegment"], "1995-06-01")
    b2 = cust.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 6 == 0, F.lit("SEG_CHANGE_B"))
        .when(F.col("c_custkey") % 3 == 0, F.lit("SEG_CHANGE_A"))
        .otherwise(F.col("c_mktsegment")),
    )
    scd2_apply(t, b2, ["c_custkey"], ["c_mktsegment"], "1997-03-01")

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    dim = t.read()
    return (
        orders.join(dim, orders.o_custkey == dim.c_custkey)
        .filter(
            (F.to_date("o_orderdate") >= F.col("valid_from"))
            & (
                F.col("valid_to").isNull()
                | (F.to_date("o_orderdate") < F.col("valid_to"))
            )
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("segment")
    )


@query(
    "q313_iceberg_ndv_statistics",
    oracle="""
    SELECT 'l_orderkey' AS col, COUNT(DISTINCT l_orderkey) AS exact_ndv,
           TRUE AS within_bound
    FROM lineitem
    UNION ALL
    SELECT 'l_partkey', COUNT(DISTINCT l_partkey), TRUE FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', COUNT(DISTINCT l_returnflag), TRUE FROM lineitem
    UNION ALL
    SELECT 'l_suppkey', COUNT(DISTINCT l_suppkey), TRUE FROM lineitem
    ORDER BY col
    """,
    tags=("lakehouse", "iceberg", "stats", "sketch"),
)
def q313_iceberg_ndv_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg table-statistics files (spec 'Table statistics'; the
    Puffin theta-sketch NDV blobs, as a KMV sketch with the same
    contract): one distributed pass hashes every requested column,
    keeps per-partition k-minima on the EXECUTORS (Arrow batches,
    bounded k·partitions·columns rows out), and commits per-column NDV
    estimates to a ``metadata/stats-<snapshot>.json`` sidecar
    referenced from table metadata pinned to the snapshot id — the CBO
    input (join order, broadcast threshold) at KB cost regardless of
    table size.

    Gates: the estimates round-trip through ``ndv_estimates()``
    byte-identically; a low-cardinality column (< k distinct) is EXACT
    by construction; high-cardinality estimates must sit within 5
    relative standard errors (≈15.7% at k=1024) of the exact NDV —
    raise on violation, so the differential's TRUE flags are earned,
    not asserted."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_returnflag"
    )
    t = IcebergTable(spark, _scratch("icendv") + "_t")
    t.append(li.repartition(8))
    cols = ["l_orderkey", "l_partkey", "l_returnflag", "l_suppkey"]
    k = 1024
    written = t.write_ndv_stats(cols, k=k)
    reread = t.ndv_estimates()
    if written != reread:
        raise AssertionError(f"stats round-trip drifted: {written} vs {reread}")
    exact = {
        c: int(n)
        for c, n in zip(
            cols, li.agg(*[F.countDistinct(c).alias(c) for c in cols]).first()
        )
    }
    if reread["l_returnflag"] != exact["l_returnflag"]:
        raise AssertionError(
            f"low-cardinality NDV must be exact: {reread['l_returnflag']} "
            f"vs {exact['l_returnflag']}"
        )
    tol = 5.0 / (k - 2) ** 0.5
    rows = []
    for c in cols:
        err = abs(reread[c] - exact[c]) / max(exact[c], 1)
        if exact[c] >= k and err > tol:
            raise AssertionError(
                f"NDV estimate for {c} off by {err:.3f} (> {tol:.3f}): "
                f"{reread[c]} vs exact {exact[c]}"
            )
        rows.append((c, exact[c], True))
    return spark.createDataFrame(
        rows, "col STRING, exact_ndv LONG, within_bound BOOLEAN"
    ).orderBy("col")


@query(
    "q315_iceberg_cow_over_eq_deletes",
    oracle="""
    WITH b AS (
      SELECT CAST(FLOOR(MAX(c_custkey) / 4.0) AS BIGINT) AS q1,
             CAST(FLOOR(MAX(c_custkey) / 2.0) AS BIGINT) AS q2,
             CAST(FLOOR(3 * MAX(c_custkey) / 4.0) AS BIGINT) AS q3
      FROM customer
    ),
    state AS (
      SELECT c_custkey AS k,
             CASE WHEN c_custkey <= (SELECT q1 FROM b)
                    THEN c_acctbal + 100
                  WHEN c_custkey <= (SELECT q2 FROM b)
                    THEN c_acctbal + 500
                  ELSE c_acctbal END AS bal
      FROM customer WHERE c_custkey <= (SELECT q3 FROM b)
      UNION ALL
      SELECT c_custkey, c_acctbal + 5000
      FROM customer
      WHERE c_custkey > (SELECT q3 FROM b) AND c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey + 1000000, c_acctbal + 1000
      FROM customer
      WHERE c_custkey > (SELECT q1 FROM b) AND c_custkey <= (SELECT q2 FROM b)
    )
    SELECT CASE WHEN k > 1000000 THEN 'merge_inserted'
                WHEN k <= (SELECT q1 FROM b) THEN 'updated'
                WHEN k <= (SELECT q2 FROM b) THEN 'merged'
                WHEN k <= (SELECT q3 FROM b) THEN 'untouched'
                ELSE 'reinserted' END AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS bal
    FROM state GROUP BY 1 ORDER BY 1
    """,
    tags=("lakehouse", "iceberg", "dml", "cdc"),
)
def q315_iceberg_cow_over_eq_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DML on an Iceberg table CARRYING equality deletes
    — the Flink-ingest + Spark-maintenance composition that
    merge-on-read DML must refuse (pos/eq sequence interplay) but CoW
    handles exactly: the DML scans read THROUGH the eq deletes with
    the spec's sequence rule (a delete at sequence S masks only data
    files with sequence < S), rewritten files leave every prior
    delete's scope via their HIGHER sequence, untouched files keep
    their lower sequence and stay masked by the carried-forward delete
    manifests — eq-deleted rows can never resurrect.

    Arc: append customers → delete_eq the top quartile (CDC delete) →
    re-append every 10th of those keys at +5000 (later sequence, NOT
    masked) → UPDATE mode='cow' (+100, bottom quartile) → MERGE
    mode='cow' (+500 matched second quartile, shifted-key inserts).
    The final table hash-matches the oracle's closed-form restatement;
    both MoR verbs are asserted to still refuse."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    maxk = int(cust.agg(F.max("c_custkey")).first()[0])
    q1, q2, q3 = maxk // 4, maxk // 2, (3 * maxk) // 4
    t = IcebergTable(spark, _scratch("iceeqcow") + "_t")
    t.append(cust.repartitionByRange(6, "c_custkey"))
    t.delete_eq(
        cust.filter(f"c_custkey > {q3}").select("c_custkey"), ["c_custkey"]
    )
    t.append(
        cust.filter(f"c_custkey > {q3} AND c_custkey % 10 = 0").withColumn(
            "c_acctbal", F.col("c_acctbal") + 5000
        )
    )
    try:
        t.update({"c_acctbal": "c_acctbal + 1"}, f"c_custkey <= {q1}", mode="mor")
        raise AssertionError("MoR UPDATE over eq deletes must refuse")
    except NotImplementedError:
        pass
    got = t.update(
        {"c_acctbal": "c_acctbal + 100"}, f"c_custkey <= {q1}", mode="cow"
    )
    n_q1 = cust.filter(f"c_custkey <= {q1}").count()
    if got["rows_updated"] != n_q1:
        raise AssertionError(f"expected {n_q1} rows updated, got {got}")
    src = (
        cust.filter(f"c_custkey > {q1} AND c_custkey <= {q2}")
        .withColumn("c_acctbal", F.col("c_acctbal") + 500)
        .unionByName(
            cust.filter(f"c_custkey > {q1} AND c_custkey <= {q2}").select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                (F.col("c_acctbal") + 1000).alias("c_acctbal"),
            )
        )
    )
    t.merge(src, on=["c_custkey"], mode="cow")
    return (
        t.read()
        .select(
            F.when(F.col("c_custkey") > 1000000, "merge_inserted")
            .when(F.col("c_custkey") <= q1, "updated")
            .when(F.col("c_custkey") <= q2, "merged")
            .when(F.col("c_custkey") <= q3, "untouched")
            .otherwise("reinserted")
            .alias("bucket"),
            "c_acctbal",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("bal"),
        )
        .orderBy("bucket")
    )


@query(
    "q316_delta_dml_on_mapped_table",
    oracle="""
    WITH b AS (
      SELECT CAST(FLOOR(MAX(c_custkey) / 4.0) AS BIGINT) AS lo,
             CAST(FLOOR(MAX(c_custkey) / 2.0) AS BIGINT) AS mid,
             CAST(FLOOR(3 * MAX(c_custkey) / 4.0) AS BIGINT) AS hi
      FROM customer
    ),
    state AS (
      SELECT c_custkey AS k,
             CASE WHEN c_custkey <= (SELECT lo FROM b) THEN c_acctbal + 100
                  WHEN c_custkey <= (SELECT mid FROM b) THEN c_acctbal + 500
                  ELSE c_acctbal END AS bal
      FROM customer WHERE c_custkey <= (SELECT hi FROM b)
      UNION ALL
      SELECT c_custkey + 1000000, c_acctbal + 1000
      FROM customer WHERE c_custkey > (SELECT hi FROM b)
    )
    SELECT CASE WHEN k > 1000000 THEN 'inserted'
                WHEN k <= (SELECT lo FROM b) THEN 'updated'
                WHEN k <= (SELECT mid FROM b) THEN 'merged'
                ELSE 'untouched' END AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS bal
    FROM state GROUP BY 1 ORDER BY 1
    """,
    tags=("lakehouse", "delta", "column-mapping", "dml", "cdf"),
)
def q316_delta_dml_on_mapped_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DML + change data feed THROUGH column mapping — the lifecycle a
    renamed production table actually lives: RENAME COLUMN upgrades
    the table to name mode (metadata-only; fields keep their physical
    names), then UPDATE / MERGE / DV-DELETE run with LOGICAL names in
    predicates and assignments while every rewritten data file, cdc
    file, hive dir and stats blob carries PHYSICAL names per the spec
    — so delta-spark and DuckDB keep reading the table mid-history.
    CDF stays on for the whole arc; the DELETE commit's feed is
    asserted cdc-sourced and delete-only. The final state hash-matches
    the oracle's closed form over the base table."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    maxk = int(cust.agg(F.max("c_custkey")).first()[0])
    lo, mid, hi = maxk // 4, maxk // 2, (3 * maxk) // 4
    dl = DeltaLogTable(spark, _scratch("cmdml") + "_t")
    dl.write(cust.repartitionByRange(6, "c_custkey"), mode="append")
    dl.rename_column("c_acctbal", "balance")  # upgrades to name mode
    dl.set_property("delta.enableChangeDataFeed", "true")

    dl.update({"balance": "balance + 100"}, f"c_custkey <= {lo}")
    src = (
        cust.filter(f"c_custkey > {lo} AND c_custkey <= {mid}")
        .withColumn("balance", F.col("c_acctbal") + 500)
        .drop("c_acctbal")
        .unionByName(
            cust.filter(f"c_custkey > {hi}").select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                "c_mktsegment",
                (F.col("c_acctbal") + 1000).alias("balance"),
            )
        )
        .select("c_custkey", "c_mktsegment", "balance")
    )
    dl.merge(src, on=["c_custkey"])
    v_del = dl.latest_version() + 1
    dl.delete(f"c_custkey > {hi} AND c_custkey <= {maxk}")

    feed_types = {
        r["_change_type"]
        for r in dl.read_changes(v_del, v_del)
        .select("_change_type")
        .distinct()
        .collect()
    }
    if feed_types != {"delete"}:
        raise AssertionError(
            f"mapped DV-delete feed must be cdc delete rows, got {feed_types}"
        )
    return (
        dl.read()
        .select(
            F.when(F.col("c_custkey") > 1000000, "inserted")
            .when(F.col("c_custkey") <= lo, "updated")
            .when(F.col("c_custkey") <= mid, "merged")
            .otherwise("untouched")
            .alias("bucket"),
            "balance",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("balance").cast("decimal(18,2)"))
            .cast("double")
            .alias("bal"),
        )
        .orderBy("bucket")
    )


@query(
    "q317_iceberg_eq_delete_changes",
    oracle="""
    WITH b AS (
      SELECT CAST(FLOOR(MAX(c_custkey) / 4.0) AS BIGINT) AS lo,
             CAST(FLOOR(MAX(c_custkey) / 2.0) AS BIGINT) AS mid,
             CAST(FLOOR(3 * MAX(c_custkey) / 4.0) AS BIGINT) AS hi
      FROM customer
    ),
    mrg AS (SELECT * FROM customer
            WHERE c_custkey > (SELECT lo FROM b)
              AND c_custkey <= (SELECT mid FROM b)),
    ins AS (SELECT * FROM customer WHERE c_custkey > (SELECT hi FROM b)),
    del AS (SELECT * FROM customer WHERE c_custkey <= (SELECT lo FROM b))
    SELECT * FROM (
      SELECT 'upsert' AS op, 'delete' AS change_type, COUNT(*) AS n,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
      FROM mrg
      UNION ALL
      SELECT 'upsert', 'insert', COUNT(*) + (SELECT COUNT(*) FROM ins),
             CAST(SUM(CAST(c_acctbal + 500 AS DECIMAL(18,2)))
                  + (SELECT SUM(CAST(c_acctbal + 1000 AS DECIMAL(18,2)))
                     FROM ins) AS DOUBLE)
      FROM mrg
      UNION ALL
      SELECT 'cdc_delete', 'delete', COUNT(*),
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
      FROM del
    ) ORDER BY op, change_type
    """,
    tags=("lakehouse", "iceberg", "cdc", "streaming"),
)
def q317_iceberg_eq_delete_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental read over EQUALITY-delete snapshots — the Flink CDC
    ingest shape made streamable: an ``upsert_eq`` snapshot emits its
    matched OLD rows as deletes plus its new data file as inserts (the
    CDC pair), a ``delete_eq`` emits exactly the PARENT snapshot's
    visible rows matching the key tuples — computed as one null-safe
    semi-join of the parent read against the (distinct, KB-sized)
    delete-key file, so the feed's cost tracks the CHANGE, never the
    table. The feed's per-(snapshot, change_type) accounting
    hash-matches the oracle's closed form; end state equals feed
    replay by construction (tested row-for-row in pytest)."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    maxk = int(cust.agg(F.max("c_custkey")).first()[0])
    lo, mid, hi = maxk // 4, maxk // 2, (3 * maxk) // 4
    t = IcebergTable(spark, _scratch("iceeqcdc") + "_t")
    t.append(cust.repartitionByRange(4, "c_custkey"))
    s0 = t.metadata()["current-snapshot-id"]
    src = (
        cust.filter(f"c_custkey > {lo} AND c_custkey <= {mid}")
        .withColumn("c_acctbal", F.col("c_acctbal") + 500)
        .unionByName(
            cust.filter(f"c_custkey > {hi}").select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                (F.col("c_acctbal") + 1000).alias("c_acctbal"),
            )
        )
    )
    t.upsert_eq(src, ["c_custkey"])
    s1 = t.metadata()["current-snapshot-id"]
    t.delete_eq(
        cust.filter(f"c_custkey <= {lo}").select("c_custkey"), ["c_custkey"]
    )

    return (
        t.read_changes(s0)
        .select(
            F.when(F.col("_commit_snapshot") == s1, "upsert")
            .otherwise("cdc_delete")
            .alias("op"),
            F.col("_change_type").alias("change_type"),
            F.col("c_acctbal").cast("decimal(18,2)").alias("_bal"),
        )
        .groupBy("op", "change_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_bal").cast("double").alias("bal"),
        )
        .orderBy("op", "change_type")
    )


@query(
    "q320_delta_timestamp_ntz",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ntz,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY 1 LIMIT 200
    """,
    tags=("lakehouse", "delta", "types"),
)
def q320_delta_timestamp_ntz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP_NTZ persistence in the public Delta log (spec
    'TimestampNTZ' table feature): wall-clock timestamps with NO UTC
    adjustment — the type every peer warehouse hands over when the
    instant-vs-wall distinction matters — commit through the writer
    with the timestampNtz READER+WRITER feature gated in the SAME
    version (readers that would misread the parquet isAdjustedToUTC
    flag must refuse), round-trip typed, and aggregate identically to
    the oracle's (ntz-native) DuckDB run. Gates: the schemaString
    carries timestamp_ntz; the protocol carries the feature on both
    sides; the read-back dtype IS TimestampNTZType."""
    from pyspark.sql import types as T

    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        F.col("ts").cast("timestamp_ntz").alias("ts_ntz"),
        "value",
    )
    dl = DeltaLogTable(spark, _scratch("ntz") + "_t")
    dl.write(ev, mode="append")
    proto = getattr(dl, "_last_protocol", None) or {}
    for side in ("readerFeatures", "writerFeatures"):
        if "timestampNtz" not in set(proto.get(side) or []):
            raise AssertionError(f"timestampNtz missing from {side}: {proto}")
    back = dl.read()
    if not isinstance(back.schema["ts_ntz"].dataType, T.TimestampNTZType):
        raise AssertionError(
            f"ts_ntz must read back as TIMESTAMP_NTZ, got {back.schema['ts_ntz']}"
        )
    return (
        back.groupBy(F.date_trunc("hour", "ts_ntz").alias("hour_ntz"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total"),
        )
        .orderBy("hour_ntz")
        .limit(200)
    )


@query(
    "q325_delta_replace_where",
    oracle="""
    WITH repl AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(0.0 AS DOUBLE) AS o_totalprice, o_orderpriority
      FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 10 = 0
    ), final AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderpriority
      FROM orders WHERE NOT coalesce(o_orderstatus = 'F', FALSE)
      UNION ALL
      SELECT * FROM repl
    )
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS total
    FROM final
    GROUP BY o_orderstatus, o_orderpriority
    ORDER BY o_orderstatus, o_orderpriority
    """,
    tags=("lakehouse", "delta", "replace-where", "write"),
)
def q325_delta_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """replaceWhere — Delta's predicate-scoped overwrite
    (``option("replaceWhere", pred)``), THE production backfill verb:
    atomically (DELETE WHERE pred) + (INSERT new slice) in one commit,
    with Delta's default enforcement that every incoming row satisfies
    the predicate. Here the 'F' order slice is recomputed (a subset
    survives with zeroed totals) while 'O'/'P' orders are untouched —
    their files keep their add actions verbatim (stats-pruned, never
    rewritten). Scale: a one-day backfill on a 100 TB table rewrites
    that day's files only."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "o_orderpriority",
    )
    dl = DeltaLogTable(spark, _scratch("rw") + "_t")
    dl.write(orders.repartition(4), mode="append")
    repl = orders.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 10 == 0)
    ).withColumn("o_totalprice", F.lit(0.0))
    dl.replace_where(repl, "o_orderstatus = 'F'")
    return (
        dl.read()
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(28,4)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


@query(
    "q326_delta_dynamic_partition_overwrite",
    oracle="""
    WITH reload AS (
      SELECT c_custkey, c_mktsegment,
             CAST(c_acctbal AS DOUBLE) + 1000.0 AS c_acctbal
      FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    ), final AS (
      SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS c_acctbal
      FROM customer WHERE c_mktsegment NOT IN ('BUILDING', 'MACHINERY')
      UNION ALL
      SELECT * FROM reload
    )
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS bal
    FROM final
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("lakehouse", "delta", "dynamic-overwrite", "write"),
)
def q326_delta_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition overwrite (Spark/Delta
    ``partitionOverwriteMode=dynamic``): replace exactly the hive
    partitions present in the incoming frame — the idempotent
    daily-reload shape (re-running a partition's job replaces that
    partition, never truncates the table the way static overwrite
    would). Two of five segment partitions are reloaded with adjusted
    balances; the other three keep their files (removes are
    metadata-only: whole files keyed by partition tuple off the
    add-action dict, no data scan). The replaced-partition set is read
    off the staged adds' partitionValues — same hive encoding by
    construction."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment",
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
    )
    dl = DeltaLogTable(spark, _scratch("dpo") + "_t")
    dl.write(cust, mode="append", partition_by=["c_mktsegment"])
    reload_df = cust.filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    ).withColumn("c_acctbal", F.col("c_acctbal") + 1000.0)
    res = dl.overwrite_dynamic_partitions(reload_df)
    assert res["partitions_replaced"] == 2, res
    return (
        dl.read()
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("c_acctbal").cast("decimal(28,2)"))
            .cast("double")
            .alias("bal"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q327_iceberg_metadata_tables",
    oracle="""
    SELECT 0 AS content, COUNT(*) AS record_count
    FROM orders WHERE o_orderkey % 7 IN (0, 1)
    UNION ALL
    SELECT 1 AS content, COUNT(*) AS record_count
    FROM orders WHERE o_orderkey % 70 = 0
    ORDER BY content
    """,
    tags=("lakehouse", "iceberg", "metadata"),
)
def q327_iceberg_metadata_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``files`` / ``history`` / ``snapshots`` metadata tables
    (Iceberg's ``SELECT * FROM tbl.files`` surface, completing q240's
    ``partitions``): all three answer from KBs of Avro manifests +
    metadata.json, never the data. The fixture exercises the full
    lifecycle — two appends, a MoR position delete, a bad append,
    rollback — then asserts history separates the current lineage from
    the rolled-past snapshot (``is_current_ancestor=false``), the
    snapshots table records the operation sequence, and the files
    table's per-content record accounting is hash-exact vs the data:
    data files keep their FULL record_count under merge-on-read (the
    delete debt lives in content=1 rows — the audit that drives
    compaction targeting)."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = IcebergTable(spark, _scratch("icemeta") + "_t")
    t.append(orders.filter(F.col("o_orderkey") % 7 == 0).repartition(4))
    t.append(orders.filter(F.col("o_orderkey") % 7 == 1).repartition(4))
    t.delete("o_orderkey % 70 = 0", mode="mor")
    good_head = t.snapshots()[-1]["snapshot-id"]
    t.append(orders.filter(F.col("o_orderkey") % 7 == 2).limit(10).coalesce(1))
    t.rollback_to(snapshot_id=good_head)

    hist = t.history_df().collect()
    # 4 commits + the rollback re-publication = 5 log entries
    assert len(hist) == 5, hist
    non_anc = [r for r in hist if not r["is_current_ancestor"]]
    assert len(non_anc) == 1, hist
    assert hist[-1]["snapshot_id"] == good_head, hist
    ops = [r["operation"] for r in t.snapshots_df().orderBy("committed_at_ms", "snapshot_id").collect()]
    assert ops == ["append", "append", "delete", "append"], ops

    return (
        t.files_df()
        .groupBy("content")
        .agg(F.sum("record_count").alias("record_count"))
        .orderBy("content")
    )


@query(
    "q330_iceberg_sort_order",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 200
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("lakehouse", "iceberg", "sort-order", "file-skipping"),
)
def q330_iceberg_sort_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg SORT ORDERS (spec 'Sort Orders' / the
    ``replace_sort_order`` API + ``rewrite_data_files`` sort strategy):
    registering an order is a METADATA-ONLY commit; afterwards appends
    sort rows within each staged file and stamp ``sort_order_id``
    (data_file field 140), and compaction range-partitions on the
    order's columns so rewritten files cover DISJOINT key ranges.

    The fixture proves the whole contract: (1) hash-distributed files
    all overlap on o_custkey, so a narrow range predicate reads EVERY
    file; (2) replace_sort_order(["o_custkey"]) + compact() turns the
    same scan_info probe into a 1-2 file read (asserted strictly
    fewer); (3) a post-order append stamps the order id, visible in
    the files metadata table; (4) the read-back aggregate over the
    pruned range is hash-exact vs the raw parquet. At 100 TB this is
    THE lever for key-range workloads: sorting is declared once in
    metadata, every subsequent write tightens its own min/max bounds,
    and no query-side change is needed — the manifests prune."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    t = IcebergTable(spark, _scratch("icesort") + "_t")
    # unsorted baseline: hash distribution makes every file span the
    # full o_custkey domain — min/max bounds are useless
    t.append(orders.filter(F.col("o_orderkey") % 5 != 0).repartition(8))
    before = t.scan_info("o_custkey BETWEEN 100 AND 200")
    assert before["n_read"] == before["n_active"] == 8, before

    oid = t.replace_sort_order(["o_custkey"])
    assert oid >= 1, oid
    meta = t.metadata()
    assert int(meta["default-sort-order-id"]) == oid, meta["sort-orders"]
    # idempotent re-registration returns the same id (spec equivalence)
    assert t.replace_sort_order(["o_custkey"]) == oid

    # appends after the order is set stamp sort_order_id on their files
    t.append(orders.filter(F.col("o_orderkey") % 5 == 0).repartition(2))
    stamped = (
        t.files_df()
        .filter(F.col("content") == 0)
        .groupBy("sort_order_id")
        .count()
        .collect()
    )
    assert {r["sort_order_id"] for r in stamped} == {None, oid}, stamped

    # rewrite_data_files with no explicit strategy picks up the table
    # order: range-partition on o_custkey => disjoint per-file bounds
    res = t.compact(target_files=8)
    assert res["files_after"] <= 8, res
    after = t.scan_info("o_custkey BETWEEN 100 AND 200")
    assert after["n_read"] < before["n_read"], (before, after)
    # the predicate covers ~7% of the key domain at the standard SFs
    # (1-2 of 8 disjoint ranges); at toy SFs the domain shrinks, so
    # bound the read RELATIVELY — strictly under half the files
    assert after["n_read"] <= max(2, before["n_read"] // 2), after
    all_stamped = (
        t.files_df().filter(F.col("content") == 0).collect()
    )
    assert all(r["sort_order_id"] == oid for r in all_stamped), all_stamped

    return (
        t.read(where="o_custkey BETWEEN 100 AND 200")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q334_iceberg_rewrite_position_deletes",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderkey % 10 <> 3 AND o_orderkey % 10 <> 7
      AND NOT (o_custkey BETWEEN 0 AND 99 AND o_orderkey % 10 = 1)
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("lakehouse", "iceberg", "maintenance", "merge-on-read"),
)
def q334_iceberg_rewrite_position_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rewrite_position_delete_files — the delete-side maintenance verb
    (completing compact = data files, rewrite_manifests = manifest
    lists): after repeated merge-on-read DML the read plan unions MANY
    small position-delete files; this rewrite consolidates them into
    one sorted run and drops DANGLING rows (refs into data files a
    later copy-on-write pass rewrote) — O(delete bytes), data files
    untouched, prior snapshots still time-travel.

    The fixture builds real delete debt: three MoR deletes (three
    delete files), then a CoW update that rewrites the low-custkey
    files (orphaning their delete refs). Asserts: files 3 -> 1,
    dangling rows actually dropped, the data file set untouched
    byte-for-byte, and the read-back BEFORE == AFTER == the oracle
    (maintenance must be invisible to readers)."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    t = IcebergTable(spark, _scratch("icerpd") + "_t")
    t.append(orders.repartitionByRange(6, "o_custkey"))
    # three rounds of MoR DML => three small position-delete files
    t.delete("o_orderkey % 10 = 3", mode="mor")
    t.delete("o_orderkey % 10 = 7", mode="mor")
    t.delete("o_custkey BETWEEN 0 AND 99 AND o_orderkey % 10 = 1", mode="mor")
    _, pos_before, _ = t._files()
    assert len(pos_before) >= 3, pos_before
    # CoW update rewrites the low-custkey files: their delete refs dangle
    t.update(
        {"o_totalprice": "o_totalprice"}, "o_custkey BETWEEN 0 AND 99", mode="cow"
    )
    before_rows = {tuple(r) for r in t.read().collect()}
    data_before = sorted(p for p, _, _ in t._files()[0])

    res = t.rewrite_position_deletes()
    assert res["delete_files_before"] >= 3, res
    assert res["delete_files_after"] == 1, res
    assert res["dangling_rows_dropped"] > 0, res

    data_after = sorted(p for p, _, _ in t._files()[0])
    assert data_after == data_before, "data files must be untouched"
    after_rows = {tuple(r) for r in t.read().collect()}
    assert after_rows == before_rows, "maintenance changed visible rows"
    # idempotent: a second rewrite is a near-no-op (1 -> 1, no drops)
    res2 = t.rewrite_position_deletes()
    assert res2["delete_files_after"] <= 1, res2
    assert res2["dangling_rows_dropped"] == 0, res2

    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q335_iceberg_all_files_audit",
    oracle="""
    SELECT CAST(4 AS BIGINT) AS n_snapshots,
           CAST(9 AS BIGINT) AS all_data_files,
           CAST(3 AS BIGINT) AS live_files,
           CAST(7 AS BIGINT) AS all_manifest_rows,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 9 <> 4)
             AS live_records
    """,
    tags=("lakehouse", "iceberg", "metadata-tables", "audit"),
)
def q335_iceberg_all_files_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-snapshot metadata tables ``all_files`` /
    ``all_manifests`` (completing q327's current-snapshot ``files`` /
    ``history`` / ``snapshots``): every content file ANY snapshot
    references — with reference counts and first/last referencing
    snapshot — and every (snapshot, manifest) pairing. This is the
    audit surface behind retention planning ("how many bytes does
    expire_snapshots(keep_last=1) free?") and manifest-reuse health
    ("does each commit share metadata with its parent?"), answered
    from KBs of Avro without touching data.

    The fixture's lifecycle is exact arithmetic the oracle re-states:
    append(4 files) -> append(2) -> MoR delete -> compact(3):
    all_files DATA rows = 4+2+3 = 9 distinct (the delete-file count is
    a staging detail asserted >=1 in-plan, not hashed), live = 3 data
    files, all_manifests rows = 1+2+3+1 = 7 (manifest REUSE visible:
    snapshot 2 carries snapshot 1's manifest untouched — asserted),
    and the live record count ties to the raw data. File counts are
    scale-independent (explicit repartition); record counts scale with
    sf — both engines agree on both."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = IcebergTable(spark, _scratch("iceaudit") + "_t")
    t.append(orders.filter(F.col("o_orderkey") % 3 == 0).repartition(4))
    t.append(orders.filter(F.col("o_orderkey") % 3 != 0).repartition(2))
    t.delete("o_orderkey % 9 = 4", mode="mor")
    t.compact(target_files=3)

    af = t.all_files_df()
    am = t.all_manifests_df()
    # manifest reuse: snapshot 2 must carry snapshot 1's manifest
    s1_manifests = {r["manifest_path"] for r in am.filter("snapshot_id = 1").collect()}
    s2_manifests = {r["manifest_path"] for r in am.filter("snapshot_id = 2").collect()}
    assert s1_manifests < s2_manifests, "append must reuse the parent's manifest"
    # the first append's files are referenced by exactly 3 snapshots
    # (s1, s2, s3) and fall out of the compacted s4
    first_wave = af.filter("first_snapshot_id = 1").collect()
    assert all(r["n_snapshots"] == 3 for r in first_wave), first_wave
    # the MoR delete's position-delete files show up as content=1 rows
    assert af.filter("content = 1").count() >= 1

    live = t.files_df().filter("content = 0")
    return (
        af.filter("content = 0")
        .agg(F.count(F.lit(1)).cast("long").alias("all_data_files"))
        .crossJoin(
            live.agg(
                F.count(F.lit(1)).cast("long").alias("live_files"),
                F.sum("record_count").cast("long").alias("live_records"),
            )
        )
        .crossJoin(am.agg(F.count(F.lit(1)).cast("long").alias("all_manifest_rows")))
        .select(
            F.lit(len(t.snapshots())).cast("long").alias("n_snapshots"),
            "all_data_files",
            "live_files",
            "all_manifest_rows",
            "live_records",
        )
    )


@query(
    "q336_incremental_materialized_view",
    oracle="""
    WITH final_state AS (
      SELECT o_orderkey, o_custkey % 100 AS g,
             CASE WHEN o_custkey % 100 = 23
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) * 2
                  ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
      FROM orders WHERE o_custkey % 100 <> 7
      UNION ALL
      SELECT o_orderkey + 10000000, 11 AS g,
             CAST(o_totalprice + 1000 AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_custkey % 100 = 11
    )
    SELECT g, COUNT(*) AS n_rows,
           CAST(SUM(price) AS DOUBLE) AS sum_o_totalprice
    FROM final_state GROUP BY g ORDER BY g
    """,
    tags=("lakehouse", "materialized-view", "cdf", "incremental"),
)
def q336_incremental_materialized_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained materialized aggregate view — the
    Gupta/Mumick view-maintenance algebra over the engine's own change
    data feed: COUNT/SUM per group refresh by applying per-group
    DELTAS (insert/update_post -> +, delete/update_pre -> -) via one
    MERGE, so refresh cost is O(changed rows) + O(touched groups),
    never a recompute. At 100 TB with trickle DML this is the
    difference between a nightly full aggregation and a seconds-long
    maintenance tick.

    The fixture runs the full lifecycle: create over a 100-group view,
    then three DML waves on the base (DELETE group 7, APPEND into
    group 11, MERGE-double group 23) and ONE incremental refresh.
    Asserted: exactly 3 of ~100 groups touched, the deleted group
    dropped, and the refreshed view is ROW-IDENTICAL to a full
    recompute (DECIMAL sums make incremental == full, bit-for-bit).
    The returned view hash-matches the oracle's restatement of the
    final base state."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable
    from ent_fins_lakehouse_spark.sources.matview import MaterializedAggView

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 100).alias("g"),
        "o_totalprice",
    )
    base = DeltaLogTable(spark, _scratch("mvbase") + "_t")
    base.write(orders, mode="append")
    # precise per-row cdc staging (without it the feed degrades to
    # whole-rewritten-file churn and every group looks touched)
    base.set_property("delta.enableChangeDataFeed", "true")
    mv = MaterializedAggView(spark, base, _scratch("mv") + "_v")
    created = mv.create(["g"], ["o_totalprice"])
    assert created["groups"] >= 50, created

    # three DML waves against the base table
    base.delete("g = 7")
    base.write(
        orders.filter(F.col("g") == 11).select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            "g",
            (F.col("o_totalprice") + 1000).alias("o_totalprice"),
        ),
        mode="append",
    )
    base.merge(
        orders.filter(F.col("g") == 23),
        on=["o_orderkey"],
        when_matched_update_all=False,
        when_not_matched_insert_all=False,
        matched_update={"o_totalprice": "t.o_totalprice * 2"},
    )

    res = mv.refresh()
    assert res["mode"] == "incremental", res
    assert res["groups_touched"] == 3, res
    assert res["groups_dropped"] == 1, res

    got = mv.read()
    # incremental must equal a full recompute EXACTLY (decimal sums);
    # one evaluation per side instead of four (r14, guide §1.2)
    want = mv._aggregate(base.read(), ["g"], ["o_totalprice"])
    diff = multiset_diff_count(got, want)
    assert diff == 0, f"incremental refresh diverged from recompute ({diff} rows)"
    # a second refresh with no new commits is a no-op
    assert mv.refresh()["groups_touched"] == 0

    return got.select(
        "g",
        "n_rows",
        F.col("sum_o_totalprice").cast("double").alias("sum_o_totalprice"),
    ).orderBy("g")


@query(
    "q338_insert_only_minmax_view",
    oracle="""
    WITH final_state AS (
      SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v
      FROM events WHERE event_id % 7 <> 0
      UNION ALL
      SELECT event_type, CAST(value * 3 AS DECIMAL(18,2)) AS v
      FROM events WHERE event_id % 5 = 0
    )
    SELECT event_type, COUNT(*) AS n_rows,
           CAST(SUM(v) AS DOUBLE) AS sum_value,
           CAST(MIN(v) AS DOUBLE) AS min_value,
           CAST(MAX(v) AS DOUBLE) AS max_value
    FROM final_state GROUP BY event_type ORDER BY event_type
    """,
    tags=("lakehouse", "materialized-view", "cdf", "incremental"),
)
def q338_insert_only_minmax_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX in an incrementally-maintained view — both halves of
    Gupta & Mumick's extrema algebra: under an INSERT-ONLY window the
    extrema self-maintain (LEAST/GREATEST against the batch
    minima/maxima — the distributive case), and a DELETE-bearing
    window completes via re-derivation of ONLY the affected groups
    (the removed row might have BEEN the extremum; the runner-up is
    recovered by a semi-join-pushed re-scan of just those groups —
    O(affected groups), never O(table), and never ``full=True``).

    Fixture: create over events, one enriched append (incremental
    LEAST/GREATEST tick, bit-identical to a recompute), then a base
    DELETE of ~1/7 of the original rows — the next INCREMENTAL
    refresh applies it (VERDICT r11 item 5) and the final view equals
    a full recompute exactly; the oracle restates that final state."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable
    from ent_fins_lakehouse_spark.sources.matview import MaterializedAggView

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    base = DeltaLogTable(spark, _scratch("mvmm") + "_t")
    base.write(ev, mode="append")
    base.set_property("delta.enableChangeDataFeed", "true")
    mv = MaterializedAggView(spark, base, _scratch("mvmmv") + "_v")
    mv.create(["event_type"], ["value"], minmax_cols=["value"])

    # insert-only wave: tripled values move maxima, not minima
    base.write(
        ev.filter(F.col("event_id") % 5 == 0).select(
            (F.col("event_id") + 10_000_000).alias("event_id"),
            "event_type",
            (F.col("value") * 3).alias("value"),
        ),
        mode="append",
    )
    res = mv.refresh()
    assert res["mode"] == "incremental" and res["groups_touched"] >= 1, res
    want = mv._aggregate(base.read(), ["event_type"], ["value"], ["value"])
    got = mv.read()
    assert multiset_diff_count(got, want) == 0

    # the delete window maintains INCREMENTALLY now — affected groups
    # (those whose extremum was removed) re-derive, the rest take pure
    # count/sum deltas; bit-identity with a recompute is the contract
    base.delete("event_id % 7 = 0 AND event_id < 10000000")
    res2 = mv.refresh()
    assert res2["mode"] == "incremental" and res2["groups_touched"] >= 1, res2
    want2 = mv._aggregate(base.read(), ["event_type"], ["value"], ["value"])
    got2 = mv.read()
    assert multiset_diff_count(got2, want2) == 0

    return (
        mv.read()
        .select(
            "event_type",
            "n_rows",
            F.col("sum_value").cast("double").alias("sum_value"),
            F.col("min_value").cast("double").alias("min_value"),
            F.col("max_value").cast("double").alias("max_value"),
        )
        .orderBy("event_type")
    )


@query(
    "q339_delta_uniform_auto_sync",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderkey % 10 <> 6
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("lakehouse", "delta", "iceberg", "uniform", "interop"),
)
def q339_delta_uniform_auto_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniForm AUTO-sync — ``delta.universalFormat.enabledFormats=
    iceberg`` turns the manual convert/sync pair into a per-commit
    hook: every Delta commit maintains an Iceberg metadata TWIN in the
    table's own root (one copy of parquet, ``_delta_log`` AND
    ``metadata/`` side by side), so Iceberg readers follow the table
    with zero copies and zero operator involvement. The facade's
    dual-format refusal carves out exactly this shape: open_table
    returns the Delta writer-of-record.

    Sync is BEST-EFFORT after the durable commit, and the fixture
    drives the full health lifecycle: appends sync (status ok + twin
    row-identical); a deletion-vector DELETE makes the table
    non-convertible, so the sync REFUSES (status carries the reason,
    the twin stays consistently stale at its anchor); REORG PURGE
    materializes the DVs and its commit SELF-HEALS the twin (the
    anchor-diff sync translates the delete+purge window as one REPLACE
    snapshot). Asserted at each stage; the final twin read
    hash-matches the oracle's restatement."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable, open_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    dl = DeltaLogTable(spark, _scratch("uniform") + "_t")
    dl.write(orders.filter(F.col("o_orderkey") % 2 == 0), mode="append")
    dl.set_property("delta.universalFormat.enabledFormats", "iceberg")
    assert dl.uniform_status() is None  # no sync before the first post-enable verb

    dl.write(orders.filter(F.col("o_orderkey") % 2 == 1), mode="append")
    st = dl.uniform_status()
    assert st and st["ok"], st
    ice = IcebergTable(spark, dl.path)

    # r15 (guide §2.6): each twin/writer equality assert needs two
    # full-scan counts over the same files through two metadata stacks
    # — independent jobs, so each pair runs concurrently
    n_before_delete, n_dl = run_concurrently(spark, ice.read().count, dl.read().count)
    assert n_before_delete == n_dl
    # the facade resolves the legitimate dual-format root to Delta
    assert isinstance(open_table(spark, dl.path), DeltaLogTable)

    # a DV delete syncs too: the descriptors TRANSLATE into v3 DV
    # entries against the same .bin bytes — the twin masks immediately
    res = dl.delete("o_orderkey % 10 = 6")
    st = dl.uniform_status()
    assert st and st["ok"], st
    ice2 = IcebergTable(spark, dl.path)
    assert int(ice2.metadata()["format-version"]) == 3
    n_after_delete, n_dl2 = run_concurrently(spark, ice2.read().count, dl.read().count)
    assert n_after_delete == n_before_delete - res["rows_deleted"]
    assert n_after_delete == n_dl2
    assert len(ice2._dv_entries()) >= 1

    # REORG PURGE materializes; the twin follows back to a plain scan
    dl.reorg_purge()
    st = dl.uniform_status()
    assert st and st["ok"], st
    ice3 = IcebergTable(spark, dl.path)
    assert ice3._dv_entries() == []
    twin = ice3.read()
    n_twin, n_dl3 = run_concurrently(spark, twin.count, dl.read().count)
    assert n_twin == n_dl3

    return (
        twin.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q341_iceberg_to_delta_sync",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderkey % 10 <> 4
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("lakehouse", "iceberg", "delta", "interop", "sync"),
)
def q341_iceberg_to_delta_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental Iceberg→Delta sync — the REVERSE direction of the
    UniForm/XTable pair (q-family: convert both ways, sync
    delta→iceberg; this closes the last arrow): after conversion, each
    sync reads the snapshot anchor off the Delta head commit, diffs
    the Iceberg file sets, and lands ONE Delta commit of add/remove
    actions with bounds re-encoded as stats — O(changed files)
    metadata, zero data copied, Delta time travel serving every sync
    state.

    Lifecycle asserted: append wave -> sync (adds only, prior Delta
    version still serves the pre-sync state); copy-on-write DELETE ->
    sync (removes + adds in one commit); idempotent re-sync -> None;
    an INDEPENDENT Delta write then breaks the anchor and sync refuses
    loudly (one-way sync never merges). Final Delta read hash-matches
    the oracle over the raw data."""
    from ent_fins_lakehouse_spark.sources.iceberg import (
        IcebergTable,
        convert_iceberg_to_delta,
        sync_iceberg_to_delta,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    ice = IcebergTable(spark, _scratch("i2d") + "_i")
    ice.append(orders.filter(F.col("o_orderkey") % 2 == 0).repartition(4))
    dl = convert_iceberg_to_delta(spark, ice, _scratch("i2d") + "_d")
    v0 = dl.latest_version()

    # append-only window: sync lands adds, history stays travelable
    ice.append(orders.filter(F.col("o_orderkey") % 2 == 1).repartition(2))
    v1 = sync_iceberg_to_delta(spark, ice, dl)
    assert v1 == v0 + 1, (v0, v1)
    # ONE count job per table state (r14, guide §1.2), and the
    # independent state counts run CONCURRENTLY (r15, guide §2.6)
    n_head, n_ice, n_v0 = run_concurrently(
        spark, dl.read().count, ice.read().count, dl.read(version_as_of=v0).count
    )
    assert n_head == n_ice
    assert n_v0 < n_head

    # rewrite window: CoW delete -> removes + adds in one commit
    ice.delete("o_orderkey % 10 = 4", mode="cow")
    v2 = sync_iceberg_to_delta(spark, ice, dl)
    assert v2 == v1 + 1
    n_dl, n_ice = run_concurrently(spark, dl.read().count, ice.read().count)
    assert n_dl == n_ice
    # idempotent when in sync
    assert sync_iceberg_to_delta(spark, ice, dl) is None

    # an independent Delta write breaks the one-way anchor: refuse
    dl.write(orders.limit(5), mode="append")
    try:
        sync_iceberg_to_delta(spark, ice, dl)
        raise AssertionError("sync must refuse after an independent Delta write")
    except ValueError as e:
        assert "anchor" in str(e), e
    # restate the pre-write state for the oracle comparison
    final = dl.read(version_as_of=v2)

    return (
        final.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q342_iceberg_materialized_view",
    oracle="""
    WITH final_state AS (
      SELECT o_custkey % 40 AS g, CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders
      WHERE o_custkey % 40 <> 9 AND o_orderkey % 2 = 0
      UNION ALL
      SELECT o_custkey % 40 AS g, CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders
      WHERE o_custkey % 40 <> 9 AND o_orderkey % 2 = 1
    )
    SELECT g, COUNT(*) AS n_rows,
           CAST(SUM(price) AS DOUBLE) AS sum_o_totalprice
    FROM final_state GROUP BY g ORDER BY g
    """,
    tags=("lakehouse", "iceberg", "materialized-view", "incremental"),
)
def q342_iceberg_materialized_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized-view maintenance algebra over an ICEBERG base —
    the same per-group delta MERGE (q336), fed by Iceberg's
    incremental scan instead of Delta CDF: appended manifests emit
    inserts, in-range position deletes emit the masked rows as
    deletes, and REPLACE (compaction) snapshots are correctly
    INVISIBLE — asserted here by compacting the base mid-stream and
    checking the refresh sees zero groups touched. Cross-format by
    construction: the view itself stays a public Delta table, so one
    dashboard reads one format while bases vary.

    Lifecycle: create at snapshot v (full compute pinned to v),
    append wave -> refresh (inserts), MoR DELETE -> refresh (deletes,
    group 9 drops), compact() -> refresh is a NO-OP, and the final
    view equals both a recompute and the oracle's restatement."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable
    from ent_fins_lakehouse_spark.sources.matview import MaterializedAggView

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 40).alias("g"),
        "o_totalprice",
    )
    base = IcebergTable(spark, _scratch("icemv") + "_t")
    base.append(orders.filter(F.col("o_orderkey") % 2 == 0).repartition(4))
    mv = MaterializedAggView(spark, base, _scratch("icemvv") + "_v")
    created = mv.create(["g"], ["o_totalprice"])
    assert created["groups"] == 40, created

    base.append(orders.filter(F.col("o_orderkey") % 2 == 1).repartition(2))
    res = mv.refresh()
    assert res["mode"] == "incremental" and res["groups_touched"] == 40, res

    base.delete("g = 9", mode="mor")
    res = mv.refresh()
    assert res["groups_touched"] == 1 and res["groups_dropped"] == 1, res

    # compaction is maintenance: the feed (and so the view) ignores it
    base.compact(target_files=4)
    assert mv.refresh()["groups_touched"] == 0

    got = mv.read()
    want = mv._aggregate(base.read(), ["g"], ["o_totalprice"])
    diff = multiset_diff_count(got, want)
    assert diff == 0, f"iceberg-fed view diverged from recompute ({diff} rows)"
    return got.select(
        "g",
        "n_rows",
        F.col("sum_o_totalprice").cast("double").alias("sum_o_totalprice"),
    ).orderBy("g")


@query(
    "q343_iceberg_deletion_vectors",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderkey % 10 <> 3 AND o_orderkey % 7 <> 2
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("lakehouse", "iceberg", "deletion-vectors", "v3"),
)
def q343_iceberg_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v3 DELETION VECTORS — the spec's modern soft-delete
    (and the format-convergence story: v3 chose the SAME portable
    64-bit RoaringBitmapArray serialization Delta's DVs use, so the
    engine's one roaring codec serves both formats): DELETE encodes
    matched rows as one bitmap per data file in a Puffin-style
    sidecar, referenced from content=1 manifest entries
    (referenced_data_file + blob offset/length); NO data file is
    rewritten, and reads reduce the blobs to the same (file, pos)
    anti-join as classic position deletes — executor-decoded, never
    driver-materialized.

    Asserted lifecycle: first DV bumps format-version to 3; a second
    OVERLAPPING delete merges bitmaps in-executor keeping the spec's
    one-DV-per-file invariant; the pre-DV snapshot time-travels
    intact; rewritten-DML verbs refuse loudly (compact first);
    compact() materializes the DVs back to a plain scan with rows
    unchanged. The final read-back hash-matches the oracle.

    100 TB shape: a delete touching N files writes N KB-sized bitmaps
    and one manifest — write cost tracks the DELETED ROWS, not file
    sizes; the read-side mask is one bounded anti-join however many
    deletes accumulated (vs one file-sized union per delete under
    parquet position-delete files)."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    t = IcebergTable(spark, _scratch("icedv") + "_t")
    t.append(orders.repartitionByRange(6, "o_custkey"))
    head = t.snapshots()[-1]["snapshot-id"]
    n0 = t.read().count()

    r1 = t.delete("o_orderkey % 10 = 3", mode="dv")
    assert r1["files_touched"] >= 1 and r1["rows_deleted"] > 0, r1
    assert int(t.metadata()["format-version"]) == 3
    # overlapping second delete: bitmaps merge, one DV per file
    t.delete("o_orderkey % 7 = 2", mode="dv")
    dvs = t._dv_entries()
    refs = [x[3] for x in dvs]
    assert len(refs) == len(set(refs)), "one DV per data file violated"
    assert t.read(snapshot_id=head).count() == n0, "time travel broken"

    # rewritten-DML refuses; the soft path stays open
    try:
        t.update({"o_totalprice": "o_totalprice"}, "o_custkey = 1")
        raise AssertionError("UPDATE over DVs must refuse")
    except NotImplementedError:
        pass

    before = t.read().groupBy().count().collect()[0][0]
    res = t.compact(target_files=6)
    assert res["deletes_materialized"] >= len(dvs), res
    assert t._dv_entries() == []
    assert t.read().count() == before, "compaction changed visible rows"

    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q346_iceberg_row_lineage",
    oracle="""
    WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders),
    b1 AS (SELECT k, ROW_NUMBER() OVER (ORDER BY k) - 1 AS r FROM o WHERE k % 3 = 0),
    b2 AS (SELECT k, ROW_NUMBER() OVER (ORDER BY k) - 1 AS r FROM o WHERE k % 3 = 1),
    b3 AS (SELECT k, ROW_NUMBER() OVER (ORDER BY k) - 1 AS r FROM o WHERE k % 3 = 2),
    n AS (SELECT (SELECT COUNT(*) FROM b1) AS n1,
                 (SELECT COUNT(*) FROM b2) AS n2,
                 (SELECT COUNT(*) FROM b3) AS n3),
    ids AS (
      SELECT k, r AS rid, 2 AS lusn FROM b1
      UNION ALL SELECT k, r + n1 AS rid, 3 AS lusn FROM b2, n
      UNION ALL SELECT k, r + n1 + n2 AS rid, 4 AS lusn FROM b3, n
    ),
    alive AS (SELECT * FROM ids WHERE k % 10 >= 2),
    b4 AS (
      SELECT k + 10000000 AS k,
             r + (SELECT n1 + n2 + n3 FROM n)
               + (SELECT COUNT(*) FROM alive) AS rid,
             7 AS lusn
      FROM b1
    ),
    allr AS (SELECT * FROM alive UNION ALL SELECT * FROM b4)
    SELECT CAST(lusn AS BIGINT) AS last_updated_seq,
           COUNT(*) AS n_rows,
           MIN(rid) AS min_row_id,
           MAX(rid) AS max_row_id,
           CAST(SUM(rid) AS BIGINT) AS sum_row_id
    FROM allr GROUP BY lusn ORDER BY last_updated_seq
    """,
    tags=("lakehouse", "iceberg", "v3", "lineage"),
)
def q346_iceberg_row_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v3 ROW LINEAGE (spec 'Row Lineage'): every row gets a
    stable ``_row_id`` and a ``_last_updated_sequence_number``, with
    NO per-row write cost — ids are INHERITED as ``first_row_id +
    file position`` from a per-file slice of the table's monotonic
    ``next-row-id`` counter, assigned at commit time in the same
    atomic metadata write (``sources/iceberg.py``:
    ``enable_row_lineage`` / ``_stage_data_entries`` /
    ``_commit_snapshot``). Rewrites MATERIALIZE the two columns into
    the new files (reserved field ids 2147483540/2147483539) so
    compaction preserves ids exactly, UPDATE/MERGE keep a row's id
    across versions while stamping the new commit's sequence, and
    inserts inherit fresh ids from their file's slice — readers just
    ``coalesce(materialized, first_row_id + pos)`` after a broadcast
    join against the per-file lineage dim (one scan, O(files) driver
    metadata; see :meth:`read_with_lineage`).

    Lifecycle exercised here: enable → three single-file sorted
    appends (deterministic id ranks, which is what makes the DuckDB
    oracle expressible) → DV soft delete (surviving ids UNCHANGED —
    positions are original file positions) → compact (ids preserved
    via materialization; the counter over-allocates, spec-legal) →
    post-compact append (fresh ids above everything prior). Output:
    per last-updated sequence, row count and the id range/checksum.

    100 TB shape: lineage adds ONE long per manifest entry and one
    counter to table metadata — no id column shuffled or stored until
    a rewrite materializes it; the id resolution is a broadcast hash
    join against KB-sized file metadata."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k")
    )
    path = _scratch("icerl") + "_t"
    t = IcebergTable(spark, path)
    t.append(o.limit(0).coalesce(1))
    t.enable_row_lineage()
    assert int(t.metadata()["format-version"]) == 3
    assert t.metadata()["next-row-id"] == 0
    # r15 (guide §2.6, VERDICT r14 item 3): the three appends commit to
    # ONE version chain — serial by contract — but their STAGING
    # (distributed parquet write + footer pass) is independent work, so
    # stage all three concurrently on per-thread handles and commit
    # serially in version order. Losing commits rebase: fresh
    # snapshot/sequence ids and re-sliced row-id ranges over whatever
    # landed first, staged data files reused as-is — so the committed
    # ids/sequences are IDENTICAL to the serial schedule's.
    handles = [IcebergTable(spark, path) for _ in range(4)]

    def _stage(m: int) -> dict:
        if m == 3:
            # the post-compact append's DATA does not depend on table
            # state either — stage it now, commit it last (one rebase
            # re-derives its snapshot id and row-id slice then)
            spark.sparkContext.setJobDescription("q346: stage final append")
            return handles[3]._plan_append(
                o.filter("k % 3 = 0")
                .selectExpr("k + 10000000 AS k")
                .coalesce(1)
                .sortWithinPartitions("k")
            )
        spark.sparkContext.setJobDescription(f"q346: stage append k%3={m}")
        return handles[m]._plan_append(
            o.filter(f"k % 3 = {m}").coalesce(1).sortWithinPartitions("k")
        )

    staged = run_concurrently(spark, *[functools.partial(_stage, m) for m in range(4)])
    for h, s in zip(handles[:3], staged[:3]):
        h._commit_planned_append(s, retries=3)
    n_total = t.read().count()
    assert t.metadata()["next-row-id"] == n_total, "counter != appended rows"

    t.delete("k % 10 < 2", mode="dv")
    # r15 (guide §5): the post-delete lineage projection feeds TWO jobs
    # (the liveness aggregate and the pre-compact id snapshot) — persist
    # it once instead of running the lineage scan + DV anti-join twice
    kid = _swap_persist(
        "q346_lin", t.read_with_lineage().select("k", "_row_id")
    )
    # ONE job asserts both liveness invariants (count + id uniqueness);
    # the former count() + distinct().count() pair ran the lineage scan
    # twice (r14, guide §1.2)
    row = kid.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("_row_id").alias("n_ids"),
    ).first()
    n_alive = row["n"]
    assert row["n_ids"] == n_alive, "ids not unique"

    pre = dict(kid.orderBy("k").limit(50).collect())
    t.compact(target_files=4)
    post = dict(
        t.read_with_lineage().select("k", "_row_id").orderBy("k").limit(50).collect()
    )
    assert post == pre, "compaction changed row ids"

    handles[3]._commit_planned_append(staged[3], retries=3)
    return (
        t.read_with_lineage()
        .groupBy(
            F.col("_last_updated_sequence_number").alias("last_updated_seq")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("_row_id").alias("min_row_id"),
            F.max("_row_id").alias("max_row_id"),
            F.sum("_row_id").alias("sum_row_id"),
        )
        .orderBy("last_updated_seq")
    )


@query(
    "q347_iceberg_default_values",
    oracle="""
    WITH b1 AS (
      SELECT c_custkey, c_acctbal, 'standard' AS tier
      FROM customer WHERE c_custkey <= 750
    ),
    b2 AS (
      SELECT c_custkey, c_acctbal,
             CASE WHEN c_mktsegment = 'BUILDING' THEN 'premium' END AS tier
      FROM customer WHERE c_custkey > 750
    ),
    b3 AS (
      SELECT c_custkey + 1000000 AS c_custkey, c_acctbal, 'standard' AS tier
      FROM customer WHERE c_custkey <= 750
    ),
    t AS (
      SELECT * FROM b1 UNION ALL SELECT * FROM b2 UNION ALL SELECT * FROM b3
    ),
    alive AS (
      SELECT * FROM t
      WHERE NOT COALESCE(tier = 'standard' AND c_custkey % 7 = 0, FALSE)
    )
    SELECT COALESCE(tier, '<null>') AS tier,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM alive GROUP BY tier ORDER BY tier
    """,
    tags=("lakehouse", "iceberg", "v3", "schema-evolution"),
)
def q347_iceberg_default_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v3 DEFAULT VALUES (spec 'Default values'): ADD COLUMN
    … DEFAULT is METADATA-ONLY backfill — the new field carries an
    ``initial-default`` (rows in files that predate the column read
    it; no data rewrite at any table size) and a ``write-default``
    (appends omitting the column fill it at write time). Explicit
    values — including explicit NULLs — stored by post-evolution
    writers always win: the default applies per FILE (column
    physically absent), never per value. Bumps format-version to 3.

    Lifecycle: create from pre-evolution rows → ``add_column(…,
    default='standard')`` → append rows with EXPLICIT tiers (premium /
    NULL — the NULLs must stay NULL) → append rows WITHOUT the column
    (write-default fills) → CoW DELETE whose predicate reads the
    default on pre-evolution files (DML scans resolve defaults too) →
    per-tier rollup, hash-checked against DuckDB computing the same
    semantics relationally.

    100 TB shape: the fill is a broadcast join against a KB-sized
    per-file missing-column dim (driver footer probe, memoized per
    immutable file) + a codegen CASE WHEN — reads stay one scan;
    ``sources/iceberg.py`` ``add_column`` / ``_apply_initial_defaults``."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    c = load_table(spark, sf_dir, "customer")
    t = IcebergTable(spark, _scratch("icedf") + "_t")
    t.append(
        c.filter("c_custkey <= 750").select(
            "c_custkey", F.col("c_acctbal").cast("double").alias("c_acctbal")
        )
    )
    t.add_column("tier", "string", default="standard")
    assert int(t.metadata()["format-version"]) == 3
    t.append(
        c.filter("c_custkey > 750").select(
            "c_custkey",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            F.expr(
                "CASE WHEN c_mktsegment = 'BUILDING' THEN 'premium' END"
            ).alias("tier"),
        )
    )
    # omit the column entirely: write-default fills
    t.append(
        c.filter("c_custkey <= 750").select(
            (F.col("c_custkey") + 1000000).alias("c_custkey"),
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
        )
    )
    # DML predicate resolves the default on pre-evolution files
    t.delete("tier = 'standard' AND c_custkey % 7 = 0", mode="cow")
    return (
        t.read()
        .groupBy(F.coalesce("tier", F.lit("<null>")).alias("tier"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_bal"),
        )
        .orderBy("tier")
    )


@query(
    "q354_binpack_compaction",
    oracle="""
    WITH alive AS (SELECT * FROM orders WHERE o_orderkey % 100 != 0)
    SELECT fmt, o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM (
      SELECT 'delta' AS fmt, * FROM alive
      UNION ALL
      SELECT 'iceberg' AS fmt, * FROM alive
    )
    GROUP BY fmt, o_orderstatus ORDER BY fmt, o_orderstatus
    """,
    tags=("lakehouse", "maintenance", "binpack"),
)
def q354_binpack_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECTIVE bin-pack compaction on BOTH formats — the real
    OPTIMIZE / rewrite_data_files(binpack) behavior: only files under
    the size gate are read and re-packed; right-sized files carry
    forward byte-for-byte (adds/entries, stats, and their deletion
    vectors untouched). Cost tracks the small-file DEBT, never the
    table — the property a streaming ingester needs at 100 TB, where
    a full-table OPTIMIZE is a petabyte rewrite
    (`DeltaLogTable.optimize(min_file_size_bytes=…)`,
    `IcebergTable.rewrite_small_files`).

    Lifecycle: one big base file + five small debt appends per format
    → DV soft delete landing on a debt file → binpack with the gate
    set to the big file's own size (scale-relative, so the selection
    is identical at every sf) → asserts the big file survived
    untouched, the debt collapsed, and (Iceberg) the now-dangling DV
    manifest is reclaimed by rewrite_manifests. Output: the per-format
    post-compaction rollup, hash-checked against DuckDB computing the
    surviving rows relationally."""
    import os as _os

    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    big = orders.filter("o_orderkey % 20 != 0").coalesce(1)
    debts = [
        orders.filter(f"o_orderkey % 100 = {m * 20}").coalesce(1)
        for m in range(5)
    ]

    def _delta_arc() -> DeltaLogTable:
        dl = DeltaLogTable(spark, _scratch("bpdl") + "_t")
        dl.write(big, mode="append")
        for d in debts:
            dl.write(d, mode="append")
        dl.delete("o_orderkey % 100 = 0")
        adds0, *_ = dl._snapshot()
        big_path, big_size = max(
            ((p, int(i.get("size") or 0)) for p, i in adds0.items()),
            key=lambda x: x[1],
        )
        res_d = dl.optimize(min_file_size_bytes=big_size)
        assert res_d["files_selected"] == 5, res_d
        adds1, *_ = dl._snapshot()
        assert big_path in adds1, "binpack touched a right-sized file"
        return dl

    def _ice_arc() -> IcebergTable:
        ice = IcebergTable(spark, _scratch("bpice") + "_t")
        ice.append(big)
        for d in debts:
            ice.append(d)
        ice.delete("o_orderkey % 100 = 0", mode="dv")
        big_file = max(ice.data_files(), key=_os.path.getsize)
        res_i = ice.rewrite_small_files(
            small_file_threshold_bytes=_os.path.getsize(big_file)
        )
        assert res_i["files_selected"] == 5, res_i
        assert big_file in ice.data_files(), "binpack touched a right-sized file"
        # the debt file's DV now references a dead file —
        # rewrite_manifests reclaims the dangling DV manifest
        ice.rewrite_manifests()
        assert ice._dv_entries() == [], "dangling DV manifest not reclaimed"
        return ice

    # the two format arcs are fully independent (separate scratch
    # roots, no shared state) and each is a serial chain of small
    # commits — overlap them so one arc's commit latency back-fills
    # the other's idle executors (guide §2.6, r14)
    dl, ice = run_concurrently(spark, _delta_arc, _ice_arc)

    both = dl.read().withColumn("fmt", F.lit("delta")).unionByName(
        ice.read().withColumn("fmt", F.lit("iceberg"))
    )
    return (
        both.groupBy("fmt", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("fmt", "o_orderstatus")
    )


@query(
    "q359_iceberg_partition_stats",
    oracle="""
    SELECT '{"o_orderstatus": "' || o_orderstatus || '"}' AS partition,
           COUNT(*) AS record_count
    FROM orders GROUP BY o_orderstatus ORDER BY partition
    """,
    tags=("lakehouse", "iceberg", "stats"),
)
def q359_iceberg_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg PARTITION STATISTICS files (spec 'Partition
    Statistics'): the per-partition rollup is persisted as ONE parquet
    under ``metadata/`` and registered snapshot-pinned in table
    metadata — planners and catalogs then read a single footer instead
    of walking manifests, and the stats survive manifest rewrites
    (the same snapshot-pinned registry shape as the NDV/Puffin stats).

    Lifecycle asserted: write stats → registry entry points at an
    existing parquet sized as recorded → :meth:`partition_stats_df`
    serves the REGISTERED file (no manifest walk) with per-partition
    counts that hash-match DuckDB's relational rollup → a NEW snapshot
    has no registered entry and falls back to the live manifest rollup
    with the append reflected (pinned stats are per-snapshot, never
    stale-served)."""
    import os as _os

    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.col("o_totalprice").cast("double")
    )
    t = IcebergTable(spark, _scratch("iceps") + "_t")
    t.append(orders, partition_by=["o_orderstatus"])
    entry = t.write_partition_stats()
    assert _os.path.isfile(entry["statistics-path"])
    assert _os.path.getsize(entry["statistics-path"]) == entry["file-size-in-bytes"]
    assert (t.metadata().get("partition-statistics") or [])[-1] == entry

    pinned = t.partition_stats_df()
    n_before = pinned.count()

    # a new snapshot has no pinned stats: the reader falls back to the
    # live manifest rollup and sees the append
    t.append(
        orders.limit(50).select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            F.lit("Z").alias("o_orderstatus"),
            F.col("o_totalprice"),
        ),
        partition_by=["o_orderstatus"],
    )
    live = t.partition_stats_df()
    assert live.count() == n_before + 1, "fallback must reflect the new snapshot"
    assert live.filter("partition LIKE '%Z%'").first()["record_count"] == 50

    # the PINNED file still serves the stats-snapshot exactly
    return (
        t.partition_stats_df(snapshot_id=entry["snapshot-id"])
        .select("partition", "record_count")
        .orderBy("partition")
    )


@query(
    "q367_iceberg_dv_change_feed",
    oracle="""
    WITH src AS (
      SELECT o_orderkey, o_custkey % 11 AS g, o_totalprice
      FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT o_orderkey, g, o_totalprice,
           'insert' AS _change_type, CAST(2 AS BIGINT) AS _commit_snapshot
    FROM src
    UNION ALL
    SELECT o_orderkey, g, o_totalprice, 'delete', 3 FROM src WHERE g = 3
    UNION ALL
    SELECT o_orderkey, g, o_totalprice, 'delete', 4 FROM src WHERE g = 5
    ORDER BY _commit_snapshot, o_orderkey
    """,
    tags=("lakehouse", "iceberg", "cdf", "dv"),
)
def q367_iceberg_dv_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC from v3 DELETION VECTORS (r10): read_changes emits a DV
    snapshot's change as the per-file BITMAP DELTA — the new merged
    bitmap minus the parent snapshot's — so a second DV delete whose
    predicate also covers already-deleted rows re-emits NOTHING for
    them (the arc deletes g=3, then "g=3 OR g=5": the second snapshot's
    feed is exactly the g=5 rows). This closes the CDC gap for the
    cheapest-write delete encoding: high-churn soft-delete tables can
    feed incremental consumers (the q366 live MV, downstream syncs)
    without switching to position-delete files.

    Scale shape: blobs are KB-sized roaring bitmaps decoded on the
    driver (the DV design point — the control plane moves kilobytes);
    ONE distributed job re-reads only the referenced files and
    left-semi joins the delta positions; insert feeds stream straight
    from the appended files."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    root = tempfile.mkdtemp(prefix="ice_dv_cdc_")
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select(
            "o_orderkey",
            (F.col("o_custkey") % 11).alias("g"),
            "o_totalprice",
        )
    )
    t = IcebergTable(spark, os.path.join(root, "t"))
    t.append(src.limit(0).coalesce(1))  # snapshot 1: schema only
    t.append(src.coalesce(2))  # snapshot 2: the seed
    t.delete("g = 3", mode="dv")  # snapshot 3: first bitmap
    t.delete("g = 3 OR g = 5", mode="dv")  # snapshot 4: merge; delta = g=5
    return (
        t.read_changes(1)
        .select(
            "o_orderkey",
            "g",
            "o_totalprice",
            "_change_type",
            F.col("_commit_snapshot").cast("bigint").alias("_commit_snapshot"),
        )
        .orderBy("_commit_snapshot", "o_orderkey")
    )


@query(
    "q368_hll_ndv_view",
    oracle="""
    WITH final_state AS (
      SELECT o_custkey % 25 AS g, o_custkey AS ck FROM orders
      UNION ALL
      SELECT 6 AS g, o_custkey + 1000000 AS ck FROM orders WHERE o_custkey % 25 = 6
    )
    SELECT g, COUNT(*) AS n_rows, COUNT(DISTINCT ck) AS exact_ndv,
           TRUE AS ndv_within_5pct
    FROM final_state GROUP BY g ORDER BY g
    """,
    tags=("lakehouse", "materialized-view", "sketch", "incremental"),
)
def q368_hll_ndv_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained APPROXIMATE-DISTINCT view (r10): the
    MaterializedAggView family grows ndv_cols — a mergeable
    DataSketches HLL sketch per group (4 KB state, register-max
    hll_union merge) with its estimate denormalized beside it. Exact
    COUNT(DISTINCT) is NOT self-maintainable (knowing a batch added 50
    keys says nothing about how many were already present); the
    mergeable sketch is, which is why every warehouse's incremental
    NDV story is a sketch. Refresh cost stays O(changed rows) +
    O(touched groups); insert-only like MIN/MAX (registers cannot
    forget — asserted by the delete-refusal test).

    Arc: empty CDF base -> create -> seed append + incremental refresh
    -> enrichment append (new distinct keys into ONE group) +
    incremental refresh. Correctness: n_rows and exact_ndv hash-exact
    vs DuckDB (q141's bounded-check pattern); the sketch estimate is
    asserted within 5% of exact per group inside the plan (lgK=12 RSE
    is ~1.6%, and sparse-mode HLL is EXACT at these cardinalities)."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable
    from ent_fins_lakehouse_spark.sources.matview import MaterializedAggView

    root = tempfile.mkdtemp(prefix="hll_mv_")
    src = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 25).alias("g"),
        F.col("o_custkey").alias("ck"),
    )
    base = DeltaLogTable(spark, os.path.join(root, "base"))
    base.write(src.limit(0), mode="append")
    base.set_property("delta.enableChangeDataFeed", "true")
    mv = MaterializedAggView(spark, base, os.path.join(root, "view"))
    assert mv.create(["g"], [], ndv_cols=["ck"])["groups"] == 0

    base.write(src, mode="append")
    mv.refresh()
    base.write(
        src.filter(F.col("g") == 6).select(
            "g", (F.col("ck") + 1_000_000).alias("ck")
        ),
        mode="append",
    )
    st = mv.refresh()
    assert st["mode"] == "incremental" and st["groups_touched"] >= 1

    exact = base.read().groupBy("g").agg(
        F.countDistinct("ck").alias("exact_ndv")
    )
    return (
        mv.read()
        .join(exact, "g")
        .select(
            "g",
            "n_rows",
            "exact_ndv",
            (
                F.abs(F.col("ndv_ck") - F.col("exact_ndv"))
                <= F.greatest(F.lit(1), (F.col("exact_ndv") * 0.05).cast("long"))
            ).alias("ndv_within_5pct"),
        )
        .orderBy("g")
    )


@query(
    "q369_sql_time_travel_join",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders WHERE o_orderkey % 6 = 0
    """,
    tags=("lakehouse", "sql", "time-travel"),
)
def q369_sql_time_travel_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel inside a GENERAL facade SELECT (r10): a JOIN of two
    AS-OF states across BOTH lake formats — `db.d VERSION AS OF 0`
    (Delta: even orderkeys only, before the v1 append) against
    `db.i VERSION AS OF 1` (Iceberg: the first snapshot, multiples of
    3) — so the join serves exactly the orderkey%6==0 rows however the
    CURRENT tables have grown since. The previous facade surface only
    time-traveled `SELECT * FROM t`; this resolves as-of snapshots for
    arbitrary SELECT shapes through the same format shims with read
    policies still applied."""
    from ent_fins_lakehouse_spark.sources.catalog import LakehouseSession
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    src = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    dpath = _scratch("ttd") + "_t"
    d = DeltaLogTable(spark, dpath)
    d.write(src.filter(F.col("o_orderkey") % 2 == 0), mode="append")  # v0
    d.write(src.filter(F.col("o_orderkey") % 2 == 1), mode="append")  # v1
    ipath = _scratch("tti") + "_t"
    i = IcebergTable(spark, ipath)
    i.append(src.filter(F.col("o_orderkey") % 3 == 0).coalesce(2))  # snapshot 1
    i.append(src.filter(F.col("o_orderkey") % 3 != 0).coalesce(2))  # snapshot 2
    lh = LakehouseSession(spark, _scratch("wh_tt"))
    lh.sql("CREATE DATABASE db")
    lh.sql(f"CREATE TABLE db.d USING DELTA LOCATION '{dpath}'")
    lh.sql(f"CREATE TABLE db.i USING ICEBERG LOCATION '{ipath}'")
    return lh.sql(
        "SELECT COUNT(*) AS n_rows, "
        "CAST(SUM(CAST(a.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price "
        "FROM db.d VERSION AS OF 0 a "
        "JOIN db.i VERSION AS OF 1 b ON a.o_orderkey = b.o_orderkey"
    )


@query(
    "q370_sql_table_changes",
    oracle="""
    WITH src AS (
      SELECT o_orderkey, o_custkey % 20 AS g,
             CAST(o_totalprice AS DECIMAL(18,2)) AS p
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    feed AS (
      SELECT 'delete' AS _change_type, p FROM src WHERE g = 7
      UNION ALL
      SELECT 'insert',
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 50 AS DECIMAL(18,2))
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT _change_type, COUNT(*) AS n_rows,
           CAST(SUM(p) AS DOUBLE) AS sum_price
    FROM feed GROUP BY _change_type ORDER BY _change_type
    """,
    tags=("lakehouse", "sql", "cdf"),
)
def q370_sql_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The delta-spark ``table_changes`` TVF in the facade (r10):
    aggregate straight over a version window of the change feed —
    `FROM table_changes('db.o', 1, 2)` — with the feed rows produced by
    the engine's CDF reader (a DELETE's pre-images at v1, an append's
    inserts at v2) and policies applied like any read. The TVF also
    takes quoted timestamps (delta-spark's boundary rules) and Iceberg
    snapshot ids (exclusive start, the format's native convention) —
    pinned in tests/test_mv_sql.py."""
    from ent_fins_lakehouse_spark.sources.catalog import LakehouseSession
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 20).alias("g"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
    )
    path = _scratch("tvf") + "_t"
    d = DeltaLogTable(spark, path)
    d.write(src.filter(F.col("o_orderkey") % 2 == 0), mode="append")  # v0
    d.delete("g = 7")  # v1: pre-images feed as deletes
    d.write(  # v2: inserts
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 2 == 1)
        .select(
            "o_orderkey",
            (F.col("o_custkey") % 20).alias("g"),
            (F.col("o_totalprice").cast("decimal(18,2)") + 50)
            .cast("decimal(18,2)")
            .alias("p"),
        ),
        mode="append",
    )
    lh = LakehouseSession(spark, _scratch("wh_tvf"))
    lh.sql("CREATE DATABASE db")
    lh.sql(f"CREATE TABLE db.o USING DELTA LOCATION '{path}'")
    return lh.sql(
        "SELECT _change_type, COUNT(*) AS n_rows, "
        "CAST(SUM(p) AS DOUBLE) AS sum_price "
        "FROM table_changes('db.o', 1, 2) "
        "GROUP BY _change_type ORDER BY _change_type"
    )


@query(
    "q371_iceberg_zorder_rewrite",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice
    FROM lineitem WHERE l_partkey <= 200
    ORDER BY l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice
    """,
    tags=("lakehouse", "iceberg", "zorder"),
)
def q371_iceberg_zorder_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rewrite_data_files with the Z-ORDER sort strategy on the
    ICEBERG side (r10 — q180's cross-format twin, one shared Morton
    `_zvalue` kernel for both table formats): bucket bits interleave
    JVM-side, the rewrite range-partitions + sorts on the z-value, and
    every rewritten file covers a small (orderkey x partkey)
    hyper-rectangle — so the manifests' footer-sourced lower/upper
    bounds prune predicates on EITHER column, asserted for both
    dimensions via the same manifest-bounds pruning the reads use,
    then hash-checked against the relational oracle."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable
    from ent_fins_lakehouse_spark.sources.skipping import prune_dirs

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    t = IcebergTable(spark, _scratch("icez") + "_t")
    t.append(li.repartition(16))
    t.compact(target_files=16, zorder_by=["l_orderkey", "l_partkey"])
    # ONE pass builds both column sketches (r14, guide §1.2) — the
    # per-column generator ran two full scans
    q_ok, q_pk = (
        int(v[0])
        for v in li.approxQuantile(["l_orderkey", "l_partkey"], [0.05], 0.01)
    )
    data, *_ = t._files_full()
    stats = {p: b for p, _, b in data}
    for pred in (f"l_orderkey <= {q_ok}", f"l_partkey <= {q_pk}"):
        cand, _pruned = prune_dirs(pred, stats, [p for p, _, _ in data])
        if len(data) - len(cand) < 4:
            raise AssertionError(
                f"z-order must prune on {pred}: {len(cand)}/{len(data)} files scan"
            )
    return t.read(where="l_partkey <= 200").orderBy(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )


@query(
    "q372_iceberg_fsck_repair",
    oracle="""
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders WHERE o_orderkey % 2 = 0
    ORDER BY o_orderkey
    """,
    tags=("lakehouse", "iceberg", "maintenance"),
)
def q372_iceberg_fsck_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FSCK REPAIR TABLE on the Iceberg side (r10 — Delta-verb parity):
    a data file deleted OUT OF BAND (lifecycle policy, foreign GC)
    breaks every read with FileNotFound; fsck_repair probes existence
    per live file (control plane only) and commits ONE snapshot that
    drops exactly the dangling entries via the copy-on-write exclusion
    primitive — survivors keep serving and hash-match the oracle's
    restatement. dry_run reports without committing; time travel still
    sees the pre-repair metadata."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    src = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    t = IcebergTable(spark, _scratch("fsck") + "_t")
    t.append(src.filter(F.col("o_orderkey") % 2 == 0).coalesce(1))
    t.append(src.filter(F.col("o_orderkey") % 2 == 1).coalesce(1))
    data, *_ = t._files_full()
    victim = next(
        p for p, _, b in data
        if b and b.get("o_orderkey") and int(b["o_orderkey"][0]) % 2 == 1
    )
    os.remove(victim)
    rep = t.fsck_repair(dry_run=True)
    assert rep["n_missing"] == 1 and rep["missing"] == [victim], rep
    rep2 = t.fsck_repair()
    assert rep2["n_missing"] == 1 and "snapshot_id" in rep2
    assert t.fsck_repair(dry_run=True)["n_missing"] == 0
    return t.read().orderBy("o_orderkey")


@query(
    "q374_join_mv_incremental",
    oracle="""
    WITH a AS (
      SELECT o_orderkey, o_custkey AS custkey, o_totalprice
      FROM orders WHERE o_orderkey % 3 IN (0, 1)
    ),
    b AS (
      SELECT c_custkey AS custkey, c_mktsegment,
             CASE WHEN c_custkey % 10 = 4 THEN c_acctbal + 1000 ELSE c_acctbal END AS c_acctbal
      FROM customer WHERE c_custkey % 10 <> 3
    )
    SELECT c_mktsegment,
           COUNT(*) AS n_pairs,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
    FROM a JOIN b USING (custkey)
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("lakehouse", "materialized-view", "join", "incremental"),
)
def q374_join_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained JOIN materialized view
    (sources/matview.py::MaterializedJoinView) — the delta-rule
    ΔV = ΔA⋈B ∪ (A∖ΔA)⋈ΔB beside the engine's aggregate MVs, driven
    by BOTH base tables' change feeds through one refresh window that
    mixes appends, a DV DELETE, and an UPDATE (pre/post collapse).
    Maintenance deletes ride the new WHEN MATCHED THEN DELETE merge
    clause. The final view is asserted equal to a full join recompute,
    and the oracle restates the final logical state; per tick the cost
    is O(|Δ| ⋈ matched) with the Δ sides broadcast."""
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable
    from ent_fins_lakehouse_spark.sources.matview import MaterializedJoinView

    root = tempfile.mkdtemp(prefix="join_mv_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment", "c_acctbal"
    )
    a = DeltaLogTable(spark, os.path.join(root, "a"))
    a.write(orders.filter(F.col("o_orderkey") % 3 == 0).coalesce(4), mode="overwrite")
    a.set_property("delta.enableChangeDataFeed", "true")
    b = DeltaLogTable(spark, os.path.join(root, "b"))
    b.write(cust.coalesce(2), mode="overwrite")
    b.set_property("delta.enableChangeDataFeed", "true")

    mv = MaterializedJoinView(spark, a, b, os.path.join(root, "view"))
    mv.create(
        on=["custkey"],
        a_pk="o_orderkey",
        b_pk="custkey",
        a_cols=["o_totalprice"],
        b_cols=["c_mktsegment", "c_acctbal"],
    )

    # one refresh window mixing all three DML shapes on both sides
    a.write(orders.filter(F.col("o_orderkey") % 3 == 1).coalesce(2), mode="append")
    b.delete("custkey % 10 = 3")
    b.update({"c_acctbal": "c_acctbal + 1000"}, "custkey % 10 = 4")
    mv.refresh()

    got = mv.read()
    want = (
        a.read()
        .join(b.read(), on=["custkey"], how="inner")
        .select(*got.columns)
    )
    # multiset equality in one evaluation per side (r14): the former
    # exceptAll ∪ reverse-exceptAll evaluated BOTH inputs twice
    diff = multiset_diff_count(got, want)
    assert diff == 0, f"join view diverged from recompute ({diff} rows)"
    return (
        got.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_totalprice"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q380_iceberg_metadata_tables_sql",
    oracle="""
    WITH base AS (SELECT c_nationkey, COUNT(*) AS n1 FROM customer GROUP BY c_nationkey),
    sec AS (
      SELECT c_nationkey, COUNT(*) AS n2 FROM customer WHERE c_custkey <= 50
      GROUP BY c_nationkey
    )
    SELECT b.c_nationkey AS nationkey,
           CAST(b.n1 + COALESCE(s.n2, 0) AS BIGINT) AS record_count,
           CAST(1 + CASE WHEN s.n2 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS file_count,
           CAST(2 AS BIGINT) AS n_snapshots
    FROM base b LEFT JOIN sec s ON b.c_nationkey = s.c_nationkey
    ORDER BY nationkey
    """,
    tags=("lakehouse", "iceberg", "metadata", "sql"),
)
def q380_iceberg_metadata_tables_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg METADATA TABLES through the SQL facade — the
    ``db.t.partitions`` / ``db.t.files`` / ``db.t.snapshots`` /
    ``db.t.history`` suffix-table idiom Spark's Iceberg catalog
    exposes, resolved in catalog.py BEFORE the general table pass.
    The reads are manifest/Avro walks only (KBs however large the
    data): the layout audit that drives OPTIMIZE targeting never
    scans a data file. Correctness is cross-checked against the DATA:
    per-partition record counts and file counts from the manifests
    must equal the logical group-by (two partitioned appends, each
    repartitioned on the key so file counts are deterministic), and
    the snapshot count joins in from ``db.t.snapshots``."""
    from ent_fins_lakehouse_spark.sources.catalog import LakehouseSession
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    loc = _scratch("meta_tbl") + "_t"
    t = IcebergTable(spark, loc)
    t.append(cust.repartition("c_nationkey"), partition_by=["c_nationkey"])
    t.append(
        cust.filter(F.col("c_custkey") <= 50).repartition("c_nationkey"),
        partition_by=["c_nationkey"],
    )
    lh = LakehouseSession(spark, _scratch("wh_meta_tbl"))
    lh.sql("CREATE DATABASE meta")
    lh.sql(f"CREATE TABLE meta.t USING ICEBERG LOCATION '{loc}'")
    return lh.sql(
        """
        SELECT CAST(get_json_object(p.partition, '$.c_nationkey') AS BIGINT) AS nationkey,
               p.record_count AS record_count,
               p.file_count AS file_count,
               s.n_snapshots AS n_snapshots
        FROM meta.t.partitions p
        CROSS JOIN (SELECT COUNT(*) AS n_snapshots FROM meta.t.snapshots) s
        ORDER BY nationkey
        """
    )


@query(
    "q381_sql_join_mv",
    oracle="""
    WITH a AS (
      SELECT o_orderkey, o_custkey AS custkey, o_totalprice
      FROM orders WHERE o_orderkey % 5 IN (0, 1) AND o_orderkey % 40 <> 1
    ),
    b AS (SELECT c_custkey AS custkey, c_mktsegment FROM customer)
    SELECT c_mktsegment,
           COUNT(*) AS n_pairs,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice
    FROM a JOIN b USING (custkey)
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("lakehouse", "materialized-view", "join", "sql"),
)
def q381_sql_join_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL surface over q374's join view: ``CREATE MATERIALIZED
    VIEW … AS SELECT … FROM db.a JOIN db.b USING (k) KEYED BY
    (a_pk, b_pk)`` (the KEYED BY extension names the pair-identity
    keys the delta-rule maintenance needs), then base DML through the
    same facade (INSERT INTO … SELECT + DELETE FROM), ``REFRESH
    MATERIALIZED VIEW`` routing to the join maintainer via the marker
    sniff, and a plain SELECT over the view (it is just a Delta
    table). Final state asserted equal to the recompute; the oracle
    restates it."""
    from ent_fins_lakehouse_spark.sources.catalog import LakehouseSession
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    root = _scratch("sql_join_mv")
    a = DeltaLogTable(spark, root + "_a")
    a.write(orders.filter(F.col("o_orderkey") % 5 == 0).coalesce(2), mode="overwrite")
    a.set_property("delta.enableChangeDataFeed", "true")
    b = DeltaLogTable(spark, root + "_b")
    b.write(cust.coalesce(2), mode="overwrite")
    b.set_property("delta.enableChangeDataFeed", "true")

    lh = LakehouseSession(spark, _scratch("wh_sql_join_mv"))
    lh.sql("CREATE DATABASE jm")
    lh.sql(f"CREATE TABLE jm.facts USING DELTA LOCATION '{a.path}'")
    lh.sql(f"CREATE TABLE jm.dim USING DELTA LOCATION '{b.path}'")
    lh.sql(
        "CREATE MATERIALIZED VIEW jm.v AS "
        "SELECT o_orderkey, custkey, o_totalprice, c_mktsegment "
        "FROM jm.facts JOIN jm.dim USING (custkey) "
        "KEYED BY (o_orderkey, custkey)"
    )
    # fact-side DML through the SAME facade, then an incremental refresh
    orders.filter(F.col("o_orderkey") % 5 == 1).createOrReplaceTempView(
        "q381_new_facts"
    )
    lh.sql("INSERT INTO jm.facts SELECT * FROM q381_new_facts")
    lh.sql("DELETE FROM jm.facts WHERE o_orderkey % 40 = 1")
    lh.sql("REFRESH MATERIALIZED VIEW jm.v")

    got = lh.sql("SELECT o_orderkey, custkey, o_totalprice, c_mktsegment FROM jm.v")
    want = a.read().join(b.read(), on=["custkey"], how="inner").select(*got.columns)
    # multiset equality in one evaluation per side (r14, the same
    # rewrite as the first assert above — this second site was missed)
    diff = multiset_diff_count(got, want)
    assert diff == 0, f"SQL join view diverged from recompute ({diff} rows)"
    return (
        got.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_totalprice"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q382_recursive_cte_sql",
    oracle="""
    WITH RECURSIVE r (node, cur, depth) AS (
      SELECT c_custkey, c_custkey, 0 FROM customer
      UNION ALL
      SELECT node, cur // 10, depth + 1 FROM r WHERE cur >= 10
    )
    SELECT depth,
           COUNT(*) AS n_nodes,
           CAST(SUM(node) AS BIGINT) AS sum_keys,
           MIN(cur) AS min_root,
           MAX(cur) AS max_root
    FROM r WHERE cur < 10
    GROUP BY depth ORDER BY depth
    """,
    tags=("lakehouse", "sql", "recursive", "iterative"),
)
def q382_recursive_cte_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``WITH RECURSIVE`` through the SQL facade (VERDICT r11 item 6)
    — the one major SQL surface Spark lacks, lowered in catalog.py to
    the engine's iterative-dataflow fixpoint (the q248/q303 loop):
    base select seeds the frontier, the step select sees the CTE name
    bound to the CURRENT frontier (Postgres/DuckDB working-table
    semantics, UNION ALL bag / UNION set+semi-naive), each frontier is
    eagerly checkpointed so lineage stays O(1) per iteration, and a
    MAX_RECURSION cap fails a diverging recursion loudly. The oracle
    is DuckDB's NATIVE recursive CTE over the same hierarchy — a free
    exact cross-engine check of the whole lowering. Base table
    references resolve through the catalog (q248's synthetic forest:
    parent = key div 10, roots < 10), so depth tracks log10 of the
    key domain — the driver loop is recursion depth, never row
    count."""
    from ent_fins_lakehouse_spark.sources.catalog import LakehouseSession
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    t = DeltaLogTable(spark, _scratch("rcte") + "_t")
    t.write(cust.coalesce(2), mode="overwrite")
    lh = LakehouseSession(spark, _scratch("wh_rcte"))
    lh.sql("CREATE DATABASE rc")
    lh.sql(f"CREATE TABLE rc.customers USING DELTA LOCATION '{t.path}'")
    return lh.sql(
        """
        WITH RECURSIVE r (node, cur, depth) AS (
          SELECT c_custkey, c_custkey, 0 FROM rc.customers
          UNION ALL
          SELECT node, cur DIV 10, depth + 1 FROM r WHERE cur >= 10
        )
        SELECT depth,
               COUNT(*) AS n_nodes,
               CAST(SUM(node) AS BIGINT) AS sum_keys,
               MIN(cur) AS min_root,
               MAX(cur) AS max_root
        FROM r WHERE cur < 10
        GROUP BY depth ORDER BY depth
        """
    )


@query(
    "q384_near_dup_tvf_sql",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_sort(list_distinct(list_transform(
               range(0, greatest(len(w) - 3, 0) + 1),
               i -> array_to_string(w[i+1 : i+3], ' ')))) AS s
      FROM toks
    ),
    sz AS (SELECT doc_id, s, len(s) AS ln,
                  CAST(FLOOR(0.1 * len(s) + 1e-9) AS BIGINT) + 1 AS p
           FROM sh),
    pref AS (SELECT doc_id, ln, UNNEST(s[1 : p]) AS tok FROM sz),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM pref a JOIN pref b
        ON a.tok = b.tok AND a.doc_id < b.doc_id
       AND least(a.ln, b.ln) >= 0.9 * greatest(a.ln, b.ln) - 1e-9
    )
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
    FROM cand c JOIN sz a ON c.id_a = a.doc_id JOIN sz b ON c.id_b = b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(list_concat(a.s, b.s))) >= 0.9
    ORDER BY id_a, id_b
    """,
    tags=("lakehouse", "sql", "dedup", "tvf"),
)
def q384_near_dup_tvf_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The prefix-filter similarity join as a SQL TABLE FUNCTION —
    ``FROM near_dup_pairs('db.t', 'id', 'text', 0.9, 3)`` in the
    facade (the table_changes TVF precedent): one FROM clause gives
    any SQL user the EXACT sub-quadratic all-pairs Jaccard join
    (operators/dedup.py jaccard_pairs_prefix — df-ordered prefixes,
    recall 1.0 by construction; SCALING r12b), composable with joins
    and aggregates like any table. Read policies apply to the scanned
    base rows. The oracle is DuckDB's own prefix-filter twin — exact
    pair set AND exact jaccard values, cross-engine."""
    from ent_fins_lakehouse_spark.sources.catalog import LakehouseSession
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = DeltaLogTable(spark, _scratch("ndtvf") + "_t")
    t.write(docs.coalesce(2), mode="overwrite")
    lh = LakehouseSession(spark, _scratch("wh_ndtvf"))
    lh.sql("CREATE DATABASE dd")
    lh.sql(f"CREATE TABLE dd.docs USING DELTA LOCATION '{t.path}'")
    return lh.sql(
        "SELECT id_a, id_b, jaccard "
        "FROM near_dup_pairs('dd.docs', 'doc_id', 'text', 0.9, 3) "
        "ORDER BY id_a, id_b"
    )
