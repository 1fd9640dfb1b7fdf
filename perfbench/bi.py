"""``bi_scan``: a read-only closed loop with one client over the gold
table, set up the way ``examples/lending_demo.py`` does it.

Set-up: the medallion pipeline on generated raw rows, gold exported as
a public Delta table with one GDPR delete (so version 0 differs from
the latest), the table registered through ``LakehouseSession``, and one
logistic-regression model trained. The loop runs the
``02- Databricks_SQL_Scripts.sql`` aggregate shapes plus net-by-grade,
one selective predicate query, one ``VERSION AS OF`` read and one
``ml.pipeline.score`` batch. Every SQL answer is compared with DuckDB
run over the same gold rows computed in plain Python."""

from __future__ import annotations

import itertools
import os
import time

import duckdb

from perfbench.checks import same_answer
from perfbench.gen import GOLD_COLUMNS, LOAN_COLUMNS, LoanGen, gold_row, silver_row
from perfbench.harness import Outcome
from perfbench.stats import median, tail

DEC = "CAST(SUM(CAST({} AS DECIMAL(18,2))) AS DOUBLE)"
DELETE = "addr_state = 'TX' AND grade IN ('F', 'G')"


def queries(lo: str, hi: str) -> list[tuple[str, str]]:
    """``(name, SQL)`` over ``lending_club.gold``; DuckDB runs the same
    text with the table names rewritten."""
    return [
        ("total", f"SELECT {DEC.format('loan_amnt')} AS total, COUNT(*) AS n "
                  "FROM lending_club.gold"),
        ("by_purpose", f"SELECT purpose, {DEC.format('loan_amnt')} AS total "
                       "FROM lending_club.gold GROUP BY purpose"),
        ("by_state_verification",
         "SELECT addr_state, verification_status, COUNT(*) AS n "
         "FROM lending_club.gold GROUP BY addr_state, verification_status"),
        ("net_by_grade", f"SELECT grade, {DEC.format('net')} AS net, COUNT(*) AS n "
                         "FROM lending_club.gold GROUP BY grade"),
        ("selective", f"SELECT COUNT(*) AS n, {DEC.format('net')} AS net "
                      f"FROM lending_club.gold WHERE id BETWEEN '{lo}' AND '{hi}'"),
        ("version_as_of", f"SELECT COUNT(*) AS n, {DEC.format('loan_amnt')} AS total "
                          "FROM lending_club.gold VERSION AS OF 0"),
    ]


def duck_sql(sql: str) -> str:
    return sql.replace("lending_club.gold VERSION AS OF 0", "gold_v0").replace(
        "lending_club.gold", "gold")


class Oracle:
    """DuckDB over the plain-Python gold rows: ``gold`` is the latest
    version, ``gold_v0`` the version before the GDPR delete."""

    def __init__(self, gold_v0: list[tuple], gold_now: list[tuple]):
        import pandas as pd

        self.con = duckdb.connect()
        for name, rows in (("gold_v0", gold_v0), ("gold", gold_now)):
            self.con.register(f"{name}_df", pd.DataFrame(rows, columns=GOLD_COLUMNS))
            self.con.execute(f"CREATE TABLE {name} AS SELECT * FROM {name}_df")

    def answers(self, qs) -> dict[str, list[tuple]]:
        return {n: self.con.execute(duck_sql(q)).fetchall() for n, q in qs}

    def close(self) -> None:
        self.con.close()


def _setup(spark, tracer, raws, root: str):
    from pyspark.sql import functions as F

    from ent_fins_lakehouse_spark.etl import Medallion
    from ent_fins_lakehouse_spark.ml.pipeline import train_lr
    from ent_fins_lakehouse_spark.sources.catalog import LakehouseSession
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    raw_df = spark.createDataFrame(raws, ", ".join(f"{c} string" for c in LOAN_COLUMNS))
    med = Medallion(spark, os.path.join(root, "lake"))
    with tracer.span("etl.medallion", "etl"):
        med.run_lending_pipeline(raw_df)
    export = os.path.join(root, "gold_delta")
    dl = DeltaLogTable(spark, export)
    with tracer.span("delta.write", "sources.lakehouse", verb="append"):
        dl.write(med.read("gold"), mode="append")
    with tracer.span("delta.delete", "sources.lakehouse", verb="delete"):
        dl.delete(DELETE)
    lh = LakehouseSession(spark, os.path.join(root, "warehouse"))
    with tracer.span("catalog.register", "sources.catalog"):
        lh.sql("CREATE DATABASE IF NOT EXISTS lending_club")
        lh.sql(f"CREATE TABLE lending_club.gold USING DELTA LOCATION '{export}'")
    ds = (
        dl.read()
        .withColumn("label", (F.col("bad_loan") == "true").cast("double"))
        .withColumn("int_rate", F.col("int_rate").cast("double"))
    )
    with tracer.span("ml.train", "ml"):
        model = train_lr(ds, cat_cols=["grade", "purpose"], num_cols=["int_rate", "emp_length"])
    return lh, ds, model


def run(spark, tracer, seed: int, seconds: float, knobs, work: str) -> Outcome:
    from ent_fins_lakehouse_spark.ml.pipeline import score

    out = Outcome()
    g = LoanGen(seed)
    raws = g.raws(knobs.base_rows, final_only=False)
    gold_v0 = [gold_row(s) for s in map(silver_row, raws) if s is not None]
    st, gr = GOLD_COLUMNS.index("addr_state"), GOLD_COLUMNS.index("grade")
    gold_now = [r for r in gold_v0 if not (r[st] == "TX" and r[gr] in ("F", "G"))]  # what DELETE removes
    ids = sorted(r[0] for r in gold_now)
    span = max(1, len(ids) // 50)  # the selective query reads ~2% of ids
    windows = [(ids[i], ids[i + span - 1]) for i in range(0, len(ids) - span, span)]
    batch = max(1, len(ids) // 8)
    ml_windows = [(ids[i], ids[min(i + batch, len(ids)) - 1]) for i in range(0, len(ids), batch)]

    query_ms: list[float] = []
    score_ms: list[float] = []
    oracle = Oracle(gold_v0, gold_now)
    op_ids = itertools.count(1)
    t0 = time.perf_counter()
    with tracer.span("bi.setup", "bench.setup"):
        lh, ds, model = _setup(spark, tracer, raws, os.path.join(work, "bi"))
    setup_s = time.perf_counter() - t0

    def loop_once(loop: int) -> tuple[list[float], float]:
        lo, hi = windows[loop % len(windows)]
        qs = queries(lo, hi)
        expected = oracle.answers(qs)
        q_ms = []
        for name, sql in qs:
            tracer.op(next(op_ids))
            with tracer.span(f"sql.{name}", "sources.catalog", verb="sql_plan") as plan:
                df = lh.sql(sql)
            with tracer.span(f"sql.{name}.collect", "spark", verb="action") as act:
                got = df.collect()
            q_ms.append(plan.ms + act.ms)
            out.check(f"{name}.{loop}", same_answer(got, expected[name]))
        lo, hi = ml_windows[loop % len(ml_windows)]
        tracer.op(next(op_ids))
        with tracer.span("ml.score", "ml") as sc:
            rows = score(model, ds.where(f"id BETWEEN '{lo}' AND '{hi}'"), id_cols=["id"]).collect()
        want = sum(1 for i in ids if lo <= i <= hi)
        out.check(f"score.{loop}", len(rows) == want and all(
            0.0 <= r["p1"] <= 1.0 and abs(r["p0"] + r["p1"] - 1.0) < 1e-9 for r in rows))
        out.attempted += len(q_ms) + 1
        return q_ms, sc.ms

    # one untimed, untraced loop first: the first SQL plans and scans of
    # a fresh JVM are slower, and how many loops fit in --seconds would
    # otherwise decide how much of that warm-up the median sees
    traced, tracer.enabled = tracer.enabled, False
    loop_once(0)
    tracer.enabled = traced
    measured, loop = 0.0, 1
    while measured < seconds:
        q_ms, s_ms = loop_once(loop)
        query_ms += q_ms
        score_ms.append(s_ms)
        measured += (sum(q_ms) + s_ms) / 1e3
        loop += 1
    n_q = len(query_ms)
    oracle.close()
    out.op_ms = query_ms + score_ms
    qt, qp = tail(query_ms)
    st, sp = tail(score_ms)
    out.e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (median(query_ms), "ms"),
        "ops_per_s": (n_q / measured, "1/s"),
    }
    out.extra = {
        "bi_query_p50_ms": (median(query_ms), "ms"),
        "bi_query_tail_ms": (qt, f"ms@p{qp:.0f}"),
        "bi_queries_per_s": (n_q / measured, "1/s"),
        "ml_score_p50_ms": (median(score_ms), "ms"),
        "ml_score_tail_ms": (st, f"ms@p{sp:.0f}"),
        "loops": (loop - 1, "count"),
    }
    return out
