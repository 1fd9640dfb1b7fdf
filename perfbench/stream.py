"""``stream_ingest``: an open loop. A generator thread lands one JSON file
of loan rows every ``INTERVAL_S`` seconds, each stamped with the
time it was due. One client loops through a bronze tick (``AutoLoader``
+ ``DeltaStreamSink``, availableNow), a silver tick
(``read_delta_stream`` -> ``etl.silver_transform`` ->
``DeltaLogTable.write`` inside the benchmark's own ``foreachBatch``) and
``MaterializedAggView.refresh()`` on silver.

A file's freshness is the time from its due time until the view
refresh that covers it returns; the files a bronze tick committed are
read from the stream checkpoint's source log. When ``--seconds`` have
passed the generator stops, a backlog of ``CATCHUP_FILES`` lands at
once, and the client drains it together with the scheduled files still
pending (catch-up). The view's group sums must equal the sums over every
landed row."""

from __future__ import annotations

import json
import os
import threading
import time
from decimal import Decimal

from perfbench.gen import LOAN_COLUMNS, LoanGen, json_lines, silver_row
from perfbench.harness import Outcome
from perfbench.spans import tree_jobs
from perfbench.stats import median, tail

GROUP = "grade"
SUMS = ("loan_amnt", "total_pymnt")
INTERVAL_S = 0.25   # generator schedule: one file every INTERVAL_S
CATCHUP_FILES = 24  # backlog landed at once after the timed loop


class Lander:
    """Writes landing files atomically (hidden temp name, then rename)
    and remembers each file's rows, due time and landing time."""

    def __init__(self, landing: str, gen: LoanGen, rows_per_file: int):
        self.landing, self.gen, self.n = landing, gen, rows_per_file
        self.files: dict[str, dict] = {}
        self.late_ms: list[float] = []  # scheduled files only
        self.lock = threading.Lock()
        self.seq = 0

    def land(self, due: float) -> None:
        rows = self.gen.raws(self.n, final_only=False)
        name = f"loans-{self.seq:05d}.json"
        self.seq += 1
        tmp = os.path.join(self.landing, "." + name)
        with open(tmp, "wb") as fh:
            fh.write(json_lines(rows))
        os.rename(tmp, os.path.join(self.landing, name))
        with self.lock:
            self.files[name] = {"rows": rows, "due": due, "landed": time.perf_counter()}


def _schedule(lander: Lander, t0: float, interval: float, stop: threading.Event) -> None:
    k = 0
    while not stop.is_set():
        due = t0 + k * interval
        wait = due - time.perf_counter()
        if wait > 0 and stop.wait(wait):
            return
        lander.land(due)
        lander.late_ms.append((time.perf_counter() - due) * 1e3)
        k += 1


def committed_files(ckpt: str) -> set[str]:
    """File names the file-stream source has committed (its source log)."""
    d = os.path.join(ckpt, "sources", "0")
    out: set[str] = set()
    if not os.path.isdir(d):
        return out
    for f in os.listdir(d):
        if f.startswith("."):
            continue
        with open(os.path.join(d, f)) as fh:
            for line in fh:
                if line.startswith("{"):
                    out.add(os.path.basename(json.loads(line)["path"]))
    return out


class Pipeline:
    """Landing dir -> bronze -> silver -> view, one tick at a time."""

    def __init__(self, spark, tracer, root: str):
        from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

        self.spark, self.tracer, self.root = spark, tracer, root
        self.landing = os.path.join(root, "landing")
        os.makedirs(self.landing, exist_ok=True)
        self.bronze = DeltaLogTable(spark, os.path.join(root, "bronze"))
        self.silver = DeltaLogTable(spark, os.path.join(root, "silver"))
        self.ck_bronze = os.path.join(root, "_ck", "bronze")
        self.ck_silver = os.path.join(root, "_ck", "silver")
        self.mv = None
        self.tick_jobs: list[int] = []
        self.silver_batch_ms: list[float] = []

    def bronze_tick(self) -> float:
        from ent_fins_lakehouse_spark.streaming.autoloader import AutoLoader, DeltaStreamSink

        with self.tracer.span("streaming.bronze_tick", "streaming") as sp:
            loader = AutoLoader(self.spark, self.landing, os.path.join(self.root, "_schema"))
            q = DeltaStreamSink(self.bronze, "bronze").start(loader.stream(), self.ck_bronze)
            sp.extra_groups.append(str(q.runId))
        self._count_jobs(sp.sp)
        return sp.ms

    def silver_tick(self) -> float:
        from ent_fins_lakehouse_spark.etl import silver_transform
        from ent_fins_lakehouse_spark.streaming.delta_source import read_delta_stream

        tracer, silver = self.tracer, self.silver

        with tracer.span("streaming.silver_tick", "streaming") as sp:
            def batch(df, batch_id):
                with tracer.span("etl.silver_batch", "etl", parent=sp.sp) as b:
                    if not (silver.exists() and silver.txn_version("silver") >= batch_id):
                        rows = silver_transform(df)
                        with tracer.span("delta.append", "sources.lakehouse", verb="append"):
                            silver.write(rows, mode="append", txn=("silver", batch_id))
                self.silver_batch_ms.append(b.ms)

            q = (
                read_delta_stream(self.spark, self.bronze.path)
                .writeStream.foreachBatch(batch)
                .option("checkpointLocation", self.ck_silver)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            sp.extra_groups.append(str(q.runId))
        self._count_jobs(sp.sp)
        return sp.ms

    def _count_jobs(self, tick) -> None:
        if self.tracer.enabled:
            self.tick_jobs.append(tree_jobs(self.tracer.spans, tick))

    def create_view(self) -> None:
        from ent_fins_lakehouse_spark.sources.matview import MaterializedAggView

        self.mv = MaterializedAggView(self.spark, self.silver, os.path.join(self.root, "mv"))
        with self.tracer.span("matview.create", "sources.matview"):
            self.mv.create(group_cols=[GROUP], sum_cols=list(SUMS))

    def refresh(self):
        with self.tracer.span("matview.refresh", "sources.matview") as sp:
            self.mv.refresh()
        return sp


def expected_sums(files: dict) -> dict:
    """Per grade: (rows, sum loan_amnt, sum total_pymnt) over every
    landed row that silver keeps."""
    g, a, b = (LOAN_COLUMNS.index(c) for c in (GROUP, *SUMS))
    want: dict[str, list] = {}
    for f in files.values():
        for raw in f["rows"]:
            if silver_row(raw) is not None:
                acc = want.setdefault(raw[g], [0, Decimal(0), Decimal(0)])
                acc[0] += 1
                acc[1] += Decimal(raw[a])
                acc[2] += Decimal(raw[b])
    return {k: tuple(v) for k, v in want.items()}


def run(spark, tracer, seed: int, seconds: float, knobs, work: str) -> Outcome:
    out = Outcome()
    gen = LoanGen(seed)
    root = os.path.join(work, "stream")
    p = Pipeline(spark, tracer, root)
    lander = Lander(p.landing, gen, knobs.stream_rows_per_file)

    t0 = time.perf_counter()
    with tracer.span("stream.setup", "bench.setup"):
        lander.land(time.perf_counter())
        p.bronze_tick()
        p.silver_tick()
        p.create_view()
    setup_s = time.perf_counter() - t0

    covered: set[str] = set(lander.files)
    fresh_ms: list[float] = []
    bronze_ms: list[float] = []
    silver_ms: list[float] = []
    refresh_ms: list[float] = []
    backlog: list[int] = []
    rows_tick: list[int] = []

    def loop_once() -> tuple[float, dict]:
        with lander.lock:
            backlog.append(len(set(lander.files) - covered))
        bronze_ms.append(p.bronze_tick())
        newly = committed_files(p.ck_bronze) - covered
        silver_ms.append(p.silver_tick())
        sp = p.refresh()
        done = sp.sp.end
        refresh_ms.append(sp.ms)
        with lander.lock:
            meta = {f: lander.files[f] for f in newly}
        covered.update(newly)
        rows_tick.append(sum(len(m["rows"]) for m in meta.values()))
        out.attempted += 3
        return done, meta

    stop = threading.Event()
    t_start = time.perf_counter()
    th = threading.Thread(
        target=_schedule, args=(lander, t_start, INTERVAL_S, stop), daemon=True
    )
    th.start()
    try:
        while time.perf_counter() - t_start < seconds:
            done, meta = loop_once()
            fresh_ms += [(done - m["due"]) * 1e3 for m in meta.values()]
    finally:
        stop.set()
        th.join(timeout=30)
    out.check("generator_stopped", not th.is_alive())

    # catch-up: a fixed backlog lands at once beside the scheduled files
    # not yet covered; the drain covers both
    with lander.lock:
        scheduled = set(lander.files)
    t_land = time.perf_counter()
    for _ in range(CATCHUP_FILES):
        lander.land(t_land)
    pending = set(lander.files) - covered
    n_rows = sum(len(lander.files[f]["rows"]) for f in pending)
    done, drains = t_land, 0
    while pending - covered and drains < 5:
        done, meta = loop_once()
        fresh_ms += [(done - m["due"]) * 1e3 for f, m in meta.items() if f in scheduled]
        drains += 1
    out.check("all_files_covered", not pending - covered)
    catchup = n_rows / (done - t_land)

    got = {
        r[GROUP]: (r["n_rows"], r["sum_loan_amnt"], r["sum_total_pymnt"])
        for r in p.mv.read().collect()
    }
    out.check("mv_sums", got == expected_sums(lander.files))
    out.check("freshness_samples", len(fresh_ms) > 0)

    ft, fp = tail(fresh_ms)
    out.op_ms = bronze_ms + silver_ms + refresh_ms
    out.e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (median(fresh_ms), "ms"),
        "ops_per_s": (catchup, "1/s"),
    }
    out.extra = {
        "freshness_p50_ms": (median(fresh_ms), "ms"),
        "freshness_tail_ms": (ft, f"ms@p{fp:.0f}"),
        "catchup_rows_per_s": (catchup, "rows/s"),
        "matview_refresh_p50_ms": (median(refresh_ms), "ms"),
        "freshness_samples": (len(fresh_ms), "count"),
        "loops": (len(refresh_ms), "count"),
    }
    if tracer.enabled:
        out.layer.update({
            "streaming.bronze_tick_ms": (median(bronze_ms), "ms"),
            "streaming.silver_tick_ms": (median(silver_ms), "ms"),
            "streaming.jobs_per_tick": (sum(p.tick_jobs) / len(p.tick_jobs), "count"),
            "streaming.rows_per_tick": (sum(rows_tick) / len(rows_tick), "count"),
            "streaming.backlog_files": (sum(backlog) / len(backlog), "count"),
            "streaming.generator_late_ms": (median(lander.late_ms), "ms"),
            "etl.silver_batch_ms": (median(p.silver_batch_ms), "ms"),
        })
    return out
