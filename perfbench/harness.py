"""Process set-up shared by the workloads: paths, Spark session, results.

The benchmark lives in its own directory beside the engine package.
:func:`prepare_env` puts the repository root on ``sys.path`` and on the
``PYTHONPATH`` the Spark JVM hands to its Python workers, so engine
code that ships Python UDFs imports on the workers whatever directory
the benchmark was started from. All temporary files go under one work
directory inside the checkout.
"""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)


def prepare_env(work: str) -> None:
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)
    paths = [REPO_ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def cpus() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def start_session(work: str):
    """Spark through the engine's own ``get_session`` on ``local[nproc]``; returns
    ``(spark, seconds)``."""
    from ent_fins_lakehouse_spark.session import get_session

    tmp = os.path.join(work, "tmp")
    t0 = time.perf_counter()
    spark = get_session(
        app_name="perfbench",
        cpus=cpus(),
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Dderby.system.home={tmp}",
        },
    )
    spark.range(1).count()  # the first job has run: set-up timings exclude start-up
    return spark, time.perf_counter() - t0


@dataclass
class Outcome:
    """What one workload run hands back to ``run.py``."""

    attempted: int = 0
    failed: int = 0
    checks: dict = field(default_factory=dict)   # check name -> passed
    e2e: dict = field(default_factory=dict)      # metric -> (value, unit)
    extra: dict = field(default_factory=dict)    # printed, not in the JSON line
    layer: dict = field(default_factory=dict)    # per-layer metric -> (value, unit)
    op_ms: list = field(default_factory=list)    # every timed operation, for trace overhead

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        self.checks[name] = bool(ok)
        if not ok:
            self.failed += 1
