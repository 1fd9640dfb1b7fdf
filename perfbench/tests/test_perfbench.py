"""Tests of the benchmark's own parts; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import bi, stream  # noqa: E402
from perfbench.checks import TableModel, digest, same_answer  # noqa: E402
from perfbench.gen import (  # noqa: E402
    DELETE_ROWS, GOLD_COLUMNS, NEW_SHARE, SCRIPT_CYCLES, Knobs, LoanGen, dml_script, gold_row,
    json_lines, silver_row,
)
from perfbench.spans import Span, layer_table, self_times, tree_jobs  # noqa: E402
from perfbench.stats import tail  # noqa: E402

KNOBS = Knobs(base_rows=300, merge_rows=40, hot_keys=8)


# ------------------------------------------------------------- generator

def test_same_seed_gives_byte_identical_rows():
    a, b = LoanGen(7), LoanGen(7)
    assert json_lines(a.raws(200, final_only=False)) == json_lines(b.raws(200, final_only=False))
    assert dml_script(7, KNOBS) == dml_script(7, KNOBS)


def test_other_seed_gives_other_rows():
    assert LoanGen(7).raws(50) != LoanGen(8).raws(50)


def test_rows_use_reference_string_formats():
    rows = LoanGen(3).raws(500, final_only=False)
    assert all(r[2].endswith("%") for r in rows)
    assert all(r[4][3] == "-" and r[4][4:].isdigit() for r in rows)
    assert {"10+ years", "< 1 year", "n/a"} <= {r[6] for r in rows}
    assert "Source Verified" in {r[7] for r in rows}
    assert "Current" in {r[1] for r in rows}  # some rows silver filters out


def test_dml_script_keeps_knob_shape():
    base, setup_dels, cycles = dml_script(5, KNOBS)
    live = {r[0] for r in base} - set(setup_dels)
    hot = {r[0] for r in base[: KNOBS.hot_keys]}
    assert len(setup_dels) == DELETE_ROWS and not hot & set(setup_dels)
    assert len(cycles) == SCRIPT_CYCLES
    for c in cycles:
        ids = [r[0] for r in c.merge]
        assert len(ids) == len(set(ids)) == KNOBS.merge_rows
        new = [i for i in ids if i not in live]
        assert len(new) == round(KNOBS.merge_rows * NEW_SHARE)
        assert set(c.delete) <= live | set(new) and not hot & set(c.delete)
        live |= set(new)
        live -= set(c.delete)
        live |= {r[0] for r in c.append}


# ---------------------------------------------------------------- checks

def _silver(n: int, seed: int = 1) -> list[tuple]:
    return [silver_row(r) for r in LoanGen(seed).raws(n)]


def test_model_digest_flags_corrupted_table():
    rows = _silver(100)
    model = TableModel(rows)
    model.upsert(_silver(10, seed=2))
    model.delete([rows[0][0]])
    table = list(model.rows.values())
    assert digest(reversed(table)) == model.digest()  # order-insensitive
    changed = list(table)
    changed[5] = changed[5][:2] + (changed[5][2] + 0.01,) + changed[5][3:]
    assert digest(changed) != model.digest()
    assert digest(table[1:]) != model.digest()
    assert digest(table + table[:1]) != model.digest()


def test_duckdb_oracle_flags_corrupted_answer():
    gold = [gold_row(s) for s in _silver(300)]
    now = gold[:250]
    ids = sorted(r[0] for r in now)
    qs = bi.queries(ids[10], ids[40])
    oracle = bi.Oracle(gold, now)
    want = oracle.answers(qs)
    oracle.close()
    total = dict(qs)["total"]
    n = next(i for i, c in enumerate(GOLD_COLUMNS) if c == "loan_amnt")
    exact = sum(Decimal(r[n]) for r in now)
    assert want["total"] == [(float(exact), len(now))]
    assert want["version_as_of"][0][0] == len(gold)
    assert "lending_club" not in bi.duck_sql(total)
    for name, rows in want.items():
        assert same_answer(rows, list(reversed(rows)))
        bad = [tuple(v + 1 if isinstance(v, (int, float)) else v for v in r) for r in rows]
        assert not same_answer(bad, rows), name
        assert not same_answer(rows[1:], rows)


def test_view_sums_check_flags_missing_and_changed_rows():
    g = LoanGen(4)
    files = {f"f{i}": {"rows": g.raws(30, final_only=False)} for i in range(3)}
    want = stream.expected_sums(files)
    kept = [r for f in files.values() for r in f["rows"] if silver_row(r) is not None]
    assert sum(n for n, _, _ in want.values()) == len(kept)
    rows = files["f1"]["rows"]
    k = next(i for i, r in enumerate(rows) if silver_row(r) is not None)
    files["f1"]["rows"] = rows[:k] + rows[k + 1:]
    assert stream.expected_sums(files) != want
    files["f1"]["rows"] = rows[:k] + [rows[k][:9] + ("1",) + rows[k][10:]] + rows[k + 1:]
    assert stream.expected_sums(files) != want
    files["f1"]["rows"] = rows
    assert stream.expected_sums(files) == want


# ----------------------------------------------------------------- spans

def _sp(i, start, end, parent=None, layer="x", jobs=0, unattributed=0):
    return Span(i, f"s{i}", layer, float(start), float(end), parent, jobs=jobs,
                unattributed_jobs=unattributed)


def test_self_time_subtracts_nested_children():
    spans = [
        _sp(1, 0, 10, layer="a"),
        _sp(2, 1, 4, parent=1, layer="b"),
        _sp(3, 2, 3, parent=2, layer="c"),
        _sp(4, 5, 9, parent=1, layer="b"),
    ]
    st = self_times(spans)
    assert st == {1: 3000.0, 2: 2000.0, 3: 1000.0, 4: 4000.0}
    table = layer_table(spans)
    assert table["b"]["self_ms"] == 6000.0 and table["b"]["calls"] == 2
    assert sum(r["self_ms"] for r in table.values()) == 10000.0  # covers the root once


def test_self_time_clips_overlapping_and_overhanging_children():
    # a callback-thread child can overlap a sibling or outlive its parent
    spans = [_sp(1, 0, 10), _sp(2, 2, 6, parent=1), _sp(3, 5, 12, parent=1)]
    assert self_times(spans)[1] == 2000.0


def test_tree_jobs_counts_every_descendant_once():
    # a silver tick: the tick's own and stream groups (1 job), a
    # foreachBatch span (2 jobs) and the write nested in it (5 jobs);
    # the tick saw 3 ungrouped jobs finish, 2 of them inside the write
    spans = [
        _sp(2, 1, 4, parent=1, layer="etl", jobs=2),
        _sp(3, 2, 3, parent=2, layer="sources.lakehouse", jobs=5, unattributed=2),
        _sp(4, 5, 6, parent=9, jobs=7),  # another tick's span
    ]
    tick = _sp(1, 0, 10, layer="streaming", jobs=1, unattributed=3)
    spans.append(tick)
    assert tree_jobs(spans, tick) == 1 + 2 + 5 + 3
    assert tree_jobs(spans, spans[1]) == 5 + 2
    assert tree_jobs([tick], tick) == 1 + 3


# ------------------------------------------------------------ contract

def test_benchmark_json_names_match_what_runs_report():
    import json

    from perfbench.report import LAYER_METRICS
    from perfbench.run import WORKLOADS

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_METRICS
    assert {m["name"] for m in spec["end_to_end"]} == {"setup_s", "op_p50_ms", "ops_per_s"}


# ----------------------------------------------------------------- stats

def test_tail_is_highest_percentile_with_ten_beyond():
    xs = list(range(1, 101))
    value, p = tail(xs)
    assert p == 90 and value == 90 and sum(x > value for x in xs) >= 10
    assert tail(list(range(12)))[1] == 50.0  # too few samples: the median


# ----------------------------------------------------------------- procs

def test_supervise_ends_orphaned_descendants(tmp_path):
    import subprocess
    import time

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    pidfile, work = tmp_path / "grandchild.pid", tmp_path / "runs" / "run-1"
    work.mkdir(parents=True)
    # the child starts a grandchild in a session of its own, then exits with 3
    child = tmp_path / "child.py"
    child.write_text(
        "import subprocess, sys\n"
        "p = subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)'],\n"
        "                     start_new_session=True)\n"
        f"open({str(pidfile)!r}, 'w').write(str(p.pid))\n"
        "sys.exit(3)\n")
    driver = ("import sys; from perfbench import procs; procs.GRACE_S = 0.2; "
              f"sys.exit(procs.supervise({str(child)!r}, [], {str(work)!r}))")
    t0 = time.monotonic()
    rc = subprocess.run([sys.executable, "-c", driver], cwd=root, timeout=30).returncode
    assert rc == 3 and time.monotonic() - t0 < 20
    assert not os.path.exists(f"/proc/{pidfile.read_text()}")
    assert not work.exists() and not work.parent.exists()
