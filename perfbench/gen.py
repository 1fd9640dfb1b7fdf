"""Seeded Lending-Club-shaped inputs for the benchmark.

Every row is produced from ``random.Random(seed)`` alone, so one seed
gives byte-identical rows on every call and every host. Raw rows use
the reference's string formats (``"13.56%"``, ``"Dec-2015"``,
``"10+ years"``, ``"Source Verified"``) and the engine's 20-column
``LOAN_COLUMNS`` order; the engine receives nothing but these rows.

:func:`silver_row` and :func:`gold_row` are the plain-Python mirror of
``etl.silver_transform`` / ``etl.gold_transform`` that the correctness
checks compare the engine's tables against.
"""

from __future__ import annotations

import json
import random
import struct
from dataclasses import dataclass

LOAN_COLUMNS = [
    "id", "loan_status", "int_rate", "revol_util", "issue_d", "earliest_cr_line",
    "emp_length", "verification_status", "total_pymnt", "loan_amnt", "grade",
    "annual_inc", "dti", "addr_state", "term", "home_ownership", "purpose",
    "application_type", "delinq_2yrs", "total_acc",
]

#: silver column order and types, as ``etl.silver_transform`` emits them
SILVER_FIELDS = (
    [(c, "string") for c in LOAN_COLUMNS[:2]]
    + [("int_rate", "float"), ("revol_util", "float")]
    + [(c, "string") for c in LOAN_COLUMNS[4:6]]
    + [("emp_length", "float")]
    + [(c, "string") for c in LOAN_COLUMNS[7:]]
    + [("bad_loan", "string"), ("issue_year", "double"),
       ("earliest_year", "double"), ("credit_length_in_years", "double")]
)
SILVER_COLUMNS = [c for c, _ in SILVER_FIELDS]
GOLD_COLUMNS = SILVER_COLUMNS + ["net"]

FINAL_STATUSES = ("Fully Paid", "Charged Off", "Default")
MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
EMP = ("< 1 year", "1 year", "2 years", "3 years", "4 years", "5 years", "6 years",
       "7 years", "8 years", "9 years", "10+ years", "n/a")
VERIFICATION = ("Verified", "Source Verified", "Not Verified")
GRADES = ("A", "B", "C", "D", "E", "F", "G")
STATES = ("CA", "NY", "TX", "FL", "IL", "NJ", "PA", "OH", "GA", "VA", "NC", "MI",
          "WA", "AZ", "MA", "CO")
PURPOSES = ("debt_consolidation", "credit_card", "home_improvement", "other",
            "major_purchase", "small_business", "car", "medical")
HOMES = ("RENT", "MORTGAGE", "OWN")


@dataclass(frozen=True)
class Knobs:
    """Input-shape knobs of one workload (recorded in BENCHMARK.json).

    The defaults are the values the workloads run with; ``bi_scan``
    builds its gold table from ``base_rows=4000``."""

    base_rows: int = 2000           # raw rows in the table(s) set-up builds
    merge_rows: int = 100           # MERGE batch size per DML cycle
    hot_keys: int = 32              # size of the hot id set updates skew toward
    hot_share: float = 0.7          # share of MERGE updates that hit the hot set
    stream_rows_per_file: int = 20  # rows in each landed JSON file


#: DML script shape: share of each MERGE that is new ids, ids removed
#: per GDPR delete, rows per small append, cycles in the script
NEW_SHARE = 0.2
DELETE_ROWS = 5
APPEND_ROWS = 20
SCRIPT_CYCLES = 8


def _f32(x: float) -> float:
    return struct.unpack("f", struct.pack("f", x))[0]


class LoanGen:
    """Deterministic raw-row source: ids count up from ``first_id``."""

    def __init__(self, seed: int, first_id: int = 100000):
        self.rng = random.Random(seed)
        self.next_id = first_id

    def new_id(self) -> str:
        i = self.next_id
        self.next_id += 1
        return str(i)

    def raw(self, loan_id: str | None = None, final_only: bool = True) -> tuple:
        r = self.rng
        if final_only or r.random() < 0.9:
            status = r.choice(FINAL_STATUSES)
        else:
            status = "Current"
        issue_y = r.randint(2010, 2018)
        loan = r.randint(10, 350) * 100
        paid = round(loan * r.uniform(0.2, 1.4), 2)
        return (
            loan_id or self.new_id(),
            status,
            f"{r.randint(500, 2800) / 100:.2f}%",
            "" if r.random() < 0.05 else f"{r.randint(0, 1000) / 10:.1f}%",
            f"{r.choice(MONTHS)}-{issue_y}",
            f"{r.choice(MONTHS)}-{issue_y - r.randint(2, 30)}",
            r.choice(EMP),
            r.choice(VERIFICATION),
            f"{paid:.2f}",
            str(loan),
            r.choice(GRADES),
            str(r.randint(15, 300) * 1000),
            f"{r.randint(0, 400) / 10:.1f}",
            r.choice(STATES),
            r.choice(("36 months", "60 months")),
            r.choice(HOMES),
            r.choice(PURPOSES),
            "Individual" if r.random() < 0.95 else "Joint App",
            str(r.choice((0, 0, 0, 1, 2))),
            str(r.randint(3, 60)),
        )

    def raws(self, n: int, final_only: bool = True) -> list[tuple]:
        return [self.raw(final_only=final_only) for _ in range(n)]


def _emp_years(s: str) -> float | None:
    if s == "n/a":
        return None
    head = s.split(" year")[0]
    return {"< 1": 0.0, "10+": 10.0}.get(head, None if not head.isdigit() else float(head))


def _pct(s: str) -> float | None:
    return _f32(float(s.rstrip("%"))) if s else None


def silver_row(raw: tuple) -> tuple | None:
    """``etl.silver_transform`` of one raw row, or None if filtered."""
    d = dict(zip(LOAN_COLUMNS, raw))
    if d["loan_status"] not in FINAL_STATUSES:
        return None
    emp = _emp_years(d["emp_length"])
    iy, ey = float(d["issue_d"][4:8]), float(d["earliest_cr_line"][4:8])
    return (
        d["id"], d["loan_status"], _pct(d["int_rate"]), _pct(d["revol_util"]),
        d["issue_d"], d["earliest_cr_line"], None if emp is None else _f32(emp),
        *raw[7:],
        str(d["loan_status"] != "Fully Paid").lower(), iy, ey, iy - ey,
    )


def gold_row(silver: tuple) -> tuple:
    """``etl.gold_transform`` of one silver row."""
    d = dict(zip(SILVER_COLUMNS, silver))
    ver = d["verification_status"].replace("Source Verified", "Verified").strip()
    out = list(silver)
    out[SILVER_COLUMNS.index("verification_status")] = ver
    net = round(float(d["total_pymnt"]) - float(d["loan_amnt"]), 2)
    return tuple(out) + (net,)


def json_lines(raws: list[tuple]) -> bytes:
    """Landing-file body: one all-string JSON object per line."""
    return b"".join(
        json.dumps(dict(zip(LOAN_COLUMNS, r)), separators=(",", ":")).encode() + b"\n"
        for r in raws
    )


@dataclass
class Cycle:
    merge: list[tuple]   # raw rows: updates of live ids, then new ids
    delete: list[str]    # ids
    append: list[tuple]  # raw rows with new ids


def dml_script(seed: int, knobs: Knobs) -> tuple[list[tuple], list[str], list[Cycle]]:
    """The base rows, the ids set-up deletes, and the fixed cycle script
    of ``dml_upkeep``.

    Updates draw ``hot_share`` of their ids from the first ``hot_keys``
    base ids; deletes draw only from cold live ids, so the hot set is
    updated every cycle and never removed."""
    g = LoanGen(seed)
    base = g.raws(knobs.base_rows)
    hot = [r[0] for r in base[: knobs.hot_keys]]
    cold = [r[0] for r in base[knobs.hot_keys:]]
    r = g.rng
    setup_dels = r.sample(cold, DELETE_ROWS)
    gone = set(setup_dels)
    cold = [c for c in cold if c not in gone]
    script = []
    for _ in range(SCRIPT_CYCLES):
        n_new = int(round(knobs.merge_rows * NEW_SHARE))
        n_upd = knobs.merge_rows - n_new
        ids: list[str] = []
        seen: set[str] = set()
        while len(ids) < n_upd:
            pool = hot if r.random() < knobs.hot_share else cold
            i = r.choice(pool)
            if i not in seen:  # MERGE needs unique source keys
                seen.add(i)
                ids.append(i)
        merge = [g.raw(i) for i in ids]
        new = g.raws(n_new)
        cold.extend(x[0] for x in new)
        dels = r.sample([c for c in cold if c not in seen], DELETE_ROWS)
        gone = set(dels)
        cold = [c for c in cold if c not in gone]
        app = g.raws(APPEND_ROWS)
        cold.extend(x[0] for x in app)
        script.append(Cycle(merge + new, dels, app))
    return base, setup_dels, script
