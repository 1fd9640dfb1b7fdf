"""Correctness checks: the plain-Python DML model, order-insensitive row
digests, and answer comparison against DuckDB or computed sums."""

from __future__ import annotations

import hashlib
import math


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return v if v is None or isinstance(v, str) else str(v)


def digest(rows) -> tuple[int, str]:
    """``(row count, order-insensitive hash)``: per-row sha1s summed mod 2^128."""
    acc, n = 0, 0
    for r in rows:
        h = hashlib.sha1(repr(tuple(_norm(v) for v in r)).encode()).digest()
        acc = (acc + int.from_bytes(h[:16], "big")) % (1 << 128)
        n += 1
    return n, f"{acc:032x}"


class TableModel:
    """A dict keyed by id applying the same upserts, deletes and appends
    the benchmark sends to each table."""

    def __init__(self, rows):
        self.rows = {r[0]: tuple(r) for r in rows}

    def upsert(self, rows) -> None:
        for r in rows:
            self.rows[r[0]] = tuple(r)

    def delete(self, ids) -> None:
        for i in ids:
            self.rows.pop(i, None)

    append = upsert

    def digest(self) -> tuple[int, str]:
        return digest(self.rows.values())


def _round_row(r, places: int = 6):
    return tuple(round(v, places) if isinstance(v, float) else v for v in r)


def same_answer(got, want, places: int = 6) -> bool:
    """Row multisets equal, floats compared at ``places`` decimals."""
    a = sorted((_round_row(tuple(r), places) for r in got), key=repr)
    b = sorted((_round_row(tuple(r), places) for r in want), key=repr)
    return a == b
