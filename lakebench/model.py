"""Pure-Python model of the DML churn statement sequence.

It applies the same statements to a dict keyed by ``id`` and answers the
same reads, so every engine result can be checked against it.
"""

from __future__ import annotations

import datetime
from decimal import ROUND_HALF_UP, Decimal

_CENT = Decimal("0.01")
_FACTOR = Decimal("1.1")


def canon_value(v):
    """Engine-, DuckDB- and model-neutral form of one value."""
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, Decimal):
        return str(v.quantize(_CENT))
    return v


def canon_rows(rows) -> list[tuple]:
    return sorted(tuple(canon_value(v) for v in r) for r in rows)


class ChurnModel:
    def __init__(self) -> None:
        self.rows: dict[int, tuple] = {}

    def insert(self, rows: list[tuple]) -> None:
        for r in rows:
            self.rows[r[0]] = r

    def delete(self, m: int, k: int) -> None:
        self.rows = {i: r for i, r in self.rows.items() if i % m != k}

    def update(self, category: str, m: int, k: int) -> None:
        # Spark computes DECIMAL(10,2) * 1.1 exactly, then casts back to
        # DECIMAL(10,2) with HALF_UP rounding.
        for i, r in list(self.rows.items()):
            if r[2] == category and i % m == k:
                amount = (r[3] * _FACTOR).quantize(_CENT, rounding=ROUND_HALF_UP)
                self.rows[i] = (r[0], r[1], r[2], amount, r[4])

    def count(self) -> list[tuple]:
        return [(len(self.rows),)]

    def point(self, i: int) -> list[tuple]:
        return [self.rows[i]] if i in self.rows else []

    def range(self, lo: int, hi: int) -> list[tuple]:
        hit = [r for i, r in self.rows.items() if lo <= i <= hi]
        total = sum((r[3] for r in hit), Decimal(0)) if hit else None
        return [(len(hit), total)]

    def apply(self, kind: str, args: tuple, staged_rows: dict[str, list[tuple]]):
        """Apply one statement; returns the expected result rows of a read
        (``None`` for DML)."""
        if kind == "insert":
            self.insert(staged_rows[args[0]])
        elif kind == "delete":
            self.delete(*args)
        elif kind == "update":
            self.update(*args)
        else:
            return getattr(self, kind)(*args)
        return None

    def table(self) -> list[tuple]:
        return canon_rows(self.rows.values())
