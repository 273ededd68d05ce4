"""Independent oracles: every answer the engine gives is checked here,
outside the timed path, by code that shares nothing with the engine.

* :func:`fold_chain` folds a chain of reads with the reference's merge
  rules (assembly_final.cpp:469-595), in plain Python.
* :class:`DuckOracle` runs a registry query's ``oracle_sql`` on DuckDB
  over the same parquet files the engine read.
* :func:`same_rows` compares two result sets order-insensitively.
"""

from __future__ import annotations

import math
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb


def merge_step(acc: tuple[int, int, str], nxt: tuple[int, int, str]) -> tuple[int, int, str]:
    """Merge read ``nxt`` into the accumulated interval ``acc``.

    Both are ``(offset, length, content)`` with inclusive interval ends;
    the cases follow the reference's merge program (intended overlap
    math, not the bit-compatible 1-base A3 trim).
    """
    o, n, c = acc
    on, ln, cn = nxt
    end, end_n = o + n - 1, on + ln - 1
    if on + ln <= o:                                  # A1: entirely before
        gap = o - on - ln
        return on, n + gap + ln, cn + "N" * gap + c
    if on < o and end_n > end:                        # A2: covers
        return nxt
    if on < o:                                        # A3: starts before, ends inside
        return on, n + (o - on), cn[: o - on] + c
    if on < end:                                      # B: starts inside
        if end_n > end:
            return o, n + (end_n - end), c + cn[end + 1 - on:]
        return acc                                    # B': contained
    if on == end:                                     # C: 1-base overlap
        return o, n + ln - 1, c + cn[1:]
    gap = on - o - n                                  # D: gap after
    return o, n + gap + ln, c + "N" * gap + cn


def fold_chain(reads: list[tuple[int, int, str]]) -> tuple[int, int, str]:
    acc = reads[0]
    for nxt in reads[1:]:
        acc = merge_step(acc, nxt)
    return acc


# ---------------------------------------------------------------------------
# result-set comparison
# ---------------------------------------------------------------------------

def _cell(v):
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, (int, float, Decimal)):
        f = float(v)
        return (2, "nan") if math.isnan(f) else (2, round(f, 6))
    if isinstance(v, datetime):
        return (3, v.replace(tzinfo=None).isoformat())
    if isinstance(v, date):
        return (3, v.isoformat())
    if isinstance(v, (list, tuple)):
        return (4, tuple(_cell(x) for x in v))
    return (5, str(v))


def canon(rows) -> list[tuple]:
    """Rows as a sorted list of comparable tuples (order-insensitive)."""
    return sorted(tuple(_cell(v) for v in row) for row in rows)


def _close(a, b) -> bool:
    if a[0] == 2 and b[0] == 2 and a[1] != "nan" and b[1] != "nan":
        return math.isclose(a[1], b[1], rel_tol=1e-9, abs_tol=1.5e-6)
    return a == b


def same_rows(got, want) -> bool:
    """Equal multisets of rows; floats agree to 1e-6 after each side's
    own rounding."""
    g, w = canon(got), canon(want)
    if len(g) != len(w):
        return False
    return g == w or all(
        len(rg) == len(rw) and all(_close(a, b) for a, b in zip(rg, rw))
        for rg, rw in zip(g, w)
    )


class DuckOracle:
    """Expected results of registry queries from their DuckDB SQL."""

    def __init__(self, sf_dir: str, tables: list[str]):
        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self._cache: dict[str, list[tuple]] = {}

    def rows(self, name: str, sql: str) -> list[tuple]:
        if name not in self._cache:
            self._cache[name] = self.con.sql(sql).fetchall()
        return self._cache[name]

    def close(self) -> None:
        self.con.close()
