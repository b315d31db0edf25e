"""Cross-engine deterministic rounding.

The reference uses Python ``round`` (banker's on the exact binary value,
reference/cycling_quality_index.py:1346,1476,1571).  Spark's ``bround``
instead rounds the *shortest decimal repr* (BigDecimal.valueOf), so e.g.
``bround(0.65 * 0.5, 2)`` gives 0.32 while Python and DuckDB give 0.33.

:func:`pyround` implements scaled-floor rounding with an exact-tie
half-even branch: ``y = x * 10^n`` (one IEEE product, identical in every
engine), exact ties (dyadic rationals, e.g. 1.25 at 1 digit) go to even —
matching Python — and everything else rounds to nearest via ``floor(y+0.5)``.
Values within half an ulp of a tie can differ from CPython's decimal-exact
answer by one final digit; they cannot differ *between engines*, which is
what the correctness gate hashes.  ``sql_pyround`` emits the same formula
for DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def pyround(c: Column, n: int) -> Column:
    s = 10 ** n
    y = c * float(s)
    f = F.floor(y)
    return F.when(y - f == 0.5, (f + f % 2) / s).otherwise(F.floor(y + 0.5) / s)


def pyround_int(c: Column) -> Column:
    f = F.floor(c)
    return F.when(c - f == 0.5, f + f % 2).otherwise(F.floor(c + 0.5)).cast("int")


def sql_pyround(expr: str, n: int) -> str:
    s = 10 ** n
    y = f"(({expr}) * {float(s)!r})"
    return (
        f"(CASE WHEN {y} - FLOOR({y}) = 0.5 "
        f"THEN (FLOOR({y}) + (CAST(FLOOR({y}) AS BIGINT) % 2)) / {s} "
        f"ELSE FLOOR({y} + 0.5) / {s} END)"
    )


def force_double(sql: str) -> str:
    """Rewrite decimal literals outside string quotes to DOUBLE casts.

    DuckDB types ``0.35`` as exact DECIMAL while Spark types it DOUBLE; an
    oracle computing ``0.35 + 0.65*0.3`` in decimal gets exactly 0.545 and
    takes the half-even tie branch, while Spark's double is
    0.54500000000000001 and rounds up — a one-digit hash mismatch.  Forcing
    every fractional literal to DOUBLE makes both engines run identical IEEE
    arithmetic end-to-end.  Integer literals keep their integer semantics.
    Text inside single-quoted strings AND double-quoted identifiers is left
    untouched (a quoted column name like ``"ratio_0.5"`` must not be
    rewritten).
    """
    import re

    pat = re.compile(r"(?<![\w.])(\d+\.\d+)(?![\w.])")
    out = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch in ("'", '"'):
            # SQL escapes a quote inside a quoted segment by doubling it
            # ('' / ""): a doubled closing quote continues the segment, so
            # the scanner must skip past it or it desynchronizes and starts
            # rewriting literals inside strings
            j = i
            while True:
                j = sql.find(ch, j + 1)
                if j == -1:
                    j = n - 1
                    break
                if j + 1 < n and sql[j + 1] == ch:
                    j += 1  # escaped quote — still inside the segment
                    continue
                break
            out.append(sql[i:j + 1])
            i = j + 1
        else:
            j = n
            for q in ("'", '"'):
                k = sql.find(q, i)
                if k != -1:
                    j = min(j, k)
            out.append(pat.sub(r"CAST(\1 AS DOUBLE)", sql[i:j]))
            i = j
    return "".join(out)


def sql_pyround_int(expr: str) -> str:
    return (
        f"CAST(CASE WHEN ({expr}) - FLOOR({expr}) = 0.5 "
        f"THEN FLOOR({expr}) + (CAST(FLOOR({expr}) AS BIGINT) % 2) "
        f"ELSE FLOOR(({expr}) + 0.5) END AS INT)"
    )
