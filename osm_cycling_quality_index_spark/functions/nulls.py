"""NULL/empty-string truthiness helpers.

The reference runs inside QGIS where ``NULL`` (an empty QVariant) is falsy and
interchangeable with ``''`` under ``if not x:`` checks (e.g.
reference/definitions.py:7-9, reference/cycling_quality_index.py:741).  Spark
three-valued logic differs: ``NULL == x`` is NULL (falsy in ``when``), but
``NULL != x`` is also NULL where Python yields True.  Every ported conditional
must use these helpers instead of raw operators.  They are written with the
folding ``when``/``coalesce`` of :mod:`.fold`, so on an absent tag they fold
to constants while the tree is built.
"""

from __future__ import annotations

from pyspark.sql import Column

from .fold import coalesce, when


def falsy(c: Column) -> Column:
    """``not x`` for QGIS string attributes: NULL or empty string."""
    return c.isNull() | (c == "")


def truthy(c: Column) -> Column:
    """``bool(x)`` for QGIS string attributes."""
    return c.isNotNull() & (c != "")


def neq(c: Column, value) -> Column:
    """Python ``x != v`` semantics where NULL != v is True (null-safe)."""
    return ~c.eqNullSafe(value)


def notin(c: Column, values) -> Column:
    """Python ``x not in [...]`` semantics: NULL not in a non-NULL list is True."""
    return c.isNull() | ~c.isin(list(values))


def fcoalesce(*cols: Column) -> Column:
    """First non-falsy (non-NULL, non-empty-string) column — the reference's
    ``if not a: a = b`` cascade (e.g. reference/definitions.py:7-10).

    Implemented by masking '' to NULL then ``coalesce`` so the expression tree
    stays linear (a nested when/otherwise ladder duplicates subtrees
    exponentially).  All-falsy input yields NULL where the reference may keep
    a final ''; the two are indistinguishable under QGIS truthiness and every
    downstream consumer goes through ``falsy``/``isin``/dict lookups.
    """
    return coalesce(*[when(truthy(c), c) for c in cols])
