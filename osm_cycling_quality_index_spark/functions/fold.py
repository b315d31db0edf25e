"""Schema-aware tag access with build-time folding of absent tags.

``conform_ways`` keeps only the tags a frame really has, so most of the
~230 attributes the scalar layers test are absent on any one input.  An
absent tag is NULL on every row; :class:`Tags` hands it out as a known
NULL (:class:`Const`) instead of a plan Column, and the operators and
``when``/``coalesce`` below fold such constants while the Python tree is
built.  A dead arm never becomes a Column, and so never costs a py4j
round-trip or a line of generated code.

Folding keeps SQL's three-valued logic exactly:

* ``NULL = x``, ``NULL IN (...)``, ``contains`` and arithmetic on NULL are
  NULL; ``~NULL`` is NULL; ``FALSE AND x`` is FALSE, ``TRUE OR x`` is TRUE,
  ``NULL AND TRUE`` is NULL and ``NULL OR FALSE`` is NULL;
* a ``when`` arm whose condition is NULL or FALSE never fires and is
  dropped; an arm whose condition is TRUE ends the chain;
* ``coalesce`` drops NULL arguments.

Dropping an arm or argument may not change the result's type: CASE and
COALESCE take the widest type of all their values.  A dropped value whose
type is not already carried by a kept value stays in the plan as a
``WHEN NULL THEN v`` arm (or a trailing NULL argument), which keeps the
type and never changes a value.

Everything here is a ``Column`` subclass, so an expression that cannot be
folded is materialized on first use and behaves as the Column it stands
for.
"""

from __future__ import annotations

import operator
import struct
from functools import lru_cache

from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.classic.column import Column as _Column
from pyspark.sql.types import DataType

from .. import params as P

#: Spark type of an absent pipeline column (tags are strings)
_ABSENT_TYPES = dict(P.NEW_ATTRIBUTES_TYPES)
_TAGS = frozenset(P.ATTRIBUTES_LIST)


def _pytype(v) -> str:
    if v is None:
        return "void"
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "int" if -2**31 <= v < 2**31 else "bigint"
    if isinstance(v, float):
        return "double"
    if isinstance(v, str):
        return "string"
    raise TypeError(f"no literal type for {type(v).__name__}")


def _typename(t) -> str:
    return t.simpleString() if isinstance(t, DataType) else t


# -- plan leaves --------------------------------------------------------------
# Each py4j round-trip costs ~0.65 ms, and ``F.<fn>`` makes three: pyspark
# resolves the ``functions`` class and then the member reflectively on every
# call.  Leaves are built through a kept member, and a Column is immutable
# and names its input only by name, so each distinct leaf is built once per
# process and shared by every plan.


@lru_cache(maxsize=None)
def _member(jvm, name: str):
    return getattr(jvm.functions, name)


def _fn(name: str, *args) -> _Column:
    """``functions.<name>(*args)`` through a kept member; ``args`` are
    Columns or literals the JVM method takes as they are."""
    member = _member(SparkContext._active_spark_context._jvm, name)
    return _Column(member(*[a._jc if isinstance(a, _Column) else a for a in args]))


@lru_cache(maxsize=4096)
def ccol(name: str) -> _Column:
    return _fn("col", name)


@lru_cache(maxsize=8192)
def _clit_cached(key, value) -> _Column:
    return _fn("lit", value)


def clit(value) -> _Column:
    # The cache key must tell apart every value Spark would render
    # differently: 0.0 and -0.0 are == and hash the same but differ by an
    # IEEE sign bit, so floats key on their raw bits, and True/1 on type.
    t = type(value)
    if t is float:
        return _clit_cached(("f", struct.pack(">d", value)), value)
    return _clit_cached((t.__name__, value), value)


@lru_cache(maxsize=64)
def _null_col(dtype: str) -> _Column:
    return clit(None) if dtype == "void" else clit(None).cast(dtype)


def _col(v) -> _Column:
    """The plan Column for a value (python scalars through the literal
    cache)."""
    return v if isinstance(v, _Column) else clit(v)


def _raw(v):
    """A value as ``when``/``otherwise`` take it: a non-NULL literal goes
    over as it is (the JVM makes the literal), anything else as a Column."""
    if isinstance(v, Const) and v.value is not None:
        return v.value
    return _col(v)


def _v(x):
    """Python scalars become constants so their type is known."""
    return x if isinstance(x, _Column) else Const(x, _pytype(x))


def known(x):
    """The constant ``x`` folds to, or None when it is a plan value."""
    if isinstance(x, Expr):
        return x._const()
    if isinstance(x, _Column):
        return None
    return Const(x, _pytype(x))


def is_null(x) -> bool:
    """True when ``x`` is NULL on every row."""
    k = known(x)
    return k is not None and k.value is None


def _dtype(x):
    if isinstance(x, Expr):
        return x.dtype
    return None if isinstance(x, _Column) else _pytype(x)


def _widening_free(dropped, kept) -> bool:
    """Dropping ``dropped`` keeps the widest type of ``kept``."""
    types = {_dtype(v) for v in kept}
    return all(d == "void" or (d is not None and d in types)
               for d in map(_dtype, dropped))


class Expr(_Column):
    """A Column whose plan node is built on first use, with folding
    operators.  Subclasses define ``_const`` (the folded constant or None)
    and ``_build`` (the Java column)."""

    dtype = None  # Spark simpleString of the value type, None if unknown
    _jcache = None

    @property
    def _jc(self):
        if self._jcache is None:
            self._jcache = self._build()
        return self._jcache

    def _const(self):
        return None

    def _build(self):  # pragma: no cover - abstract
        raise NotImplementedError

    # -- boolean logic ------------------------------------------------------
    def __and__(self, other):
        return _and(self, other)

    def __rand__(self, other):
        return _and(other, self)

    def __or__(self, other):
        return _or(self, other)

    def __ror__(self, other):
        return _or(other, self)

    def __invert__(self):
        k = self._const()
        if k is None:
            return _Column.__invert__(self)
        return NULL_BOOL if k.value is None else Const(not k.value, "boolean")

    # -- comparisons --------------------------------------------------------
    def __eq__(self, other):
        return _cmp(self, other, "__eq__", operator.eq)

    def __ne__(self, other):
        return _cmp(self, other, "__ne__", operator.ne)

    def __lt__(self, other):
        return _cmp(self, other, "__lt__", operator.lt)

    def __le__(self, other):
        return _cmp(self, other, "__le__", operator.le)

    def __gt__(self, other):
        return _cmp(self, other, "__gt__", operator.gt)

    def __ge__(self, other):
        return _cmp(self, other, "__ge__", operator.ge)

    __hash__ = None

    def eqNullSafe(self, other):  # noqa: N802 (pyspark name)
        k, o = self._const(), known(other)
        if k is not None and k.value is None:
            if o is not None:
                return Const(o.value is None, "boolean")
            return other.isNull()
        if o is not None and o.value is None:
            return self.isNull()
        return _Column.eqNullSafe(self, _col(other))

    def isin(self, *values):
        if len(values) == 1 and isinstance(values[0], (list, tuple, set)):
            values = tuple(values[0])
        if isinstance(self, Col) and all(map(_is_scalar, values)):
            return _leaf(self.colname, "isin", *values)
        k = self._const()
        if k is not None and values:
            if k.value is None:
                return NULL_BOOL
            lits = [known(v) for v in values]
            if all(c is not None and c.value is not None and c.dtype == k.dtype
                   for c in lits):
                return Const(k.value in [c.value for c in lits], "boolean")
        return _Column.isin(self, *[_col(v) for v in values])

    def contains(self, other):
        if is_null(self):
            return NULL_BOOL
        if isinstance(self, Col) and _is_scalar(other):
            return _leaf(self.colname, "contains", other)
        return _Column.contains(self, other)

    def isNull(self):  # noqa: N802
        if isinstance(self, Col):
            return _leaf(self.colname, "isNull")
        k = self._const()
        return _Column.isNull(self) if k is None else Const(k.value is None, "boolean")

    def isNotNull(self):  # noqa: N802
        if isinstance(self, Col):
            return _leaf(self.colname, "isNotNull")
        k = self._const()
        return _Column.isNotNull(self) if k is None else Const(k.value is not None, "boolean")

    def cast(self, dataType):  # noqa: N803
        if is_null(self):
            return Const(None, _typename(dataType))
        return _Column.cast(self, dataType)

    def try_cast(self, dataType):  # noqa: N803
        if is_null(self):
            return Const(None, _typename(dataType))
        return _Column.try_cast(self, dataType)

    # -- arithmetic: NULL of a double operand is a NULL double -------------
    def __add__(self, other):
        return _arith(self, other, "__add__")

    def __radd__(self, other):
        return _arith(self, other, "__radd__")

    def __sub__(self, other):
        return _arith(self, other, "__sub__")

    def __rsub__(self, other):
        return _arith(self, other, "__rsub__")

    def __mul__(self, other):
        return _arith(self, other, "__mul__")

    def __rmul__(self, other):
        return _arith(self, other, "__rmul__")

    def __truediv__(self, other):
        return _arith(self, other, "__truediv__")

    def __rtruediv__(self, other):
        return _arith(self, other, "__rtruediv__")


class Const(Expr):
    """A value known at build time: NULL, a boolean or a python literal.

    ``witnesses`` are the dropped values of a dead ``when`` chain or
    ``coalesce``; a NULL whose type they decide is built as a CASE over
    them, which Catalyst folds back to a typed NULL literal."""

    def __init__(self, value, dtype=None, witnesses=()):
        self.value = value
        self.dtype = dtype
        self.witnesses = witnesses

    def _const(self):
        return self

    def _build(self):
        if self.witnesses and self.dtype is None:
            return _dead_case(self.witnesses)._jc
        if self.value is None:
            return _null_col(self.dtype or "void")._jc
        return clit(self.value)._jc


NULL_BOOL = Const(None, "boolean")
TRUE = Const(True, "boolean")
FALSE = Const(False, "boolean")


def null(dtype: str = "string") -> Const:
    return Const(None, dtype)


def _is_scalar(v) -> bool:
    return v is None or isinstance(v, (str, int, float))


def _leaf(colname: str, op: str, *args) -> _Column:
    """``col <op> literals``, one plan node per distinct test.  The scalar
    layers test the same columns against the same literals many times over,
    and a Column names its input only by name, so the node serves every
    frame.  Operands key on type and repr too: 0.0 == -0.0 and 1 == True."""
    return _leaf_cached(colname, op, tuple((type(a).__name__, repr(a), a) for a in args))


@lru_cache(maxsize=8192)
def _leaf_cached(colname: str, op: str, typed: tuple) -> _Column:
    args = [clit(a) if op == "isin" else a for _, _, a in typed]
    return getattr(_Column, op)(ccol(f"`{colname}`"), *args)


class Col(Expr):
    """A column the frame really has, with its schema type."""

    def __init__(self, name: str, dtype: str | None):
        self.colname = name
        self.dtype = dtype

    def _build(self):
        return ccol(f"`{self.colname}`")._jc


class Case(Expr):
    """``CASE WHEN`` under construction.  ``arms`` are the live (condition,
    value) pairs, ``default`` the ELSE value (None for none), ``closed``
    whether an arm that always fires or an ELSE ended the chain, and
    ``witnesses`` the values of dropped arms."""

    def __init__(self, arms=(), default=None, closed=False, witnesses=()):
        self.arms = arms
        self.default = default
        self.closed = closed
        self.witnesses = witnesses

    def _values(self):
        vals = [v for _, v in self.arms]
        return vals + [self.default] if self.default is not None else vals

    @property
    def dtype(self):
        types = {_dtype(v) for v in self._values() + list(self.witnesses)} - {"void"}
        return types.pop() if len(types) == 1 else None

    def _const(self):
        vals = self._values()
        if not self.arms and self.default is not None:
            k = known(self.default)
            if k is not None and _widening_free(self.witnesses, [self.default]):
                return k
            return None
        if all(is_null(v) for v in vals):
            # no arm fires, or every arm yields NULL
            return Const(None, self.dtype, tuple(vals) + tuple(self.witnesses))
        return None

    def when(self, condition, value):
        value = _v(value)
        if self.closed:
            return Case(self.arms, self.default, True, self.witnesses + (value,))
        k = known(condition)
        if k is None:
            return Case(self.arms + ((condition, value),), None, False, self.witnesses)
        if k.value is True:
            return Case(self.arms, value, True, self.witnesses)
        return Case(self.arms, None, False, self.witnesses + (value,))

    def otherwise(self, value):
        value = _v(value)
        if self.closed:
            return Case(self.arms, self.default, True, self.witnesses + (value,))
        if not self.arms and _widening_free(self.witnesses, [value]):
            return value
        return Case(self.arms, value, True, self.witnesses)

    def _build(self):
        k = self._const()
        if k is not None:
            return k._jc
        kept = self._values()
        arms = list(self.arms) + [
            (NULL_BOOL, w) for w in self.witnesses if not _widening_free([w], kept)
        ]
        if not arms:
            return _col(self.default)._jc
        return _case(arms, self.default)._jc


def _case(arms, default=None) -> _Column:
    c = _fn("when", _col(arms[0][0]), _raw(arms[0][1]))
    for cond, v in arms[1:]:
        c = c.when(_col(cond), _raw(v))
    return c if default is None else c.otherwise(_raw(default))


def _dead_case(values) -> _Column:
    return _case([(NULL_BOOL, v) for v in values])


def when(condition, value) -> _Column:
    """``F.when`` that drops arms whose condition is known NULL or FALSE."""
    return Case().when(condition, value)


def coalesce(*values) -> _Column:
    """``F.coalesce`` that drops arguments known to be NULL (and everything
    after a known non-NULL one)."""
    vals = [_v(v) for v in values]
    kept, dropped = [], []
    for i, v in enumerate(vals):
        k = known(v)
        if k is not None and k.value is None:
            dropped.append(v)
            continue
        kept.append(v)
        if k is not None:  # never NULL: later arguments are unreachable
            dropped.extend(vals[i + 1:])
            break
    if not kept:
        types = {_dtype(v) for v in dropped} - {"void"}
        return Const(None, types.pop() if len(types) == 1 else None, tuple(dropped))
    if len(kept) == 1 and _widening_free(dropped, kept):
        return kept[0]
    # dropped values that carry a type of their own stay as trailing
    # arguments: after the kept ones they never decide a value
    tail = [w for w in dropped if not _widening_free([w], kept)]
    return F.coalesce(*[_col(v) for v in kept + tail])


def _and(a, b):
    ka, kb = known(a), known(b)
    if ka is not None and ka.value is False or kb is not None and kb.value is False:
        return FALSE
    if ka is not None and ka.value is True:
        return b if kb is None else kb
    if kb is not None and kb.value is True:
        return a if ka is None else ka
    if ka is not None and kb is not None:
        return NULL_BOOL
    return _Column.__and__(_col(a), _col(b))


def _or(a, b):
    ka, kb = known(a), known(b)
    if ka is not None and ka.value is True or kb is not None and kb.value is True:
        return TRUE
    if ka is not None and ka.value is False:
        return b if kb is None else kb
    if kb is not None and kb.value is False:
        return a if ka is None else ka
    if ka is not None and kb is not None:
        return NULL_BOOL
    return _Column.__or__(_col(a), _col(b))


_NUMERIC = {"int", "bigint", "double"}


def _cmp(a, b, name, op):
    if isinstance(a, Col) and _is_scalar(b) and b is not None:
        return _leaf(a.colname, name, b)
    ka, kb = a._const(), known(b)
    if ka is not None and ka.value is None or kb is not None and kb.value is None:
        return NULL_BOOL
    if ka is not None and kb is not None and (
            ka.dtype == kb.dtype == "string" and op in (operator.eq, operator.ne)
            or ka.dtype in _NUMERIC and kb.dtype in _NUMERIC):
        return Const(op(ka.value, kb.value), "boolean")
    return getattr(_Column, name)(a, b)


#: reflected operators; pyspark's take only a literal on the left
_FORWARD = {"__radd__": "__add__", "__rsub__": "__sub__", "__rmul__": "__mul__",
            "__rtruediv__": "__truediv__"}


def _arith(a, b, name):
    if (is_null(a) and a.dtype == "double"
            or isinstance(b, Expr) and is_null(b) and b.dtype == "double"):
        return Const(None, "double")
    if name in _FORWARD:
        return getattr(_Column, _FORWARD[name])(_col(b), a)
    return getattr(_Column, name)(a, b)


@lru_cache(maxsize=8)
def _fallback_null(dtype: str) -> _Column:
    """``transform(array(CAST(NULL AS dtype)), x -> x)[0]``: NULL, through a
    CodegenFallback expression."""
    return F.transform(F.array(_null_col(dtype)), lambda x: x)[0]


@lru_cache(maxsize=8)
def _id_mark(id_type: str) -> _Column:
    return F.coalesce(ccol("id"), _fallback_null(id_type))


def per_operator(df: DataFrame, exprs: dict, id_type: str | None) -> DataFrame:
    """``df.withColumns(exprs)``, run outside whole-stage codegen.

    The CQI scalar stages write their columns through this and filter
    through :func:`per_operator_filter`.  Fused into one whole-stage method
    their trees exceed the JVM's 64 KB method limit (the compile fails, and
    is retried on every execution), and even split into spans that do
    compile, methods over the JIT's 8 KB limit run interpreted, several
    times slower than per-operator execution.  A plan node holding a
    CodegenFallback expression, such as a higher-order function, is kept
    out of whole-stage codegen: it runs as its own operator with Spark's
    per-expression codegen, which splits large expressions into small
    methods.

    The projection is marked by rewriting the way id (of type ``id_type``;
    a frame without one is not marked), which every CQI frame carries to
    its output, as ``coalesce(id, <NULL through transform>)``.  The value
    is the id's; the ``transform`` is evaluated only on a row whose id is
    NULL, so the mark costs one null test per row.  It reads the id once,
    so Catalyst still collapses adjacent marked projections where it would
    collapse unmarked ones.  It relies on the id being nullable, as it is
    from every source the pipeline reads: the optimizer drops ``coalesce``
    over a non-nullable first argument, and with it the mark."""
    if id_type is not None and "id" not in exprs:
        exprs = {**exprs, "id": _id_mark(id_type)}
    return df.withColumns(exprs) if exprs else df


def per_operator_filter(df: DataFrame, cond: _Column) -> DataFrame:
    """``df.filter(cond)``, run outside whole-stage codegen like
    :func:`per_operator`'s projections.  The condition is marked as
    ``coalesce(<NULL through transform>, cond)``, whose value is
    ``cond``'s; the ``transform`` is evaluated on every row, but reads
    nothing of it, and the mark holds whether or not ``cond`` can be NULL."""
    return df.filter(F.coalesce(_fallback_null("boolean"), cond))


class Tags:
    """Reads a frame's columns for the scalar layers.

    ``t(name)`` is the column when the frame has it, else the constant it
    holds: NULL for an absent tag, or the value a folded write left.
    ``t.put(df, {...})`` is ``withColumns`` that keeps constants out of the
    plan where that is exact: a NULL written to a tag or a ``_``-prefixed
    temporary the frame lacks is skipped, and a later ``t(name)`` still
    reads it as that NULL.  Every other output column is written, so a
    stage's schema does not depend on its input's.  With
    ``per_operator=True`` each write is :func:`per_operator`'s, and
    ``t.filter`` is :func:`per_operator_filter`."""

    def __init__(self, df: DataFrame, per_operator: bool = False):
        self.types = dict(df.dtypes)
        self.consts: dict[str, Const] = {}
        self.per_operator = per_operator

    def __contains__(self, name: str) -> bool:
        return name in self.types

    def __call__(self, name: str) -> _Column:
        k = self.consts.get(name)
        if k is not None:
            return k
        if name in self.types:
            return Col(name, self.types[name])
        return Const(None, _ABSENT_TYPES.get(name, "string"))

    def put(self, df: DataFrame, exprs: dict) -> DataFrame:
        write = {}
        for name, e in exprs.items():
            k = known(e)
            self.consts.pop(name, None)
            if k is not None:
                self.consts[name] = k
                if (k.value is None and name not in self.types
                        and (name in _TAGS or name.startswith("_"))):
                    continue
            write[name] = _col(e)
            self.types[name] = _dtype(e)
        if not write:
            return df
        if self.per_operator:
            return per_operator(df, write, self.types.get("id"))
        return df.withColumns(write)

    def filter(self, df: DataFrame, cond: _Column) -> DataFrame:
        if self.per_operator:
            return per_operator_filter(df, cond)
        return df.filter(cond)

    def drop(self, df: DataFrame, prefix: str) -> DataFrame:
        """Drop the temporaries named ``prefix*``."""
        names = [n for n in self.types if n.startswith(prefix)]
        for n in names:
            del self.types[n]
        for n in [n for n in self.consts if n.startswith(prefix)]:
            del self.consts[n]
        return df.drop(*names) if names else df
