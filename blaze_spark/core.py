"""Core lazy expression layer: ``Table`` / ``ColExpr`` / ``Reduction``.

Design (SURVEY.md §7): *wrap, don't reimplement*.  The reference builds an
immutable hash-consed expression tree with eager datashape inference
(blaze/expr/core.py:121-157, blaze/expr/expressions.py:167-180) and lowers
it per backend via multipledispatch.  Here the "tree" IS the lazily-built
``pyspark.sql.DataFrame`` lineage — Catalyst is the optimizer (column
pruning, predicate pushdown, fusion: blaze/expr/optimize.py is subsumed,
see SURVEY.md §4.1) — and this layer adds what Blaze added over raw
backends: eager schema validation, NumPy/Pandas-flavored semantics
(ddof=0, non-null count, Monday=0 weekday), and the interactive API
(``.peek()``, ``__len__``, ``.str``/``.dt`` accessors).

Everything stays JVM-side (`pyspark.sql.functions`) except ``map``/``apply``
which are explicit user-Python escape hatches lowered to Arrow-batched
pandas UDFs (reference Map/Apply: blaze/expr/expressions.py:695-791).
"""

from __future__ import annotations

from typing import Any, Callable, Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import schema as _s
from .cache import carry

__all__ = [
    "Table",
    "ColExpr",
    "Reduction",
    "by",
    "merge",
    "transform",
    "summary",
    "join",
    "concat",
    "coalesce",
    "shift",
    "rollup",
    "cube",
    "set_interactive_repr",
]

# mutable cell so the toggle is visible to already-imported references
_INTERACTIVE_REPR = [True]

# isin() value-count above which a direct selection lowers to a broadcast
# left-semi join instead of an in-plan literal set (SURVEY §2.3 cliff)
_ISIN_SEMI_THRESHOLD = 10_000


def _bulk_array_lit(vals: list) -> Column:
    """One array literal from a Python list in a SINGLE JVM call.

    Classic PySpark's ``F.lit(list)`` expands to ``array(lit(v), ...)``
    — one py4j round-trip per value (measured: 27 s for 50k ints).
    Serializing once and parsing with ``from_json`` is a single call
    (27 ms) and Catalyst constant-folds the parse.  Element type is
    taken from the first non-None value; unsupported element types fall
    back to the per-value form."""
    import datetime as _dt
    import json as _json

    probe = next((v for v in vals if v is not None), None)
    if isinstance(probe, bool):
        elem = "boolean"
        bad = next((v for v in vals
                    if v is not None and not isinstance(v, bool)), None)
    elif isinstance(probe, int):
        # a mixed int/float list must parse as double
        elem = ("double" if any(isinstance(v, float) for v in vals)
                else "bigint")
        # from_json returns NULL for the WHOLE array if any element fails
        # to parse (e.g. an unsigned 64-bit hash above int64, or a stray
        # bool in an int list) — and array_contains(NULL, x) silently
        # matches nothing.  Validate eagerly and fail loudly instead.
        if elem == "bigint":
            bad = next((v for v in vals if v is not None and (
                isinstance(v, bool) or not isinstance(v, int)
                or not -(2**63) <= v < 2**63)), None)
        else:
            bad = next((v for v in vals if v is not None and (
                isinstance(v, bool)
                or not isinstance(v, (int, float)))), None)
    elif isinstance(probe, float):
        elem = "double"
        bad = next((v for v in vals if v is not None and (
            isinstance(v, bool) or not isinstance(v, (int, float)))), None)
    elif isinstance(probe, str):
        elem = "string"
        bad = next((v for v in vals
                    if v is not None and not isinstance(v, str)), None)
    elif isinstance(probe, _dt.datetime):
        elem = "timestamp"
        bad = next((v for v in vals
                    if v is not None and not isinstance(v, _dt.datetime)),
                   None)
        vals = [v.isoformat() if v is not None else None for v in vals]
    elif isinstance(probe, _dt.date):
        elem = "date"
        bad = next((v for v in vals if v is not None and (
            isinstance(v, _dt.datetime)
            or not isinstance(v, _dt.date))), None)
        vals = [v.isoformat() if v is not None else None for v in vals]
    else:
        return F.lit(vals)
    if bad is not None:
        raise TypeError(
            f"isin values are not a homogeneous {elem} list: {bad!r} "
            f"(type {type(bad).__name__}) cannot be represented — "
            "from_json would silently null the whole literal and the "
            "predicate would match nothing")
    return F.from_json(F.lit(_json.dumps(vals)), f"array<{elem}>")


def set_interactive_repr(on: bool) -> None:
    """Toggle auto-computing ``Table.__repr__`` (reference parity:
    blaze/interactive.py renders head(11) via pandas).  Off = the cheap
    one-line schema repr; prefer off in batch jobs where stray reprs in
    logs would launch limited Spark jobs."""
    _INTERACTIVE_REPR[0] = bool(on)


class SortKey:
    """Engine-level sort-direction wrapper (replaces Column-repr sniffing:
    the reference tracks direction in the expression tree itself —
    blaze/expr/collections.py:80-173 — not in backend internals).

    Produced by ``ColExpr.asc()`` / ``ColExpr.desc()``; ``Table.sort``
    consumes it directly, so direction/null placement never round-trips
    through PySpark's (unstable) ``Column.__repr__``.
    """

    __slots__ = ("col", "ascending", "na_position")

    def __init__(self, col: Column, ascending: bool = True,
                 na_position: str | None = None):
        self.col = col
        self.ascending = ascending
        self.na_position = na_position  # None = inherit sort()'s default

    def spark_order(self, default_last: bool) -> Column:
        last = (self.na_position == "last") if self.na_position is not None \
            else default_last
        if self.ascending:
            return self.col.asc_nulls_last() if last else self.col.asc_nulls_first()
        return self.col.desc_nulls_last() if last else self.col.desc_nulls_first()


def _is_sort_order(c: Column) -> bool:
    """True if a raw PySpark Column already carries a SortOrder expression
    (user called ``F.col(x).desc()``).  Checks the underlying expression
    CLASS — classic (Py4J) and Connect both — never the repr string."""
    jc = getattr(c, "_jc", None)
    if jc is not None:
        # Spark 4 classic: Column wraps a ColumnNode (`node()`); Spark 3
        # classic exposed the Catalyst expression (`expr()`).  Class-name
        # check either way.
        for accessor in ("node", "expr"):
            try:
                return getattr(jc, accessor)().getClass().getName() \
                    .endswith("SortOrder")
            except Exception:
                continue
    expr = getattr(c, "_expr", None)
    if expr is not None:
        return type(expr).__name__ == "SortOrder"
    return False


def _dtype_of(df: DataFrame, col: Column) -> T.DataType:
    """Eager type inference for an arbitrary Column — mirrors the
    reference's construction-time ``_dshape`` memoization
    (blaze/expr/expressions.py:167-180).  Spark analyzes the plan without
    executing it, so this is metadata-only."""
    return df.select(col).schema[0].dataType


class _LazyCol:
    """Zero-arg thunk for a Column whose construction is expensive.
    Forced on first ``_col`` access — a large-set ``isin`` keeps its
    array literal unbuilt when the broadcast-semi-join selection path
    discards the column form (ADVICE r5)."""

    __slots__ = ("fn",)

    def __init__(self, fn):
        self.fn = fn


class ColExpr:
    """A scalar/elementwise expression over one table — the analogue of a
    1-D Blaze expression (Field, arithmetic, comparisons, .str/.dt methods;
    reference: blaze/expr/expressions.py:362-400, blaze/expr/arithmetic.py).

    Wraps a ``pyspark.sql.Column`` plus its owning ``Table`` so that
    reductions and filters know their source, and carries an eagerly
    inferred dtype for NumPy-style promotion checks.
    """

    def __init__(self, table: "Table", col: Column | _LazyCol,
                 name: str | None = None,
                 dtype: T.DataType | None = None, tree: dict | None = None):
        self._table = table
        self.__col = col
        self._name = name or "expr"
        self.__dtype = dtype
        # serialized form for to_tree (None = not serializable)
        self._tree = tree

    # -- metadata ---------------------------------------------------------
    @property
    def _col(self) -> Column:
        c = self.__col
        if isinstance(c, _LazyCol):
            c = c.fn()
            self.__col = c
        return c

    @property
    def col(self) -> Column:
        return self._col

    @property
    def dtype(self) -> T.DataType:
        if self.__dtype is None:
            self.__dtype = _dtype_of(self._table.df, self._col)
        return self.__dtype

    @property
    def name(self) -> str:
        return self._name

    def __repr__(self) -> str:
        return f"<ColExpr {self._name}: {self.dtype.simpleString()}>"

    # -- construction helpers --------------------------------------------
    def _make(self, col: Column, name: str | None = None,
              dtype: T.DataType | None = None) -> "ColExpr":
        return ColExpr(self._table, col, name or self._name, dtype)

    @staticmethod
    def _lift(other: Any) -> Column:
        if isinstance(other, ColExpr):
            return other._col
        return F.lit(other)

    @staticmethod
    def _scalar_dtype(v: Any) -> T.DataType | None:
        # scalar_coerce analogue (blaze/expr/arithmetic.py:251-306)
        if isinstance(v, bool):
            return T.BooleanType()
        if isinstance(v, int):
            # F.lit picks IntegerType when the value fits (matching Spark)
            return T.IntegerType() if -2**31 <= v < 2**31 else T.LongType()
        if isinstance(v, float):
            return T.DoubleType()
        if isinstance(v, str):
            return T.StringType()
        return None

    def _binop(self, other: Any, fn: Callable[[Column, Column], Column],
               name: str) -> "ColExpr":
        # eager promotion check (reference _mkbin forces result dshape at
        # construction — blaze/expr/arithmetic.py:316-331); computing the
        # result dtype locally also avoids a Spark analysis roundtrip per
        # derived expression
        out_dt = None
        other_dt = (other.dtype if isinstance(other, ColExpr)
                    else self._scalar_dtype(other))
        if other_dt is not None and _s.is_numeric(self.dtype) \
                and _s.is_numeric(other_dt):
            out_dt = _s.promote(self.dtype, other_dt)
            if name.endswith(("_div", "_pow")):
                # Spark `/` and pow() always return double — matches the
                # reference's Div rule (blaze/expr/arithmetic.py:189-196)
                out_dt = T.DoubleType()
        tree = _binop_tree(_OPNAME.get(name.rsplit("_", 1)[-1]), self, other)
        out = self._make(fn(self._col, self._lift(other)), name, out_dt)
        out._tree = tree
        return out

    # -- arithmetic (blaze/expr/arithmetic.py:62-235) ----------------------
    def __add__(self, o):
        return self._binop(o, lambda a, b: a + b, f"{self._name}_add")

    def __radd__(self, o):
        return self._make(self._lift(o) + self._col, f"{self._name}_add", None)

    def __sub__(self, o):
        return self._binop(o, lambda a, b: a - b, f"{self._name}_sub")

    def __rsub__(self, o):
        return self._make(self._lift(o) - self._col, f"{self._name}_sub", None)

    def __mul__(self, o):
        # string * int = Repeat (reference blaze/expr/arithmetic.py:147-164)
        if _s.is_string(self.dtype):
            return self._make(F.repeat(self._col, self._lift(o)),
                              f"{self._name}_repeat", T.StringType())
        return self._binop(o, lambda a, b: a * b, f"{self._name}_mul")

    def __rmul__(self, o):
        return self._make(self._lift(o) * self._col, f"{self._name}_mul", None)

    def __truediv__(self, o):
        # int / int -> float64 always (blaze/expr/arithmetic.py:189-196);
        # Spark's `/` already returns double — matches.
        return self._binop(o, lambda a, b: a / b, f"{self._name}_div")

    def __rtruediv__(self, o):
        return self._make(self._lift(o) / self._col, f"{self._name}_div", None)

    def __floordiv__(self, o):
        # int // int keeps max-width integer (blaze/expr/arithmetic.py:199-210);
        # reference SQL lowers to floor(a/b) cast back (blaze/compute/sql.py:459-470)
        other_dt = (o.dtype if isinstance(o, ColExpr)
                    else self._scalar_dtype(o))
        out = F.floor(self._col / self._lift(o))
        if _s.is_integral(self.dtype) and (other_dt is None or _s.is_integral(other_dt)):
            tgt = self.dtype if other_dt is None else _s.max_integral(self.dtype, other_dt)
            out = out.cast(tgt)
        elif _s.is_floating(self.dtype) or (other_dt is not None
                                            and _s.is_floating(other_dt)):
            # float // x stays float (NumPy convention; F.floor yields long)
            out = out.cast(T.DoubleType())
        return self._make(out, f"{self._name}_floordiv", None)

    def __mod__(self, o):
        # string % args = Interp/format (blaze/expr/arithmetic.py:223-235);
        # the column IS the printf format, args fill the placeholders
        if _s.is_string(self.dtype):
            args = o if isinstance(o, (list, tuple)) else [o]
            return self._make(
                F.call_function("printf", self._col,
                                *[self._lift(a) for a in args]),
                f"{self._name}_interp", T.StringType())
        return self._binop(o, lambda a, b: a % b, f"{self._name}_mod")

    def __pow__(self, o):
        return self._binop(o, lambda a, b: a ** b, f"{self._name}_pow")

    def __neg__(self):
        return self._make(-self._col, f"{self._name}_neg", self.dtype)

    # -- comparisons / boolean (blaze/expr/arithmetic.py:345-410) ----------
    def _cmp(self, o, fn, name):
        if isinstance(o, ColExpr):
            _s.check_comparable(self.dtype, o.dtype)
        out = self._make(fn(self._col, self._lift(o)), name, T.BooleanType())
        out._tree = _binop_tree(name, self, o)
        return out

    def __eq__(self, o):  # type: ignore[override]
        return self._cmp(o, lambda a, b: a == b, "eq")

    def __ne__(self, o):  # type: ignore[override]
        return self._cmp(o, lambda a, b: a != b, "ne")

    def __lt__(self, o):
        return self._cmp(o, lambda a, b: a < b, "lt")

    def __le__(self, o):
        return self._cmp(o, lambda a, b: a <= b, "le")

    def __gt__(self, o):
        return self._cmp(o, lambda a, b: a > b, "gt")

    def __ge__(self, o):
        return self._cmp(o, lambda a, b: a >= b, "ge")

    def __and__(self, o):
        out = self._make(self._col & self._lift(o), "and", T.BooleanType())
        out._tree = _binop_tree("and", self, o)
        return out

    def __or__(self, o):
        out = self._make(self._col | self._lift(o), "or", T.BooleanType())
        out._tree = _binop_tree("or", self, o)
        return out

    def __invert__(self):
        return self._make(~self._col, "not", T.BooleanType())

    # -- null / nan handling (NumPy-flavored; SURVEY.md §4.4) --------------
    def isnan(self):
        return self._make(F.isnan(self._col), "isnan", T.BooleanType())

    def notnull(self):
        return self._make(self._col.isNotNull(), "notnull", T.BooleanType())

    def isnull(self):
        return self._make(self._col.isNull(), "isnull", T.BooleanType())

    # -- membership (reference IsIn: blaze/expr/collections.py:868-911) ----
    def isin(self, values: Iterable[Any]):
        """Membership test.  Small sets lower to Catalyst ``In`` (codegen'd
        hash-set probe).  Above ``_ISIN_SEMI_THRESHOLD`` values the
        reference flags an In-literal cliff (SURVEY §2.3): a 10^6-branch
        In bloats the plan, breaks codegen, and on classic PySpark costs
        one py4j literal call per value just to build.  Large sets carry
        a marker instead; when the predicate is used directly as a
        selection, the Table lowers it to a broadcast LEFT SEMI join
        against the value set — the scalable form (hashed build side, no
        plan bloat) — and the column form is never constructed.
        Composed predicates (``big_isin & other``) force the LAZY column
        form: ``array_contains`` over one array literal built in a
        single JVM call (``from_json`` of the serialized value list —
        measured 1000x cheaper to construct than per-value ``F.lit``),
        still compact in the plan and correct."""
        vals = list(values)
        if len(vals) > _ISIN_SEMI_THRESHOLD:
            src = self._col
            out = ColExpr(
                self._table,
                _LazyCol(lambda: F.array_contains(_bulk_array_lit(vals),
                                                  src)),
                "isin", T.BooleanType())
            out._isin_semi = (src, vals)
            return out
        out = self._make(self._col.isin(vals), "isin", T.BooleanType())
        # small literal sets serialize (interop._expr replays the
        # 'isin' node); the large-set semi-join marker stays local-only
        # — a >10k-value list has no business riding the wire as a
        # literal (register the value set as a dataset and semi-join)
        if self._tree is not None and all(
                isinstance(v, (bool, int, float, str, type(None)))
                for v in vals):
            out._tree = {"op": "isin", "args": [self._tree, vals]}
        return out

    # -- glob-style like (blaze/expr/strings.py:57-83; translated to SQL
    #    %/_ at blaze/compute/sql.py:1276-1278) ---------------------------
    def like(self, pattern: str):
        sql_pat = pattern.replace("*", "%").replace("?", "_")
        return self._make(self._col.like(sql_pat), "like", T.BooleanType())

    # -- casting (Coerce: blaze/expr/expressions.py:794-818) ---------------
    def coerce(self, to: str | T.DataType):
        """Runtime type CONVERSION — a Cast lands in the physical plan."""
        dt = to if isinstance(to, T.DataType) else _parse_dtype(to)
        return self._make(self._col.cast(dt), self._name, dt)

    def cast(self, to: str | T.DataType):
        """Metadata-only type RE-DECLARATION (reference Cast,
        blaze/expr/expressions.py:821-853: "this is only an expression time
        operation").  Overrides the dtype the engine tracks for eager
        checks/accessor gating — no conversion, no Cast node in the plan.
        Use :meth:`coerce` to actually convert values.

        .. versionchanged:: round 2
           ``cast`` previously ALIASED :meth:`coerce` (runtime conversion).
           It now matches the reference's expression-time semantics; code
           that relied on ``.cast()`` converting values must call
           ``.coerce()`` instead (see CHANGELOG.md)."""
        dt = to if isinstance(to, T.DataType) else _parse_dtype(to)
        return self._make(self._col, self._name, dt)

    def label(self, name: str):
        """Rename (Label: blaze/expr/expressions.py:574-612)."""
        out = self._make(self._col.alias(name), name, self.__dtype)
        out._tree = self._tree  # a label renames; the expression is the same
        return out

    # -- sort direction (engine-level SortKey; see class docstring) --------
    def asc(self, na_position: str | None = None) -> "SortKey":
        return SortKey(self._col, True, na_position)

    def desc(self, na_position: str | None = None) -> "SortKey":
        return SortKey(self._col, False, na_position)

    def fillna(self, value: Any):
        return self._make(F.coalesce(self._col, F.lit(value)), self._name, None)

    # -- per-element Python map (blaze/expr/expressions.py:695-751) --------
    def map(self, fn: Callable, schema: str | T.DataType):
        """Arbitrary per-element Python function, user-supplied result type
        required (as in the reference).  Lowered to an Arrow-batched pandas
        UDF, NOT a row-at-a-time Python UDF — ~10-100x faster at scale."""
        dt = schema if isinstance(schema, T.DataType) else _parse_dtype(schema)
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def _mapped(s):
            return s.map(fn)

        # real (non-stringified) annotations so pyspark infers SERIES->SERIES
        _mapped.__annotations__ = {"s": pd.Series, "return": pd.Series}
        udf = pandas_udf(_mapped, dt)
        return self._make(udf(self._col), f"{self._name}_map", dt)

    # -- shift / lag (blaze/expr/collections.py:914-950) -------------------
    def shift(self, n: int, order_by, partition_by=None):
        """lag/lead by ``n``.  The reference relies on implicit row order
        (pandas data.shift — blaze/compute/pandas.py:866-868); Spark has no
        row order, so an explicit ``order_by`` is REQUIRED (SURVEY.md §4.4).
        Lowered to F.lag/F.lead over a Window — same as the reference's SQL
        backend (blaze/compute/sql.py:1667-1669)."""
        w = Window.orderBy(*_cols(order_by))
        if partition_by is not None:
            w = Window.partitionBy(*_cols(partition_by)).orderBy(*_cols(order_by))
        fn = F.lag(self._col, n) if n > 0 else F.lead(self._col, -n)
        out = self._make(fn.over(w), f"{self._name}_shift", self.dtype)

        def _str_keys(v):
            if v is None:
                return None
            ks = list(v) if isinstance(v, (list, tuple)) else [v]
            return ks if all(isinstance(k, str) for k in ks) else False
        ob, pb = _str_keys(order_by), _str_keys(partition_by)
        if self._tree is not None and ob not in (False, None) \
                and pb is not False:
            out._tree = {"op": "shift", "args": [self._tree, n, ob, pb]}
        return out

    # -- reductions (blaze/expr/reductions.py) -----------------------------
    def _red(self, agg: Column, op: str, name: str | None = None) -> Reduction:
        """Build a Reduction, recording its tree-dialect form when this
        expression is itself serializable (server round-trip parity)."""
        tree = ({"op": op, "args": [self._tree]}
                if self._tree is not None else None)
        return Reduction(self._table, agg, name or f"{self._name}_{op}",
                         tree=tree)

    def sum(self):
        # widens int32 -> int64 (blaze/expr/reductions.py:111-113); Spark
        # F.sum already returns LongType for integrals — matches.
        return self._red(F.sum(self._col), "sum")

    def min(self):
        return self._red(F.min(self._col), "min")

    def max(self):
        return self._red(F.max(self._col), "max")

    def mean(self):
        # mean -> float64 (blaze/expr/reductions.py:124-138)
        return self._red(F.avg(self._col), "mean")

    def var(self, unbiased: bool = False):
        # DEFAULT ddof=0 (NumPy convention, NOT Spark's var_samp default;
        # blaze/expr/reductions.py:138-191).  ddof=1 serializes as a
        # DISTINCT op name ("var_samp", r9) rather than an extra field on
        # "var": a server that predates the op then fails LOUDLY with
        # "unknown reduction" instead of silently ignoring an unknown
        # field and returning the population variance (version-skew
        # review finding).
        fn = F.var_samp if unbiased else F.var_pop
        r = self._red(fn(self._col), "var")
        if unbiased and r._tree is not None:
            r._tree = {**r._tree, "op": "var_samp"}
        return r

    def std(self, unbiased: bool = False):
        fn = F.stddev_samp if unbiased else F.stddev_pop
        r = self._red(fn(self._col), "std")
        if unbiased and r._tree is not None:
            r._tree = {**r._tree, "op": "std_samp"}
        return r

    def count(self):
        # NON-NULL count (blaze/expr/reductions.py:194-197)
        return self._red(F.count(self._col), "count")

    def nunique(self):
        # exact distinct (blaze/expr/reductions.py:200-201); Catalyst plans
        # this as expand+two-phase agg — scales.  approx_nunique is the
        # opt-in sketch fast path (extension, not in reference).
        return self._red(F.countDistinct(self._col), "nunique")

    def approx_nunique(self, rsd: float = 0.05):
        return Reduction(self._table, F.approx_count_distinct(self._col, rsd),
                         f"{self._name}_approx_nunique")

    def percentile(self, q: float):
        """Exact percentile (interpolated, matching DuckDB quantile_cont)
        — first-class reduction form of the ``F.percentile`` lowering
        the registry queries use, usable inside ``by``/``summary`` and
        serializable to the wire dialect (r8)."""
        if not 0.0 <= q <= 1.0:
            raise ValueError("percentile q must be in [0, 1]")
        tree = ({"op": "percentile", "args": [self._tree, float(q)]}
                if self._tree is not None else None)
        return Reduction(self._table, F.percentile(self._col, F.lit(q)),
                         f"{self._name}_p{int(q * 100)}", tree=tree)

    def nelements(self):
        # counts rows INCLUDING nulls (blaze/expr/reductions.py:204-219)
        return self._red(F.count(F.lit(1)), "nelements", "nelements")

    def any(self):
        # reference SQL rewrites any -> sum(int)!=0 (blaze/compute/sql.py:
        # 1488-1509); Spark has native bool_or — cleaner, same semantics.
        return self._red(F.bool_or(self._col), "any")

    def all(self):
        return self._red(F.bool_and(self._col), "all")

    def truncate(self, *args, **kwargs):
        """Dtype-dispatched truncate (reference: numeric
        blaze/expr/math.py:123-135 ``x.truncate(10) == 120``; datetime
        blaze/expr/datetime.py:221-360 ``ts.truncate(minutes=10)``)."""
        if _s.is_datetime(self.dtype):
            return self.dt.truncate(*args, **kwargs)
        from .functions.math import truncate as _trunc

        return _trunc(self, *args, **kwargs)

    def vnorm(self, ord: int = 2):
        # vector p-norm composed of primitives (blaze/expr/reductions.py:299-314)
        p = float(ord)
        return Reduction(
            self._table,
            F.pow(F.sum(F.pow(F.abs(self._col), F.lit(p))), F.lit(1.0 / p)),
            f"{self._name}_vnorm",
        )

    # -- FK hop: field access through a foreign-key column -------------------
    def __getattr__(self, name: str):
        if name.startswith("_"):
            raise AttributeError(name)
        fks = getattr(self._table, "_fks", {})
        if self._name in fks:
            ref, _ = fks[self._name]
            if name in ref.columns:
                joined = self._table.auto_join(f"{self._name}.{name}")
                return joined[name]
        raise AttributeError(name)

    # -- accessors ----------------------------------------------------------
    @property
    def str(self):
        from .functions.strings import StrAccessor
        return StrAccessor(self)

    @property
    def dt(self):
        # pandas uses one '.dt' name for datetime AND timedelta accessors;
        # so does the reference (blaze/expr/datetime.py:360-394) — dispatch
        # on dtype: datetime -> DtAccessor, interval -> TimedeltaAccessor
        from . import schema as _s
        from .functions.datetime import DtAccessor, TimedeltaAccessor
        if _s.is_interval(self.dtype):
            return TimedeltaAccessor(self)
        return DtAccessor(self)

    @property
    def arr(self):
        from .functions.arrays import ArrayAccessor
        return ArrayAccessor(self)

    @property
    def ndim(self) -> int:
        """A column is a 1-D collection (reference Field.ndim via
        blaze/expr/expressions.py:973-980)."""
        return 1

    @property
    def shape(self) -> tuple:
        return ("var",)

    @property
    def dshape(self) -> str:
        return f"var * {self.dtype.simpleString()}"

    # -- 1-D collection ops (reference: every expression is a collection —
    #    Field[Selection] at blaze/expr/expressions.py:518-571; head/
    #    distinct/sort lower through the 1-column table) -------------------
    def __getitem__(self, key):
        """1-D selection: ``t.amount[t.amount > 100]`` filters this
        column by a boolean predicate sharing its table ancestry."""
        if not isinstance(key, ColExpr):
            raise TypeError(
                "column selection expects a boolean ColExpr predicate "
                "(e.g. t.amount[t.amount > 0]); use .arr for array "
                "element access")
        if not _s.is_boolean(key.dtype):
            raise TypeError("selection predicate must be boolean")
        if not self._table._shares_ancestor(key._table):
            raise TypeError(
                "selection predicate is built from a different table; "
                "predicate and column must share a common ancestor")
        # route through Table.__getitem__ so the selection records its
        # wire node (a remote column filter stays remote-computable, r8)
        filtered = self._table[key]
        return ColExpr(filtered, self._col, self._name, self.dtype,
                       tree=self._tree)

    def __iter__(self):
        # reference parity (blaze/expr/expressions.py:209-214): iterating
        # a lazy expression is an error; iterate the computed result
        raise TypeError(
            "iteration over a lazy column expression is not supported; "
            "iterate the computed result: iter(col.compute())")

    def head(self, n: int = 10) -> "ColExpr":
        """First ``n`` values (in the table's current order)."""
        limited = self._table.head(n)
        return ColExpr(limited, self._col, self._name, self.dtype,
                       tree=self._tree)

    def distinct(self) -> "ColExpr":
        """Distinct values of this column (1-D distinct,
        blaze/expr/collections.py:176-252)."""
        tb = self.to_table().distinct()
        return ColExpr(tb, F.col(self._name), self._name, self.dtype,
                       tree={"op": "field", "args": [self._name]})

    def sort(self, ascending: bool = True) -> "ColExpr":
        """This column's values sorted (1-D sort,
        blaze/expr/collections.py:80-173)."""
        tb = self.to_table().sort(self._name, ascending=ascending)
        return ColExpr(tb, F.col(self._name), self._name, self.dtype,
                       tree={"op": "field", "args": [self._name]})

    # -- interactive --------------------------------------------------------
    def to_table(self) -> "Table":
        out = _derived(
            self._table.df.select(self._col.alias(self._name)),
            self._table)
        # one-column projection serializes as a single-entry merge, so a
        # remote column's compute()/distinct()/sort()/peek() run
        # server-side instead of raising (or silently reading the empty
        # schema-only frame)
        if self._table._tree is not None and self._tree is not None:
            out._tree = {"op": "merge",
                         "args": [self._table._tree,
                                  [(self._name, self._tree)]]}
        return out

    def peek(self, n: int = 10):
        return self.to_table().peek(n)

    def compute(self):
        return self.to_table().compute()

    def __hash__(self):  # __eq__ overridden for expressions
        return id(self)

    def __bool__(self):
        raise TypeError(
            "ColExpr truth value is ambiguous (lazy expression); "
            "use & | ~ for boolean logic"
        )


_OPNAME = {"add": "add", "sub": "sub", "mul": "mul", "div": "div",
           "floordiv": "floordiv", "mod": "mod", "pow": "pow"}


def _value_tree(v):
    """Tree-dialect form of a transform value: a serializable ColExpr's
    own tree, or a lit node for plain scalars; None = not serializable."""
    if isinstance(v, ColExpr):
        return v._tree
    if isinstance(v, (int, float, str, bool)):
        return {"op": "lit", "args": [v]}
    return None


def _binop_tree(op, left, right):
    if op is None or left._tree is None:
        return None
    if isinstance(right, ColExpr):
        if right._tree is None:
            return None
        rt = right._tree
    elif isinstance(right, (int, float, str, bool)):
        rt = right
    else:
        return None
    return {"op": op, "args": [left._tree, rt]}


def _tree_arg(v):
    """Encode one call argument for the tree dialect.  Returns
    ``(ok, encoded)``: a serializable ColExpr encodes as its own subtree
    (a dict — scalars are never dicts, so replay can tell them apart),
    JSON scalars and flat lists/tuples of them pass through; anything
    else (a Column, a callable, a non-serializable expression) returns
    ``(False, None)`` and the caller skips recording."""
    if isinstance(v, ColExpr):
        return (v._tree is not None), v._tree
    if v is None or isinstance(v, (str, int, float, bool)):
        return True, v
    if isinstance(v, (list, tuple)):
        enc = []
        for x in v:
            if isinstance(x, (ColExpr, dict, list, tuple)):
                return False, None
            ok, e = _tree_arg(x)
            if not ok:
                return False, None
            enc.append(e)
        return True, enc
    return False, None


def _record_call_tree(out, family, name, src, args, kwargs):
    """Stamp ``out._tree`` with a generic method-call node
    ``{'op': 'family.name', 'args': [src_tree, [pos...], {kw...}]}``
    when the source expression is serializable and every extra argument
    encodes (reference parity: ``to_tree`` serializes EVERY expression
    class generically — blaze/server/server.py:411-477 walks ``_hashargs``
    — so ``.str``/``.dt``/math calls travel to the server; here the same
    is achieved with one canonical call node per public accessor method)."""
    if not isinstance(out, ColExpr) or not isinstance(src, ColExpr) \
            or src._tree is None:
        return out
    pos, kw = [], {}
    for a in args:
        ok, e = _tree_arg(a)
        if not ok:
            return out
        pos.append(e)
    for k, a in kwargs.items():
        ok, e = _tree_arg(a)
        if not ok:
            return out
        kw[k] = e
    out._tree = {"op": f"{family}.{name}", "args": [src._tree, pos, kw]}
    return out


def record_accessor_trees(family):
    """Class decorator: wrap every public method of a ``.str``/``.dt``
    accessor so its result records the canonical call node.  The accessor
    classes stay plain Column-expression builders; serialization is an
    orthogonal layer (and the wrapped-method set doubles as the server's
    replay whitelist — interop builds it from the same classes)."""
    import functools

    def apply(cls):
        for nm, fn in list(vars(cls).items()):
            if nm.startswith("_") or not callable(fn):
                continue

            def mk(nm, fn):
                @functools.wraps(fn)
                def wrapped(self, *args, **kwargs):
                    out = fn(self, *args, **kwargs)
                    return _record_call_tree(out, family, nm, self._e,
                                             args, kwargs)
                return wrapped
            setattr(cls, nm, mk(nm, fn))
        return cls
    return apply


class Reduction:
    """A 0-D (scalar) expression: the result of a full-column reduction
    (reference: blaze/expr/reductions.py:26-100).  Usable standalone
    (``.compute()`` triggers a Spark job) or as a named aggregate inside
    ``by``/``summary``.  Partial/final decomposition (reference split()
    machinery, blaze/expr/split.py) is Catalyst's own physical planning —
    partial agg -> shuffle -> final HashAggregate, no code here."""

    def __init__(self, table: "Table", agg: Column, name: str,
                 tree: dict | None = None):
        self._table = table
        self._agg = agg
        self._name = name
        # serialized form for to_tree (None = not serializable)
        self._tree = tree

    @property
    def col(self) -> Column:
        return self._agg

    @property
    def name(self) -> str:
        return self._name

    def label(self, name: str) -> "Reduction":
        return Reduction(self._table, self._agg, name, tree=self._tree)

    def _remote_client(self):
        return getattr(self._table, "_client", None)

    def _summary_tree(self) -> dict:
        if self._tree is None or self._table._tree is None:
            raise ValueError(
                "this reduction is not serializable to the tree dialect — "
                "it cannot run on the server.  Compute the serializable "
                "prefix remotely, then reduce locally on the result.")
        return {"op": "summary",
                "args": [self._table._tree, {self._name: self._tree}]}

    def to_table(self) -> "Table":
        out = _derived(self._table.df.agg(self._agg.alias(self._name)),
                       self._table)
        if self._tree is not None and self._table._tree is not None:
            out._tree = self._summary_tree()
        return out

    def compute(self):
        # a remote table's LOCAL frame is empty — aggregate SERVER-side
        # via a one-entry summary tree (the RemoteTable.__len__ pattern),
        # never silently over no rows
        client = self._remote_client()
        if client is not None:
            return client.compute_tree(self._summary_tree()).iloc[0, 0]
        return self._table.df.agg(self._agg.alias(self._name)).collect()[0][0]

    def __repr__(self):
        return f"<Reduction {self._name}>"

    def __int__(self):
        return int(self.compute())

    def __float__(self):
        return float(self.compute())

    # -- scalar expression algebra (reference: reductions are 0-D exprs
    #    composable with arithmetic, e.g. ``amount.sum() / amount.count()``
    #    — blaze/expr/reductions.py + arithmetic dispatch).  Both sides
    #    must reduce over the SAME underlying plan so the combination
    #    stays ONE aggregation pass. -------------------------------------
    def _combine(self, other, fn, name: str, swapped: bool = False) -> "Reduction":
        # wire node (r8): scalar algebra over reductions serializes as
        # plain arith nodes whose operands are reduction subtrees/scalars
        # (interop._red_expr replays them) — rsub/rdiv record with the
        # operands swapped so only canonical ops exist on the wire
        opname = _OPNAME.get(name.rsplit("_", 1)[-1].lstrip("r"))
        if isinstance(other, Reduction):
            if other._table.df is not self._table.df:
                raise TypeError(
                    "cannot combine reductions over different tables in "
                    "one scalar expression; compute them separately")
            tree = None
            if opname and self._tree is not None and other._tree is not None:
                pair = ([other._tree, self._tree] if swapped
                        else [self._tree, other._tree])
                tree = {"op": opname, "args": pair}
            return Reduction(self._table, fn(self._agg, other._agg), name,
                             tree=tree)
        if isinstance(other, (int, float)) and not isinstance(other, bool):
            tree = None
            if opname and self._tree is not None:
                pair = ([other, self._tree] if swapped
                        else [self._tree, other])
                tree = {"op": opname, "args": pair}
            return Reduction(self._table, fn(self._agg, F.lit(other)), name,
                             tree=tree)
        return NotImplemented

    def __add__(self, o):
        return self._combine(o, lambda a, b: a + b, f"{self._name}_add")

    __radd__ = __add__

    def __sub__(self, o):
        return self._combine(o, lambda a, b: a - b, f"{self._name}_sub")

    def __rsub__(self, o):
        return self._combine(o, lambda a, b: b - a, f"{self._name}_rsub",
                             swapped=True)

    def __mul__(self, o):
        return self._combine(o, lambda a, b: a * b, f"{self._name}_mul")

    __rmul__ = __mul__

    def __truediv__(self, o):
        # NumPy promotion: / always lands in float64 (schema.py rules)
        return self._combine(
            o, lambda a, b: a.cast("double") / b.cast("double"),
            f"{self._name}_div")

    def __rtruediv__(self, o):
        return self._combine(
            o, lambda a, b: b.cast("double") / a.cast("double"),
            f"{self._name}_rdiv", swapped=True)

    def __neg__(self):
        return Reduction(self._table, -self._agg, f"{self._name}_neg")


class Table:
    """A lazy tabular collection — dshape ``var * {f1: t1, ...}``
    (reference Symbol/BoundSymbol: blaze/expr/expressions.py:310-338,
    blaze/expr/literal.py:47-123).  Thin immutable wrapper over a
    ``pyspark.sql.DataFrame`` plan; every method returns a new Table.
    Nothing executes until ``compute``/``peek``/``__len__``/``into``."""

    _tokens = __import__("itertools").count()

    def __init__(self, df: DataFrame, name: str | None = None,
                 fks: dict | None = None):
        self._df = df
        self._name = name or "table"
        # lineage: unique tokens of this table + every Table it was derived
        # from.  Powers the reference's shared-ancestor validation on
        # Selection/Merge (blaze/expr/expressions.py:518-571 "predicate must
        # share a common subexpression") — fails fast with a clear message
        # instead of a confusing Spark analysis error.
        self._token = next(Table._tokens)
        self._lineage: frozenset = frozenset((self._token,))
        # serialized op tree for to_tree (None = not serializable); leaves
        # are set by sources.data(); ops recorded by the methods below
        self._tree: dict | None = None
        # foreign-key registry: col -> (ref_table, ref_key).  The analogue
        # of the reference's Map measure type (blaze/expr/collections.py:
        # 720-721): field access through a FK auto-joins the referenced
        # table (blaze/expr/expressions.py:188-193,236-244; SQL lowering
        # blaze/compute/sql.py:272-276).
        self._fks: dict = fks or {}

    # -- metadata -----------------------------------------------------------
    @property
    def df(self) -> DataFrame:
        return self._df

    def _new(self, df: DataFrame) -> "Table":
        """Subclass-preserving constructor (StreamTable ops stay
        streaming); the derived frame keeps this table's owned caches."""
        t = type(self)(df, self._name)
        t._fks = dict(self._fks)
        t._lineage = self._lineage | {t._token}
        return carry(t, self)

    def _shares_ancestor(self, other: "Table") -> bool:
        return bool(self._lineage & other._lineage)

    # -- foreign keys (Map type: auto-join through a FK column) -------------
    def with_fk(self, col: str, ref: "Table", ref_key: str) -> "Table":
        """Declare ``col`` a foreign key into ``ref[ref_key]`` — the engine's
        version of the reference's Map measure.  Enables ``auto_join`` and
        attribute access through the key column."""
        if col not in self.columns:
            raise KeyError(col)
        if ref_key not in ref.columns:
            raise KeyError(ref_key)
        sc = getattr(self, "_client", None)
        rc = getattr(ref, "_client", None)
        same_server = (sc is rc) or (
            sc is not None and rc is not None
            and getattr(sc, "url", None) == getattr(rc, "url", None))
        if (sc is not None or rc is not None) and not same_server:
            # one side remote (or two servers): auto_join would left-join
            # a real frame against an empty schema-only frame and compute
            # silently-null dim fields — the r8 silent-empty bug class
            raise TypeError(
                "with_fk cannot mix a remote (blaze://) table with a "
                "local table or a table from a different server: the "
                "remote side holds no local rows.  Register both tables "
                "on the same server, or compute() the remote one first.")
        t = self._new(self._df)
        t._fks[col] = (ref, ref_key)
        if self._tree is not None and getattr(ref, "_tree", None) is not None:
            # FK registration rides the wire (r9, VERDICT r8 missing #1):
            # the reference lowers Field-through-Map server-side via its
            # SQL backend (blaze/compute/sql.py:272-276) — here the
            # registry entry serializes as a node embedding the ref tree
            t._tree = {"op": "with_fk",
                       "args": [self._tree, col, ref._tree, ref_key]}
        else:
            t._tree = None
        return t

    def auto_join(self, *paths: str) -> "Table":
        """Resolve ``"fk_col.ref_field"`` paths by broadcast-joining the
        referenced dimension tables (dimensions broadcast: at 100 TB the
        fact side never shuffles for a FK hop).  Adds the referenced fields
        as columns."""
        df = self._df
        joined: set[str] = set()
        adds: list[tuple[str, str]] = []
        for p in paths:
            fk_col, _, field = p.partition(".")
            if fk_col not in self._fks:
                raise KeyError(f"no foreign key declared on {fk_col}")
            ref, ref_key = self._fks[fk_col]
            if fk_col not in joined:
                dim = ref.df.selectExpr(
                    f"{_quote(ref_key)} AS {_quote(f'__fk_{fk_col}')}",
                    *[_quote(c) for c in ref.columns if c != ref_key])
                df = df.join(F.broadcast(dim),
                             df[fk_col] == dim[f"__fk_{fk_col}"], "left") \
                    .drop(f"__fk_{fk_col}")
                joined.add(fk_col)
            adds.append((fk_col, field))
        keep = list(self.columns) + [f for _, f in adds]
        out = self._new(df.selectExpr(*map(_quote, dict.fromkeys(keep))))
        if self._tree is not None:
            # the child tree carries the with_fk registration nodes, so
            # the whole hop replays server-side (r9)
            out._tree = {"op": "auto_join", "args": [self._tree, list(paths)]}
        return out

    @property
    def schema(self) -> T.StructType:
        return self._df.schema

    @property
    def fields(self) -> list[str]:
        return list(self._df.columns)

    columns = fields

    @property
    def dshape(self) -> str:
        """datashape-style repr: ``var * {name: string, amount: int64}``."""
        inner = ", ".join(f"{f.name}: {f.dataType.simpleString()}"
                          for f in self._df.schema.fields)
        return "var * {" + inner + "}"

    @property
    def ndim(self) -> int:
        """Tabular collections are 1-D (reference Expr.ndim,
        blaze/expr/expressions.py:736-739 — ndim of ``var * {...}``)."""
        return 1

    @property
    def shape(self) -> tuple:
        """Symbolic shape ``("var",)`` (reference Expr.shape: a var-length
        collection's leading dimension is unknown without a count; use
        ``len(t)`` to materialize it)."""
        return ("var",)

    def __repr__(self):
        """Interactive repr: computes ``head(n+1)`` and renders through
        pandas, exactly the reference's ``expr_repr``/``repr_tables``
        (blaze/interactive.py:35-141) — a limited job (CollectLimit, no
        full scan), with a '...' marker when rows remain.  Disable with
        ``set_interactive_repr(False)`` (falls back to the schema line);
        any failure (streaming plan, stopped session) also falls back."""
        if _INTERACTIVE_REPR[0]:
            try:
                n = 10
                pdf = self._df.limit(n + 1).toPandas()
                s = repr(pdf.head(n))
                if len(pdf) > n:
                    s += "\n..."
                return s
            except Exception:
                pass
        return f"<Table {self._name}: {self.dshape}>"

    def __dir__(self):
        """Tab-completion over columns (reference Expr.__dir__,
        blaze/expr/expressions.py:216-226): standard attributes plus every
        column name that is a valid Python identifier."""
        base = list(super().__dir__())
        base.extend(c for c in self._df.columns if c.isidentifier())
        return sorted(set(base))

    # -- field access (blaze/expr/expressions.py:362-456) --------------------
    def __getattr__(self, name: str):
        if not name.startswith("_") and name in self._df.columns:
            return ColExpr(self, F.col(name), name,
                           self._df.schema[name].dataType,
                           tree={"op": "field", "args": [name]})
        raise AttributeError(name)

    def __getitem__(self, key):
        if isinstance(key, str):
            return self.__getattr__(key)
        if isinstance(key, (list, tuple)):
            # Projection (blaze/expr/expressions.py:403-456)
            out = self._new(self._df.select(*key))
            if self._tree is not None:
                out._tree = {"op": "projection",
                             "args": [self._tree, list(key)]}
            return out
        if isinstance(key, ColExpr):
            # Selection: predicate must be boolean AND derive from this
            # table (shared-ancestor rule, blaze/expr/expressions.py:518-571)
            if not _s.is_boolean(key.dtype):
                raise TypeError("selection predicate must be boolean")
            if not self._shares_ancestor(key._table):
                raise TypeError(
                    "selection predicate is built from a different table "
                    f"({key._table._name!r}); predicate and table must "
                    "share a common ancestor")
            semi = getattr(key, "_isin_semi", None)
            if semi is not None:
                # large-set isin used directly as the selection: lower to
                # a broadcast LEFT SEMI join — hashed build side, no
                # giant literal in the plan (reference IsIn cliff,
                # SURVEY §2.3).  Null keys never match, same as In.
                from functools import reduce

                from .sources import local_frame

                src_col, vals = semi
                # the value type row-list inference gives (int -> long,
                # float -> double, ...), declared for the literal frame
                vtype = reduce(T._merge_type, map(T._infer_type, vals))
                vdf = local_frame(
                    self._df.sparkSession, [(v,) for v in vals],
                    T.StructType([T.StructField("__isin_val", vtype)])
                ).dropDuplicates()
                out = self._new(self._df.join(
                    F.broadcast(vdf), src_col == F.col("__isin_val"),
                    "left_semi"))
                if self._tree is not None and key._tree is not None:
                    out._tree = {"op": "selection",
                                 "args": [self._tree, key._tree]}
                return out
            out = self._new(self._df.filter(key.col))
            if self._tree is not None and key._tree is not None:
                out._tree = {"op": "selection",
                             "args": [self._tree, key._tree]}
            return out
        if isinstance(key, slice):
            # Slice (blaze/expr/expressions.py:488-515): nondeterministic
            # without a preceding sort — same caveat the reference SQL
            # backend raises (blaze/compute/sql.py:1618-1652)
            start = key.start or 0
            if start < 0 or (key.stop is not None and key.stop < 0):
                # the reference's SQL backend raises the same refusal
                # (blaze/compute/sql.py slice lowering): negative indices
                # need the total length — a full count on unbounded data
                raise ValueError(
                    "negative slice indices are not supported on a lazy "
                    "table; sort descending and take head(n) instead")
            step = key.step
            if step is not None and step < 1:
                # the reference allows step "on many backends"; a negative
                # step means a full reverse — express it with sort(desc)
                raise ValueError(
                    f"slice step must be >= 1, got {step}; reverse with an "
                    "explicit descending sort instead")
            out = self._df.offset(start)
            if key.stop is not None:
                out = out.limit(key.stop - start)
            if step is not None and step != 1:
                # every step-th positionally.  Offset/limit already lower
                # to a single-stream GlobalLimit, so numbering that stream
                # by arrival order (monotonically_increasing_id preserves
                # it within the one partition) adds no extra exchange.
                pos = F.row_number().over(
                    Window.orderBy(F.monotonically_increasing_id()))
                out = (out.withColumn("__blaze_pos", pos)
                       .filter((F.col("__blaze_pos") - F.lit(1))
                               % F.lit(step) == 0)
                       .drop("__blaze_pos"))
            res = self._new(out)
            if self._tree is not None:
                res._tree = {"op": "slice",
                             "args": [self._tree, start, key.stop, step]}
            return res
        raise TypeError(f"cannot index Table with {type(key)}")

    # -- projection-family ops -----------------------------------------------
    def drop_field(self, *names: str):
        """Complement projection (blaze/expr/expressions.py:982-1023)."""
        out = self._new(self._df.drop(*names))
        if self._tree is not None:
            out._tree = {"op": "drop_field",
                         "args": [self._tree, list(names)]}
        return out

    def relabel(self, **renames: str):
        """Rename many (ReLabel: blaze/expr/expressions.py:615-692)."""
        out = self._new(self._df.withColumnsRenamed(renames))
        if self._tree is not None:
            out._tree = {"op": "relabel", "args": [self._tree, dict(renames)]}
        return out

    def transform(self, **cols):
        """Add/replace columns (blaze/expr/collections.py:503-537)."""
        out = self._new(
            self._df.withColumns({k: _as_col(v) for k, v in cols.items()}))
        if self._tree is not None:
            trees = {k: _value_tree(v) for k, v in cols.items()}
            if all(t is not None for t in trees.values()):
                out._tree = {"op": "transform", "args": [self._tree, trees]}
        return out

    # -- ordering / limiting (blaze/expr/collections.py:80-356) ---------------
    def sort(self, *keys, ascending=True, na_position: str = "last"):
        """Sort (reference Sort: single global ``ascending``,
        blaze/expr/collections.py:80-173).  Nulls go LAST by default —
        pandas semantics (the reference's pandas backend), not Spark's
        asc_nulls_first; pass ``na_position="first"`` for SQL order.
        EXTENSIONS: ``ascending`` may be a per-key list of bools, and a
        key may be a ``(col, "desc")`` tuple — mixed-direction sorts
        without a second pass."""
        if na_position not in ("first", "last"):
            raise ValueError("na_position must be 'first' or 'last'")
        # pandas idiom: sort_values(["a", "b"]) — a single LIST argument
        # is the key list.  Without this flatten the list fell through
        # _as_col to F.lit(<list>), a CONSTANT sort key: the data came
        # back unsorted with no error (caught by the r7 tree-dialect
        # fuzz).  A single TUPLE stays a (col, "desc") direction pair.
        if len(keys) == 1 and isinstance(keys[0], list):
            keys = tuple(keys[0])
        last = na_position == "last"

        def _dir(k, asc) -> Column:
            # engine-level direction wrapper: authoritative, no sniffing
            if isinstance(k, SortKey):
                return k.spark_order(last)
            if not isinstance(k, (ColExpr, Reduction, Column, str)):
                # anything else would fall through _as_col to F.lit — a
                # CONSTANT key that silently does not sort
                raise TypeError(
                    "sort key must be a column name/expression/SortKey "
                    f"or (key, 'desc') tuple, got {type(k).__name__}")
            c = _as_col(k)
            # a raw Column that is already a SortOrder (user called
            # F.col(x).desc()) keeps its explicit direction — re-wrapping
            # would nest SortOrder inside SortOrder, which Spark cannot
            # codegen.  Detected by expression class, not repr.
            if isinstance(k, Column) and _is_sort_order(c):
                return c
            if asc:
                return c.asc_nulls_last() if last else c.asc_nulls_first()
            return c.desc_nulls_last() if last else c.desc_nulls_first()

        if isinstance(ascending, (list, tuple)):
            if len(ascending) != len(keys):
                raise ValueError("ascending list must match keys")
            cols = [_dir(k, a) for k, a in zip(keys, ascending)]
        else:
            cols = []
            for k in keys:
                if isinstance(k, tuple):
                    c, d = k
                    cols.append(_dir(c, str(d).lower() != "desc"))
                else:
                    cols.append(_dir(k, ascending))
            if not cols:
                cols = [_dir(F.col(c), ascending) for c in self.columns]
        out = self._new(self._df.orderBy(*cols))
        out._tree = self._sort_tree(keys, ascending, na_position)
        return out

    def _sort_tree(self, keys, ascending, na_position):
        """Wire-tree for a sort, or None when not serializable.  Handles
        plain string keys, (key, 'desc') direction pairs (normalized to
        an ascending LIST — from_tree's sort already accepts one, r7),
        and a per-key ascending list.  na_position must be the default:
        the dialect has no slot for it, and replaying a 'first' sort as
        'last' would silently reorder nulls (r7 audit)."""
        if self._tree is None or na_position != "last":
            return None
        asc_list = (list(ascending)
                    if isinstance(ascending, (list, tuple)) else None)
        plain, dirs = [], []
        for i, k in enumerate(keys):
            if isinstance(k, tuple) and len(k) == 2 \
                    and isinstance(k[0], str):
                plain.append(k[0])
                dirs.append(str(k[1]).lower() != "desc")
            elif isinstance(k, str):
                if asc_list is not None:
                    d = asc_list[i] if i < len(asc_list) else None
                elif isinstance(ascending, bool):
                    d = ascending
                else:
                    return None
                plain.append(k)
                dirs.append(d)
            else:
                return None
        if not plain or not all(isinstance(d, bool) for d in dirs):
            return None
        if all(d == dirs[0] for d in dirs):
            return {"op": "sort", "args": [self._tree, plain, dirs[0]]}
        return {"op": "sort", "args": [self._tree, plain, dirs]}

    def head(self, n: int = 10):
        # with a preceding sort Catalyst plans TakeOrderedAndProject (top-k:
        # no global sort materialized) — exactly the scale-safe plan.
        out = self._new(self._df.limit(n))
        if self._tree is not None:
            out._tree = {"op": "head", "args": [self._tree, n]}
        return out

    def tail(self, n: int = 10, sort_keys=None, ascending: bool = True):
        """Last n.  Reference rewrite: invert sort -> head -> re-sort
        (blaze/compute/sql.py:1523-1546).  Requires explicit sort keys on an
        unordered engine."""
        if sort_keys is None:
            raise ValueError("tail on Spark requires explicit sort keys")
        keys = sort_keys if isinstance(sort_keys, (list, tuple)) else [sort_keys]
        cols = [_as_key_col(k, "tail sort key") for k in keys]
        if isinstance(ascending, (list, tuple)):
            if len(ascending) != len(cols):
                raise ValueError("ascending list must match sort_keys")
            asc = list(ascending)
        else:
            asc = [ascending] * len(cols)
        inv = [c.desc() if a else c.asc() for c, a in zip(cols, asc)]
        fwd = [c.asc() if a else c.desc() for c, a in zip(cols, asc)]
        out = self._new(self._df.orderBy(*inv).limit(n).orderBy(*fwd))
        if self._tree is not None and all(isinstance(k, str) for k in keys):
            out._tree = {"op": "tail",
                         "args": [self._tree, n, list(keys), asc]}
        return out

    def sample(self, frac: float | None = None, n: int | None = None,
               seed: int | None = None):
        """Random sample (blaze/expr/collections.py:319-356).  frac ->
        df.sample (scan-local, scale-free); exact-n -> order by rand, limit
        (reference SQL strategy blaze/compute/sql.py:1046-1052 — a top-k at
        scale, not a full sort)."""
        # seeded samples serialize (reference to_tree carries Sample —
        # the SERVER evaluates the same seeded plan; an unseeded sample
        # stays non-serializable, it has no stable wire meaning)
        tree = ({"op": "sample", "args": [self._tree, frac, n, seed]}
                if self._tree is not None and seed is not None else None)
        if frac is not None:
            out = self._new(self._df.sample(fraction=frac, seed=seed))
            out._tree = tree
            return out
        if n is not None:
            out = self._new(self._df.orderBy(F.rand(seed)).limit(n))
            out._tree = tree
            return out
        raise ValueError("sample needs frac or n")

    def sample_by(self, col: str, fractions: dict, seed: int | None = None):
        """Stratified sampling — per-stratum fractions (EXTENSION; the
        reference Sample is uniform only).  Scan-local, no shuffle."""
        out = self._new(self._df.sampleBy(col, fractions, seed))
        # strata encode as [key, frac] PAIRS (r9): JSON objects key by
        # string, but pair lists carry int/float/bool strata losslessly
        # too — only non-JSON-scalar keys stay non-serializable
        if self._tree is not None and seed is not None \
                and all(isinstance(k, (str, int, float, bool))
                        for k in fractions):
            out._tree = {"op": "sample_by",
                         "args": [self._tree, col,
                                  [[k, float(v)]
                                   for k, v in fractions.items()], seed]}
        return out

    def hash_sample(self, frac: float, on: str, salt: int = 42):
        """DETERMINISTIC sample keyed by a column: keep a row iff the
        first 8 hex chars of ``md5(on || '-' || salt)`` fall below
        ``frac`` of the hex space (string comparison — engine-portable,
        so the sample is oracle-checkable, unlike ``rand()``).

        Properties ``sample(frac)`` cannot give: reproducible across
        retries/re-runs/engines (a recomputed partition keeps the SAME
        rows — task-retry-safe lineage, the auditable-build requirement
        ``pipeline.apply_source_mix`` documents), and CONSISTENT by key —
        every row of the same key value is kept or dropped together, so
        sampling a fact table by its join key preserves joinability.
        Pure projection + pushable filter; no shuffle, no rand().
        """
        if not 0.0 <= frac <= 1.0:
            raise ValueError("frac must be in [0, 1]")
        tree = ({"op": "hash_sample", "args": [self._tree, frac, on, salt]}
                if self._tree is not None else None)
        if frac >= 1.0:
            # the hex threshold for 1.0 is 9 chars ("100000000"), which
            # string-compares BELOW letter-leading hashes — short-circuit
            out = self._new(self._df)
            out._tree = tree
            return out
        thr = format(int(frac * 16 ** 8), "08x")
        # NULL keys form their own key GROUP (coalesce to a sentinel):
        # they are kept or dropped together like any other key value,
        # instead of md5(NULL) -> NULL silently dropping them all and
        # biasing the sample against the null-key population
        key = F.md5(F.concat(
            F.coalesce(F.col(on).cast("string"), F.lit("__null__")),
            F.lit(f"-{salt}")))
        out = self._new(
            self._df.filter(F.substring(key, 1, 8) < F.lit(thr)))
        # serializable (interop from_tree accepts 'hash_sample'; ADVICE r7
        # — previously never recorded, so remote hash_sample always raised)
        out._tree = tree
        return out

    def distinct(self, on=None, keep_first_by=None):
        """Dedup (blaze/expr/collections.py:176-252).  ``on`` keeps first row
        per key — pandas semantics.  Spark's dropDuplicates keeps an
        ARBITRARY row, so deterministic keep-first needs an explicit order:
        row_number() window (SURVEY.md §4.4)."""
        if on is None:
            out = self._new(self._df.distinct())
            if self._tree is not None:
                out._tree = {"op": "distinct", "args": [self._tree]}
            return out
        on = on if isinstance(on, (list, tuple)) else [on]
        if keep_first_by is None:
            out = self._new(self._df.dropDuplicates(list(on)))
            if self._tree is not None and all(isinstance(c, str) for c in on):
                out._tree = {"op": "distinct", "args": [self._tree, list(on)]}
            return out
        order = keep_first_by if isinstance(keep_first_by, (list, tuple)) else [keep_first_by]
        # keep-first lowers to a min_by AGGREGATION, not a row_number
        # window: an aggregation gets map-side partial merge, so a hot key
        # (at 100 TB: one document duplicated across half the corpus, all
        # landing on one fingerprint) combines locally instead of routing
        # every copy to a single window task.  The struct comparison is
        # lexicographic over the order keys — identical row choice to
        # row_number()=1 whenever the order is total (add a unique
        # tiebreaker key for determinism under ties, as with any sort).
        # Direction: all-ascending -> min_by; all-descending (SortKey
        # .desc()) -> max_by.  Mixed directions or raw Column SortOrder
        # expressions cannot form a struct comparator — clear error
        # instead of an analysis exception / undefined order (ADVICE r5).
        directions = [k.ascending if isinstance(k, SortKey) else True
                      for k in order]
        for k in order:
            # min_by/max_by's struct comparator places NULL fields first
            # regardless — an explicit na_position that asks for the
            # other placement would silently keep a different row than
            # the documented row_number()-equivalent; refuse loudly
            if isinstance(k, SortKey) and k.na_position is not None:
                raise TypeError(
                    "keep_first_by does not honor na_position: the "
                    "min_by/max_by struct comparator has a fixed null "
                    "ordering.  Filter or coalesce() the null order keys "
                    "first, or use sort(...).distinct(on=...) when null "
                    "placement matters.")
        order_cols = []
        for k in order:
            c = k.col if isinstance(k, SortKey) \
                else _as_key_col(k, "keep_first_by order key")
            if _is_sort_order(c):
                raise TypeError(
                    "keep_first_by cannot take a raw Column sort order "
                    "(F.col(x).desc()): the min_by/max_by comparator is a "
                    "struct, which cannot hold SortOrder expressions.  "
                    "Pass the column itself for ascending, or the "
                    "engine's .desc() SortKey for descending.")
            order_cols.append(c)
        if all(directions):
            agg_fn = F.min_by
        elif not any(directions):
            agg_fn = F.max_by
        else:
            raise TypeError(
                "keep_first_by with MIXED sort directions is not "
                "supported by the aggregation lowering (the struct "
                "comparator is lexicographic in one direction).  Negate "
                "the descending numeric keys, or sort().distinct(on=...) "
                "for arbitrary orders.")
        row = agg_fn(
            F.struct(*[F.col(c) for c in self._df.columns]),
            F.struct(*order_cols))
        return self._new(
            self._df.groupBy(*[_as_key_col(c, "distinct key") for c in on])
            .agg(row.alias("__r")).select("__r.*"))

    # -- whole-table Python escape hatch (Apply:
    #    blaze/expr/expressions.py:754-791; splittable=True == per-partition,
    #    RDD mapPartitions in reference blaze/compute/spark.py:120-128) ------
    def apply(self, fn: Callable, schema: str | T.StructType,
              splittable: bool = True):
        """fn: pandas.DataFrame -> pandas.DataFrame per Arrow batch.
        splittable=True -> mapInPandas (distributed); False -> single
        partition first (whole-collection semantics)."""
        df = self._df if splittable else self._df.coalesce(1)

        def _gen(batches):
            for pdf in batches:
                out = fn(pdf)
                if out is not None and len(out):
                    yield out

        return self._new(df.mapInPandas(_gen, schema=schema))

    def grouped_apply(self, key_cols, fn: Callable,
                      schema: str | T.StructType) -> "Table":
        """Per-group pandas function (``applyInPandas``) — grouped-table
        UDF surface (the reference's By with a non-primitive apply falls
        back to per-group recompute, blaze/compute/python.py:581-585; here
        each group ships as one Arrow batch to one executor).

        Scale note: a single giant group becomes one task — pre-aggregate
        or salt if group sizes are unbounded."""
        keys = key_cols if isinstance(key_cols, (list, tuple)) else [key_cols]
        keys = [k.name if isinstance(k, ColExpr) else k for k in keys]
        return self._new(
            self._df.groupBy(*keys).applyInPandas(fn, schema=schema))

    # -- reshape (EXTENSIONS — the reference has no pivot/melt/explode;
    #    its arrays are numpy-only, blaze/expr/arrays.py:13-129) -------------
    def pivot(self, index, pivot_col, values, **reductions) -> "Table":
        """Wide pivot: ``groupBy(index).pivot(col, values).agg(...)``.

        ``values`` is REQUIRED: explicit pivot values keep the plan
        single-pass — without them Spark runs an eager ``distinct().collect``
        over ``pivot_col`` (an extra full scan) before it can even plan.
        At 100 TB that scan costs more than the pivot itself.

        Output columns: index cols, then ``<agg>_<value>`` per (reduction,
        pivot value) pair.  Physically a two-level aggregation: partial+final
        by (index, pivot) first, then a PivotFirst aggregate by index over
        the ALREADY-AGGREGATED rows — the second shuffle carries one row per
        (index, pivot value) group, never input rows.  One scan either way.
        """
        idx = index if isinstance(index, (list, tuple)) else [index]
        idx = [c.name if isinstance(c, ColExpr) else c for c in idx]
        pc = pivot_col.name if isinstance(pivot_col, ColExpr) else pivot_col
        vals = list(values)
        aggs = [r.col.alias(name) for name, r in reductions.items()]
        out = (self._df.groupBy(*[F.col(c) for c in idx])
               .pivot(pc, vals).agg(*aggs))
        if len(aggs) == 1:
            name = next(iter(reductions))
            ren = {str(v): f"{name}_{v}" for v in vals}
        else:
            ren = {f"{v}_{name}": f"{name}_{v}"
                   for v in vals for name in reductions}
        res = self._new(out.withColumnsRenamed(ren))
        if self._tree is not None:
            rts = {n: r._tree for n, r in reductions.items()
                   if isinstance(r, Reduction)}
            if len(rts) == len(reductions) and \
                    all(t is not None for t in rts.values()):
                res._tree = {"op": "pivot",
                             "args": [self._tree, idx, pc, vals, rts]}
        return res

    def unpivot(self, ids, value_cols, var_name: str = "variable",
                value_name: str = "value") -> "Table":
        """Long melt: ``df.unpivot`` — each row expands to
        ``len(value_cols)`` rows.  Narrow (scan-local) op: no shuffle; value
        columns are cast to their common promoted type by Spark."""
        ids = ids if isinstance(ids, (list, tuple)) else [ids]
        ids = [c.name if isinstance(c, ColExpr) else c for c in ids]
        vcs = value_cols if isinstance(value_cols, (list, tuple)) else [value_cols]
        vcs = [c.name if isinstance(c, ColExpr) else c for c in vcs]
        out = self._new(self._df.unpivot(ids, vcs, var_name, value_name))
        if self._tree is not None:
            out._tree = {"op": "unpivot",
                         "args": [self._tree, ids, vcs, var_name, value_name]}
        return out

    def explode(self, col, alias: str | None = None,
                pos: str | None = None, outer: bool = False) -> "Table":
        """Array column -> one row per element (``F.explode``).  ``pos``
        names an ordinality column (``posexplode``); ``outer`` keeps rows
        with empty/null arrays.  Narrow op — rows multiply within the scan
        partition, no shuffle; follow with ``repartition`` if the fan-out
        is large and the next stage is per-row heavy."""
        c = col.name if isinstance(col, ColExpr) else col
        a = alias or c
        if pos is not None:
            fn = F.posexplode_outer if outer else F.posexplode
            gen = fn(F.col(c)).alias(pos, a)
        else:
            fn = F.explode_outer if outer else F.explode
            gen = fn(F.col(c)).alias(a)
        keep = [x for x in self.fields if x != c]
        out = self._new(self._df.select(*keep, gen))
        if self._tree is not None:
            out._tree = {"op": "explode",
                         "args": [self._tree, c, a, pos, bool(outer)]}
        return out

    # -- reductions over whole table -----------------------------------------
    def count(self) -> "Reduction":
        return Reduction(self, F.count(F.lit(1)), "count")

    def nrows(self) -> int:
        return self._df.count()

    def __len__(self):
        # interactive __len__ -> count() (blaze/interactive.py:167-175)
        return self._df.count()

    # -- caching (CachedDataset: blaze/cached.py:17-58) ------------------------
    def cache(self):
        out = self._new(self._df.cache())
        out._tree = self._tree  # caching is semantics-preserving (r7)
        return out

    def persist(self, *a, **k):
        out = self._new(self._df.persist(*a, **k))
        out._tree = self._tree
        return out

    # -- execution / interop (odo/into: blaze/compute/core.py:370-382) ---------
    def compute(self):
        """Materialize to pandas (the reference's 'core' return type,
        blaze/compute/core.py:541-562)."""
        return self._df.toPandas()

    to_pandas = compute

    def peek(self, n: int = 10):
        """repr/peek computes head(n) only (blaze/interactive.py:35-141)."""
        return self._df.limit(n).toPandas()

    def intersect(self, other: "Table") -> "Table":
        """Set intersection — EXTENSION (absent in reference, SURVEY.md
        §2.6; Spark has it natively).  Derivation goes through
        ``_derived`` so the remote-mix guard fires (an intersect of a
        remote leaf with a local table must raise, not silently compute
        over no remote rows)."""
        out = _derived(self._df.intersect(other.df), self, other)
        out._name = self._name
        if self._tree is not None and other._tree is not None:
            out._tree = {"op": "intersect",
                         "args": [self._tree, other._tree]}
        return out

    def except_(self, other: "Table", keep_duplicates: bool = False) -> "Table":
        """Set difference — EXTENSION (SURVEY.md §2.6)."""
        fn = self._df.exceptAll if keep_duplicates else self._df.subtract
        out = _derived(fn(other.df), self, other)
        out._name = self._name
        if self._tree is not None and other._tree is not None:
            out._tree = {"op": "except",
                         "args": [self._tree, other._tree,
                                  bool(keep_duplicates)]}
        return out

    def __iter__(self):
        """Row iterator (reference __iter__ -> odo into iterator,
        blaze/compute/core.py:382).  Streams partitions to the driver one
        at a time — no full collect."""
        return self._df.toLocalIterator()

    def create_index(self, *cols, name: str | None = None):
        """Index creation (reference blaze/sql.py:11-73) — storage-layer
        concern with no Spark analogue on parquet; clustering/Z-ordering
        belongs to the table format (Delta/Iceberg).  Documented no-op."""
        raise NotImplementedError(
            "create_index is a storage-layer operation; use a table format "
            "with clustering (Delta ZORDER / Iceberg sort orders) instead")

    def into(self, target: str, fmt: str = "parquet", mode: str = "overwrite",
             partition_by: list[str] | str | None = None, **options):
        """Materialize to a sink (odo(expr, target) analogue).

        ``partition_by`` hive-partitions the output — the layout that makes
        downstream partition pruning free at scale."""
        w = self._df.write.format(fmt).mode(mode).options(**options)
        if partition_by:
            cols = ([partition_by] if isinstance(partition_by, str)
                    else list(partition_by))
            w = w.partitionBy(*cols)
        w.save(target)
        return target

    def into_table(self, name: str, bucket_by: list[str] | str | None = None,
                   num_buckets: int = 8, sort_by: list[str] | str | None = None,
                   mode: str = "overwrite", fmt: str = "parquet"):
        """Save as a catalog table, optionally bucketed.  Two tables
        bucketed on the same key join WITHOUT a shuffle — the pre-shuffled
        layout that turns a repeated 100 TB fact-fact join from O(data)
        network into a local zip."""
        w = self._df.write.format(fmt).mode(mode)
        if bucket_by:
            b = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
            w = w.bucketBy(num_buckets, *b)
            if sort_by:
                s = [sort_by] if isinstance(sort_by, str) else list(sort_by)
                w = w.sortBy(*s)
        w.saveAsTable(name)
        return name

    def explain(self, mode: str = "formatted"):
        return self._df.explain(mode)

    def hint(self, name: str, *params):
        """Planner hint passthrough (e.g. 'broadcast') — scale knob."""
        return self._new(self._df.hint(name, *params))

    def repartition(self, *args):
        return self._new(self._df.repartition(*args))


# ---------------------------------------------------------------------------
# free functions (the reference's expression constructors)
# ---------------------------------------------------------------------------

def _derived(df: DataFrame, *parents: Table) -> Table:
    """Build a Table whose lineage unions all parents' lineages (join,
    concat, merge outputs are descendants of every input).  Preserves the
    subclass when every parent agrees (a CachedTable's by()/join() result
    keeps consulting the shared memo; StreamTable results stay streaming) —
    mixed-parent derivations fall back to the plain Table."""
    cls = type(parents[0]) if parents and all(
        type(p) is type(parents[0]) for p in parents) else Table
    t = carry(cls(df), *parents)
    for p in parents:
        t._lineage = t._lineage | p._lineage
    # subclass-carried state: first parent wins (shared memo by design)
    if parents:
        xc = getattr(parents[0], "_xcache", None)
        if xc is not None:
            t._xcache = xc
        clients = {id(c) for c in
                   (getattr(p, "_client", None) for p in parents)
                   if c is not None}
        if clients:
            # a remote leaf's LOCAL frame is empty — deriving from a mix
            # of remote and local (or two different servers) would build
            # a plan that silently computes over no remote rows
            if len(clients) > 1 or any(
                    getattr(p, "_client", None) is None for p in parents):
                raise TypeError(
                    "cannot combine a remote (blaze://) table with a "
                    "local table or a table from a different server: "
                    "the remote side holds no local rows.  compute() "
                    "the remote expression first, or register the local "
                    "table on the same server and use its remote leaf.")
            t._client = getattr(parents[0], "_client", None)
    return t


def _unary_pass(t: Table, df: DataFrame, op: str, *tree_args) -> Table:
    """Build the result of a unary table→table pipeline pass (curation /
    text projections), preserving derivation metadata AND recording the
    pass's tree node.  ADVICE r7 (high): these passes used to build plain
    ``Table(df, name)`` objects, so applied to a RemoteTable they silently
    computed over the empty schema-only frame; routing through ``_derived``
    keeps the RemoteTable class + client, and the recorded node lets
    ``compute()`` run the pass server-side (interop.from_tree already
    accepts these ops)."""
    out = _derived(df, t)
    out._name = t._name
    if t._tree is not None:
        out._tree = {"op": op, "args": [t._tree, *tree_args]}
    return out


def _as_col(v) -> Column:
    if isinstance(v, ColExpr):
        return v.col
    if isinstance(v, Reduction):
        return v.col
    if isinstance(v, Column):
        return v
    if isinstance(v, str):
        return F.col(v)
    return F.lit(v)


def _as_key_col(v, what: str) -> Column:
    """Strict variant for KEY positions (sort/tail/distinct/keep-first):
    the ``F.lit`` fall-through that is right for scalar operands would
    here produce a CONSTANT key — an operation that silently does
    nothing (r7 fuzz catch on sort)."""
    if not isinstance(v, (ColExpr, Reduction, Column, str)):
        raise TypeError(f"{what} must be a column name or expression, "
                        f"got {type(v).__name__}")
    return _as_col(v)


def _cols(v) -> list[Column]:
    if isinstance(v, (list, tuple)):
        return [_as_col(x) for x in v]
    return [_as_col(v)]


def by(grouper, **reductions: Reduction) -> Table:
    """Split-apply-combine (reference By:
    blaze/expr/split_apply_combine.py:28-88).  Schema = grouper fields then
    apply fields.  Lowered to groupBy().agg() — Catalyst plans map-side
    partial aggregation + shuffle + final merge (the reference's split()
    algebra, blaze/expr/split.py:83-276, for free)."""
    if isinstance(grouper, ColExpr):
        table, gcols = grouper._table, [grouper.col.alias(grouper.name)]
    elif isinstance(grouper, (list, tuple)):
        table = grouper[0]._table
        gcols = [g.col.alias(g.name) for g in grouper]
    elif isinstance(grouper, Table):
        table, gcols = grouper, [F.col(c) for c in grouper.columns]
    else:
        raise TypeError("grouper must be ColExpr, list thereof, or Table")
    aggs = [r.col.alias(name) for name, r in reductions.items()]
    out = _derived(table.df.groupBy(*gcols).agg(*aggs), table)
    if table._tree is not None:
        gs = ([grouper] if isinstance(grouper, ColExpr)
              else list(grouper) if isinstance(grouper, (list, tuple))
              else [table[c] for c in table.columns])
        gts = [(g.name, g._tree) for g in gs]
        rts = {n: r._tree for n, r in reductions.items()
               if isinstance(r, Reduction)}
        if len(rts) == len(reductions) and \
                all(t is not None for _, t in gts) and \
                all(t is not None for t in rts.values()):
            out._tree = {"op": "by", "args": [table._tree, gts, rts]}
    return out


def count_values(col: ColExpr, sort: bool = True) -> Table:
    """Value counts desc (blaze/expr/split_apply_combine.py:91-101)."""
    out = col._table.df.groupBy(col.col.alias(col.name)).agg(
        F.count(F.lit(1)).alias("count"))
    if sort:
        out = out.orderBy(F.col("count").desc())
    res = _derived(out, col._table)
    if col._table._tree is not None and col._tree is not None:
        res._tree = {"op": "count_values",
                     "args": [col._table._tree, col._tree, col.name,
                              bool(sort)]}
    return res


def _py_scalar(dt: T.DataType) -> type:
    """Python scalar type for a Spark dtype — used only as a pandas_udf
    eval-type annotation (SERIES -> scalar == GROUPED_AGG)."""
    if isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType)):
        return float
    if isinstance(dt, T.BooleanType):
        return bool
    if isinstance(dt, T.StringType):
        return str
    if isinstance(dt, T.BinaryType):
        return bytes
    if isinstance(dt, T.ArrayType):
        return list
    if isinstance(dt, T.MapType):
        return dict
    return int


def udaf(fn: Callable, schema: str | T.DataType) -> Callable[[ColExpr], Reduction]:
    """Custom aggregate from a pandas function — the UDAF extension the
    reference lacks (SURVEY.md §2.7: no UDAF concept beyond builtin
    summaries).  ``fn(pandas.Series) -> scalar`` runs as an Arrow-batched
    GROUPED_AGG pandas UDF; usable inside ``by``/``summary``.

    Scale note: GROUPED_AGG ships each group's column to one executor —
    prefer builtin aggregates when expressible; this is the escape hatch.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    dt = schema if isinstance(schema, T.DataType) else _parse_dtype(schema)

    def _agg(s):
        return fn(s)

    # Series -> scalar annotations make pyspark infer GROUPED_AGG; the
    # return annotation must be a scalar type matching dt (a non-numeric
    # UDAF — string/array/bool — mis-infers if hardcoded to int)
    _agg.__annotations__ = {"s": pd.Series, "return": _py_scalar(dt)}
    spark_fn = pandas_udf(_agg, dt)

    def make(col: ColExpr) -> Reduction:
        return Reduction(col._table, spark_fn(col.col), f"{col.name}_udaf")

    return make


def _grouped_tree(op: str, table: Table, groupers, reductions):
    """Wire node for a grouped aggregation over named grouper expressions
    — the shape ``by`` records, shared by rollup/cube (r8 dialect
    widening)."""
    if table._tree is None:
        return None
    gts = [(g.name, g._tree) for g in groupers]
    rts = {n: r._tree for n, r in reductions.items()}
    if any(t is None for _, t in gts) or any(t is None for t in rts.values()):
        return None
    return {"op": op, "args": [table._tree, gts, rts]}


def rollup(groupers, **reductions: Reduction) -> Table:
    """Hierarchical grouping-sets aggregation — EXTENSION beyond the
    reference (SURVEY.md §2.4: no cube/rollup in blaze; Spark has it free)."""
    table = groupers[0]._table
    gcols = [g.col.alias(g.name) for g in groupers]
    aggs = [r.col.alias(name) for name, r in reductions.items()]
    out = _derived(table.df.rollup(*gcols).agg(*aggs), table)
    out._tree = _grouped_tree("rollup", table, groupers, reductions)
    return out


def cube(groupers, **reductions: Reduction) -> Table:
    """All grouping-sets combinations — EXTENSION (SURVEY.md §2.4)."""
    table = groupers[0]._table
    gcols = [g.col.alias(g.name) for g in groupers]
    aggs = [r.col.alias(name) for name, r in reductions.items()]
    out = _derived(table.df.cube(*gcols).agg(*aggs), table)
    out._tree = _grouped_tree("cube", table, groupers, reductions)
    return out


def grouping_sets(sets, **reductions: Reduction) -> Table:
    """Explicit GROUPING SETS — EXTENSION (SURVEY.md §2.4; ``rollup``/
    ``cube`` are its fixed shapes).  ``sets`` is a list of lists of
    ColExprs; empty inner list = grand total.  Lowered to the native
    ``DataFrame.groupingSets`` (Spark >= 4.0): ONE scan feeds an Expand
    that replicates each row per grouping set into a single partial+final
    aggregation — not a union of per-set re-scans.  Non-grouped columns
    are NULL in their set's rows, as in SQL."""
    flat = [g for s in sets for g in s]
    if not flat:
        raise ValueError("grouping_sets needs at least one non-empty set")
    table = flat[0]._table
    seen: dict[str, ColExpr] = {}
    for g in flat:
        seen.setdefault(g.name, g)
    set_names = [[F.col(g.name) for g in s] for s in sets]
    aggs = [r.col.alias(name) for name, r in reductions.items()]
    new_cols = [g.col.alias(g.name) for g in seen.values()
                if g.name not in table.df.columns]
    src = table.df.select("*", *new_cols) if new_cols else table.df
    out = _derived(src.groupingSets(set_names,
                                    *[F.col(n) for n in seen]).agg(*aggs),
                   table)
    if table._tree is not None:
        sts = [[(g.name, g._tree) for g in s] for s in sets]
        rts = {n: r._tree for n, r in reductions.items()}
        if all(t is not None for s in sts for _, t in s) \
                and all(t is not None for t in rts.values()):
            out._tree = {"op": "grouping_sets",
                         "args": [table._tree, sts, rts]}
    return out


def hypertable_rollup(t: Table, ts_col: str, units=("year", "month", "day"),
                      **reductions: Reduction) -> Table:
    """Time-hierarchy continuous aggregate (the 'hypertable rollup' shape):
    one pass produces aggregates at every granularity of the hierarchy via
    GROUPING SETS — Spark's Expand feeds a single partial+final aggregation,
    so the fact table is scanned once for all levels.

    Output: one row per (unit, bucket) with ``grain`` naming the level.
    """
    units = tuple(units)
    if not reductions:
        raise ValueError("hypertable_rollup needs at least one "
                         "named reduction")
    if not all(isinstance(u, str) for u in units):
        raise ValueError(f"hypertable_rollup units must be unit "
                         f"strings, got {units!r}")
    df = t.df
    trunc_cols = {u: F.to_date(F.date_trunc(u, F.col(ts_col))).alias(f"__{u}")
                  for u in units}
    df = df.select(*df.columns, *trunc_cols.values())
    aggs = [r.col.alias(name) for name, r in reductions.items()]
    rolled = df.rollup(*[f"__{u}" for u in units]).agg(*aggs)
    # label the grain by the deepest non-null level
    grain = F.lit("total")
    bucket = F.lit(None).cast(T.DateType())
    for u in units:
        grain = F.when(F.col(f"__{u}").isNotNull(), F.lit(u)).otherwise(grain)
        bucket = F.when(F.col(f"__{u}").isNotNull(),
                        F.col(f"__{u}")).otherwise(bucket)
    # bucket as string with an ALL sentinel: NULL dates stringify
    # differently across engines/arrow versions — sidestep entirely
    out = _derived(rolled.select(
        grain.alias("grain"),
        F.coalesce(bucket.cast(T.StringType()), F.lit("ALL")).alias("bucket"),
        *[F.col(name) for name in reductions]), t)
    out._name = "hypertable_rollup"
    # wire node when the input and every reduction carry trees (the
    # summary/by pattern): ts_col/units as literals, reductions as
    # their recorded subtrees
    rts = {n: r._tree for n, r in reductions.items()}
    if t._tree is not None and all(v is not None for v in rts.values()):
        out._tree = {"op": "hypertable_rollup",
                     "args": [t._tree, ts_col, list(units), rts]}
    return out


def summary(**reductions: Reduction) -> Table:
    """Named multi-reduction record (blaze/expr/reductions.py:226-296)."""
    first = next(iter(reductions.values()))
    aggs = [r.col.alias(name) for name, r in reductions.items()]
    out = _derived(first._table.df.agg(*aggs), first._table)
    tbl_tree = first._table._tree
    if tbl_tree is not None:
        rts = {n: r._tree for n, r in reductions.items()
               if isinstance(r, Reduction)}
        if len(rts) == len(reductions) and \
                all(t is not None for t in rts.values()):
            out._tree = {"op": "summary", "args": [tbl_tree, rts]}
    return out


def merge(*cols, **named) -> Table:
    """Zip columns side by side (blaze/expr/collections.py:377-500).
    All inputs must share a common ancestor table (reference rule at
    collections.py:431-439) — columns from unrelated tables fail fast."""
    all_exprs = list(cols) + [c.label(n) for n, c in named.items()]
    table = next(e._table if isinstance(e, ColExpr) else e
                 for e in all_exprs if isinstance(e, (ColExpr, Table)))
    sel = []
    for e in all_exprs:
        if isinstance(e, ColExpr):
            if not table._shares_ancestor(e._table):
                raise TypeError(
                    f"merge column {e.name!r} is built from a different "
                    "table; all merge inputs must share a common ancestor")
            sel.append(e.col.alias(e.name))
        elif isinstance(e, Table):
            if not table._shares_ancestor(e):
                raise TypeError(
                    "merge tables do not share a common ancestor")
            sel.extend(F.col(c) for c in e.columns)
    out = _derived(table.df.select(*sel), table)
    # wire node (r8): a merge of serializable column exprs over one
    # serializable table travels as [(name, expr_tree), ...]; a Table
    # input contributes its column list as field picks of the SAME
    # ancestor (its own plan is the shared lineage, so fields resolve)
    if table._tree is not None:
        parts, ok = [], True
        for e in all_exprs:
            if isinstance(e, ColExpr):
                if e._tree is None:
                    ok = False
                    break
                parts.append((e.name, e._tree))
            else:
                if e._tree != table._tree:
                    ok = False
                    break
                parts.extend((c, {"op": "field", "args": [c]})
                             for c in e.columns)
        if ok:
            out._tree = {"op": "merge", "args": [table._tree, parts]}
    return out


def transform(t: Table, **cols) -> Table:
    return t.transform(**cols)


def coalesce(*exprs) -> ColExpr:
    """SQL COALESCE (blaze/expr/expressions.py:876-933); Catalyst
    constant-folds the known-null/non-null cases the reference special-cased."""
    first = next(e for e in exprs if isinstance(e, ColExpr))
    out = first._make(F.coalesce(*[_as_col(e) for e in exprs]),
                      "coalesce", None)
    parts = [_value_tree(e) for e in exprs]
    if all(p is not None for p in parts):
        out._tree = {"op": "coalesce", "args": [parts]}
    return out


def shift(col: ColExpr, n: int, order_by, partition_by=None) -> ColExpr:
    return col.shift(n, order_by, partition_by)


def _quote(*parts: str) -> str:
    """``parts`` as one dotted, backtick-quoted SQL name (a backtick
    doubled), so a dot, space or backtick stays part of a name.  Joins and
    projections go through ``selectExpr``/``F.expr`` text with it: one
    gateway call for all columns, where each Column-API call
    (``F.col``, ``.alias``, ``==``) costs several round trips."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in parts)


def join(lhs: Table, rhs: Table, on_left=None, on_right=None,
         how: str = "inner", suffixes: tuple[str, str] = ("_left", "_right"),
         broadcast: bool | None = None) -> Table:
    """Equi-join with the reference's schema algorithm
    (blaze/expr/collections.py:612-771):

    - default keys = sorted shared columns (collections.py:727-730)
    - key dtypes must promote (collections.py:753-762) — checked eagerly
    - output column order: keys, left non-keys, right non-keys
    - non-key collisions suffixed ``_left``/``_right`` (collections.py:671-679)
    - outer sides become nullable (optionification is automatic in Spark)

    ``how`` extends the reference's {inner,left,right,outer} with Spark-free
    semi/anti/cross (SURVEY.md §2.3 extensions).  ``broadcast=True`` hints
    the small side — at 100 TB the dimension side of a star join must
    broadcast, not shuffle; when None, AQE/Catalyst decides from stats.
    """
    if how == "cross":
        # Cartesian product: no keys, no condition (every shared column is
        # a collision, suffixed).  Key inference must NOT run — a cross join
        # of tables that happen to share a column name is still a full
        # product, not an equi-join.
        if on_left is not None or on_right is not None:
            raise ValueError("cross join takes no join keys")
        rdf = F.broadcast(rhs.df) if broadcast else rhs.df
        joined = lhs.df.alias("__l").crossJoin(rdf.alias("__r"))
        lcols, rcols = lhs.columns, rhs.columns
        out = [(_quote("__l", c), c + suffixes[0] if c in rcols else c)
               for c in lcols]
        out += [(_quote("__r", c), c + suffixes[1] if c in lcols else c)
                for c in rcols]
        return _derived(joined.selectExpr(
            *[f"{e} AS {_quote(n)}" for e, n in out]), lhs, rhs)

    if on_left is None:
        on_left = sorted(set(lhs.columns) & set(rhs.columns))
        if not on_left:
            raise ValueError("no shared columns to join on")
    if isinstance(on_left, str):
        on_left = [on_left]
    if on_right is None:
        on_right = list(on_left)
    if isinstance(on_right, str):
        on_right = [on_right]
    if len(on_left) != len(on_right):
        raise ValueError("join key lists must have equal length")

    how_map = {"inner": "inner", "left": "left", "right": "right",
               "outer": "full", "full": "full", "semi": "left_semi",
               "anti": "left_anti"}
    if how not in how_map:
        raise ValueError(f"unsupported join type: {how}")
    spark_how = how_map[how]

    # eager key-type promotion check (collections.py:753-762)
    for lk, rk in zip(on_left, on_right):
        lt = lhs.schema[lk].dataType
        rt = rhs.schema[rk].dataType
        if _s.is_numeric(lt) and _s.is_numeric(rt):
            _s.promote(lt, rt)
        else:
            _s.check_comparable(lt, rt)

    ldf, rdf = lhs.df.alias("__l"), rhs.df.alias("__r")
    if broadcast:
        rdf = F.broadcast(rdf)
    cond = F.expr(" AND ".join(f"{_quote('__l', lk)} = {_quote('__r', rk)}"
                               for lk, rk in zip(on_left, on_right)))
    joined = ldf.join(rdf, cond, spark_how)

    def _record(t: Table) -> Table:
        # wire-tree recording (from_tree's 'join' op takes positional
        # [left, right, on_left, on_right, how]); suffixes/broadcast are
        # plan hints outside the dialect — record only at their defaults
        if (lhs._tree is not None and rhs._tree is not None
                and suffixes == ("_left", "_right") and broadcast is None):
            t._tree = {"op": "join",
                       "args": [lhs._tree, rhs._tree, list(on_left),
                                list(on_right), how]}
        return t

    if spark_how in ("left_semi", "left_anti"):
        return _record(_derived(joined, lhs, rhs))

    # assemble output schema: keys (promoted/coalesced), then left non-key,
    # then right non-key, with _left/_right suffixes on collisions; one
    # (SQL expression, output name) pair per column
    lnk = [c for c in lhs.columns if c not in on_left]
    rnk = [c for c in rhs.columns if c not in on_right]
    out = []
    for lk, rk in zip(on_left, on_right):
        if spark_how == "full":
            key = f"coalesce({_quote('__l', lk)}, {_quote('__r', rk)})"
        elif spark_how == "right":
            key = _quote("__r", rk)
        else:
            key = _quote("__l", lk)
        out.append((key, lk))
    key_names = set(on_left)
    for c in lnk:
        out.append((_quote("__l", c), c + suffixes[0] if c in rnk else c))
    for c in rnk:
        # suffix on collision with a left non-key OR with an output key name
        # (a right non-key may share the LEFT key's name without being a key)
        name = c + suffixes[1] if (c in lnk or c in key_names) else c
        out.append((_quote("__r", c), name))
    return _record(_derived(joined.selectExpr(
        *[f"{e} AS {_quote(n)}" for e, n in out]), lhs, rhs))


def concat(lhs: Table, rhs: Table, *more: Table) -> Table:
    """Vertical stack == UNION ALL (blaze/expr/collections.py:776-865;
    SQL lowering blaze/compute/sql.py:309-317).  Equal measure enforced by
    unionByName's analysis."""
    out = lhs.df.unionByName(rhs.df)
    for t in more:
        out = out.unionByName(t.df)
    res = _derived(out, lhs, rhs, *more)
    parts = [lhs, rhs, *more]
    if all(p._tree is not None for p in parts):
        # from_tree's 'concat' is binary — fold left-associatively
        tree = parts[0]._tree
        for p in parts[1:]:
            tree = {"op": "concat", "args": [tree, p._tree]}
        res._tree = tree
    return res


_SIMPLE_DTYPES = {
    "int8": T.ByteType(), "int16": T.ShortType(), "int32": T.IntegerType(),
    "int64": T.LongType(), "int": T.LongType(),
    "float32": T.FloatType(), "float64": T.DoubleType(), "real": T.DoubleType(),
    "bool": T.BooleanType(), "string": T.StringType(), "str": T.StringType(),
    "date": T.DateType(), "datetime": T.TimestampType(),
    # unsigned ints widen (no unsigned in Spark — SURVEY.md §1.2)
    "uint8": T.ShortType(), "uint16": T.IntegerType(), "uint32": T.LongType(),
    "uint64": T.DecimalType(20, 0),
}


def _parse_dtype(s: str) -> T.DataType:
    s = s.strip()
    opt = s.startswith("?")
    if opt:
        s = s[1:]
    if s in _SIMPLE_DTYPES:
        return _SIMPLE_DTYPES[s]
    # fall back to Spark DDL ("decimal(10,2)", "array<float>", ...)
    return T._parse_datatype_string(s)  # type: ignore[attr-defined]
