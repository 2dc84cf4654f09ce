"""SQL-text expressions for the suite compiler.

The compiler builds every expression as Spark SQL text with this module's
:class:`Sql` value: operators and functions concatenate strings and make no
py4j round trip. A finished plan becomes Columns with one ``F.expr`` per
expression (:func:`lift`), which Spark parses once — instead of one py4j
round trip per ``Column`` call.

Two traps of ``F.expr`` shape the rendering, and :func:`render` and
:func:`col` are the only places literals and names enter the text:

* **Variable substitution.** Spark rewrites ``${…}`` anywhere in the text
  before parsing it — inside string literals and backticked identifiers
  too (``'${env:HOME}'`` parses as the home directory,
  ``'${spark.app.name}'`` as the application name). String literals
  therefore write ``$`` as ``\\u0024``; nested names use ``['…']`` string
  extraction; a top-level name that contains ``${`` is referenced through
  ``F.col`` (mixed mode, below).
* **Literal types.** A bare ``1.5`` parses as ``DECIMAL(2,1)``: doubles
  render as ``1.5D`` (NaN and ±Infinity as casts), ints as ``F.lit``
  types them (int, then bigint beyond int32).

Mixed mode: an :class:`Sql` may hold a pyspark Column instead of text — a
``Conform`` callable's predicate, an extension hook's fragment, a top-level
name with ``${``, a literal :func:`render` cannot type (a timestamp). An operator or function that receives one lifts its text
operands with ``F.expr`` (consecutive text terms of an n-ary ``AND``/``OR``/
``concat`` share one) and returns a Column-backed :class:`Sql`.

String literals assume Spark's default
``spark.sql.parser.escapedStringLiterals=false`` (backslash escapes are
processed).
"""

from __future__ import annotations

import inspect
import itertools
import math
import operator
import threading
from datetime import date, datetime
from decimal import Decimal
from functools import reduce

from pyspark.sql import Column, functions as F


class Sql:
    """One expression: SQL ``text``, or (mixed mode) a pyspark ``col``.
    ``AND``/``OR``/``concat`` nodes keep their flattened terms so chains
    render n-ary."""

    __slots__ = ("text", "col", "_op", "_terms", "_lifted")

    def __init__(self, text: str | None = None, col: Column | None = None,
                 op: str | None = None, terms: tuple = ()):
        self.text, self.col = text, col
        self._op, self._terms, self._lifted = op, terms, None

    def __repr__(self) -> str:
        return f"Sql({self.text!r})" if self.col is None else "Sql(<Column>)"

    def __bool__(self):
        raise ValueError("an Sql expression has no truth value: "
                         "use & | ~ for and, or, not")

    def __and__(self, other):
        return and_all([self, other])

    def __or__(self, other):
        return or_all([self, other])

    def __invert__(self):
        return _apply(lambda a: f"(NOT {a})", operator.invert, self)

    def __eq__(self, other):  # type: ignore[override]
        return _binary("=", operator.eq, self, other)

    def __ne__(self, other):  # type: ignore[override]
        return _binary("<>", operator.ne, self, other)

    def __lt__(self, other):
        return _binary("<", operator.lt, self, other)

    def __le__(self, other):
        return _binary("<=", operator.le, self, other)

    def __gt__(self, other):
        return _binary(">", operator.gt, self, other)

    def __ge__(self, other):
        return _binary(">=", operator.ge, self, other)

    def __add__(self, other):
        return _binary("+", operator.add, self, other)

    def __sub__(self, other):
        return _binary("-", operator.sub, self, other)

    def __truediv__(self, other):
        return _binary("/", operator.truediv, self, other)

    def __mod__(self, other):
        return _binary("%", operator.mod, self, other)

    __hash__ = None  # type: ignore[assignment]

    def eqNullSafe(self, other) -> Sql:
        return _binary("<=>", Column.eqNullSafe, self, other)

    def isNull(self) -> Sql:
        return _apply(lambda a: f"({a} IS NULL)", Column.isNull, self)

    def isNotNull(self) -> Sql:
        return _apply(lambda a: f"({a} IS NOT NULL)", Column.isNotNull, self)

    def isin(self, values) -> Sql:
        values = list(values)
        try:
            texts = [render(v) for v in values]
        except TypeError:  # a value only F.lit can type: mixed mode
            texts = None
        if self.col is not None or texts is None:
            return Sql(col=_operand(self).isin(values))
        if not texts:  # `x IN ()` does not parse; In(x, []) is false
            return Sql("false")
        return Sql(f"({self.text} IN ({', '.join(texts)}))")

    def rlike(self, regex: str) -> Sql:
        if self.col is not None:
            return Sql(col=self.col.rlike(regex))
        return Sql(f"({self.text} RLIKE {render(regex)})")

    def cast(self, dtype: str) -> Sql:
        return _apply(lambda a: f"CAST({a} AS {dtype})",
                      lambda c: c.cast(dtype), self)

    def try_cast(self, dtype: str) -> Sql:
        return _apply(lambda a: f"TRY_CAST({a} AS {dtype})",
                      lambda c: c.try_cast(dtype), self)

    def getField(self, name: str) -> Sql:
        return self[name]

    def __getitem__(self, key) -> Sql:
        # ['…'] string extraction: a struct field or map key, safe from
        # variable substitution (the key is a rendered literal)
        if self.col is not None:
            return Sql(col=self.col[key])
        return Sql(f"({self.text})[{render(key)}]")


def render(v) -> str:
    """SQL literal of a Python value, typed as ``F.lit`` types it. Raises
    ``TypeError`` for a value it has no such literal for (see :func:`lit`)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        v = int(v)
        if -(2 ** 31) <= v < 2 ** 31:
            return str(v)
        if -(2 ** 63) <= v < 2 ** 63:
            return f"{v}L"
        return f"{v}BD"  # F.lit refuses ints beyond bigint; exact decimal
    if isinstance(v, float):
        v = float(v)  # a numpy float64's repr is np.float64(…)
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return f"{v!r}D"
    if isinstance(v, Decimal) and v.is_finite():
        return f"{v}BD"  # the BigDecimal of str(v): F.lit's precision, scale
    if isinstance(v, date) and not isinstance(v, datetime):
        return f"DATE'{v.isoformat()}'"
    if isinstance(v, str):
        return "'" + (v.replace("\\", "\\\\").replace("'", "\\'")
                      .replace("$", "\\u0024")) + "'"
    if isinstance(v, (list, tuple)):
        return f"array({', '.join(map(render, v))})"
    raise TypeError(f"no SQL literal for {type(v).__name__} {v!r}")


def lit(v) -> Sql:
    """A literal: its SQL text, or (mixed mode) ``F.lit`` for a value
    :func:`render` cannot type — a timestamp, whose ``F.lit`` reads a naive
    value in the Python process's time zone, or a numpy integer."""
    try:
        return Sql(render(v))
    except TypeError:
        return Sql(col=F.lit(v))


def col(name: str) -> Sql:
    """A (dotted) column path: the top-level name backticked, nested parts
    extracted with ``['…']``."""
    top, *rest = name.split(".")
    if "${" in top:
        out = Sql(col=F.col(top))
    else:
        out = Sql("`" + top.replace("`", "``") + "`")
    for part in rest:
        out = out[part]
    return out


def as_sql(x) -> Sql:
    """``x`` as an operand: Sql as is, a Column wrapped, a Python value as
    its literal."""
    if isinstance(x, Sql):
        return x
    if isinstance(x, Column):
        return Sql(col=x)
    return lit(x)


def lift(x) -> Column:
    """The Column of an expression: one ``F.expr`` of its text."""
    x = as_sql(x)
    return x.col if x.col is not None else F.expr(x.text)


def _operand(x: Sql) -> Column:
    """:func:`lift` for an operand of a mixed-mode operation, made once per
    :class:`Sql` object: an operand used twice next to Columns (a shared
    empty array) costs one ``F.expr``. Text-only plans lift once at the top
    and keep no Column."""
    if x.col is not None:
        return x.col
    if x._lifted is None:
        x._lifted = F.expr(x.text)
    return x._lifted


def _apply(fmt, colfn, *args) -> Sql:
    args = [as_sql(a) for a in args]
    if all(a.col is None for a in args):
        return Sql(fmt(*[a.text for a in args]))
    return Sql(col=colfn(*map(_operand, args)))


def _binary(op: str, colfn, a, b) -> Sql:
    return _apply(lambda x, y: f"({x} {op} {y})", colfn, a, b)


def _nary(op: str, fmt, colfn, xs) -> Sql:
    terms: list[Sql] = []
    for x in map(as_sql, xs):
        terms.extend(x._terms if x._op == op else (x,))
    if len(terms) == 1:
        return terms[0]
    if all(t.col is None for t in terms):
        return Sql(fmt([t.text for t in terms]), op=op, terms=tuple(terms))
    runs = []
    for is_text, run in itertools.groupby(terms, lambda t: t.col is None):
        run = list(run)
        if is_text:
            runs.append(_operand(run[0] if len(run) == 1 else Sql(
                fmt([t.text for t in run]))))
        else:
            runs.extend(t.col for t in run)
    return Sql(col=colfn(runs))


def and_all(xs) -> Sql:
    return _nary("AND", lambda ts: f"({' AND '.join(ts)})",
                 lambda cs: reduce(operator.and_, cs), xs)


def or_all(xs) -> Sql:
    return _nary("OR", lambda ts: f"({' OR '.join(ts)})",
                 lambda cs: reduce(operator.or_, cs), xs)


def concat(*xs) -> Sql:
    return _nary("concat", lambda ts: f"concat({', '.join(ts)})",
                 lambda cs: F.concat(*cs), xs)


class When:
    """``CASE WHEN … THEN … [WHEN …] ELSE … END``, built like ``F.when``."""

    def __init__(self, branches: list):
        self._branches = branches

    def when(self, cond, value) -> When:
        return When(self._branches + [(cond, value)])

    def otherwise(self, value) -> Sql:
        parts = [as_sql(x) for b in self._branches for x in b]
        other = as_sql(value)
        if all(p.col is None for p in parts + [other]):
            arms = " ".join(f"WHEN {c.text} THEN {v.text}"
                            for c, v in zip(parts[::2], parts[1::2]))
            return Sql(f"CASE {arms} ELSE {other.text} END")
        lifted = [_operand(p) for p in parts]
        out = F.when(lifted[0], lifted[1])
        for c, v in zip(lifted[2::2], lifted[3::2]):
            out = out.when(c, v)
        return Sql(col=out.otherwise(_operand(other)))


def when(cond, value) -> When:
    return When([(cond, value)])


def struct(**fields) -> Sql:
    """``named_struct`` in keyword order (``F.struct`` of aliased fields)."""
    names = list(fields)
    return _apply(
        lambda *ts: "named_struct(" + ", ".join(
            f"{render(n)}, {t}" for n, t in zip(names, ts)) + ")",
        lambda *cs: F.struct(*[c.alias(n) for n, c in zip(names, cs)]),
        *fields.values())


def _function(name: str, colfn):
    def call(*args) -> Sql:
        return _apply(lambda *ts: f"{name}({', '.join(ts)})", colfn, *args)
    call.__name__ = name
    return call


coalesce = _function("coalesce", F.coalesce)
array = _function("array", F.array)
size = _function("size", F.size)
array_distinct = _function("array_distinct", F.array_distinct)
array_min = _function("array_min", F.array_min)
array_max = _function("array_max", F.array_max)
map_keys = _function("map_keys", F.map_keys)
map_entries = _function("map_entries", F.map_entries)
slice = _function("slice", F.slice)  # noqa: A001 — the SQL function's name
get = _function("get", F.get)
greatest = _function("greatest", F.greatest)
length = _function("length", F.length)
lower = _function("lower", F.lower)
regexp_replace = _function("regexp_replace", F.regexp_replace)

# lambda variables are named by nesting depth, so an inner lambda never
# shadows the outer one's variable and the same suite renders the same text
_LAMBDA = threading.local()


def _higher_order(name: str, colfn):
    def call(arr, fn) -> Sql:
        arr = as_sql(arr)
        nargs = len(inspect.signature(fn).parameters)
        if arr.col is None:
            depth = getattr(_LAMBDA, "depth", 0)
            names = [f"__lv{depth}", f"__li{depth}"][:nargs]
            _LAMBDA.depth = depth + 1
            try:
                body = as_sql(fn(*map(Sql, names)))
            finally:
                _LAMBDA.depth = depth
            if body.col is None:
                params = names[0] if nargs == 1 else f"({', '.join(names)})"
                return Sql(f"{name}({arr.text}, {params} -> {body.text})")
        # mixed: pyspark builds the lambda, its body sees Column operands
        if nargs == 2:
            return Sql(col=colfn(_operand(arr), lambda x, i: lift(
                fn(Sql(col=x), Sql(col=i)))))
        return Sql(col=colfn(_operand(arr), lambda x: lift(fn(Sql(col=x)))))
    call.__name__ = name
    return call


exists = _higher_order("exists", F.exists)
filter = _higher_order("filter", F.filter)  # noqa: A001
transform = _higher_order("transform", F.transform)
forall = _higher_order("forall", F.forall)
