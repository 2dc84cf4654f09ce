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
  extraction; a top-level name that contains ``${`` is bound (below).
* **Literal types.** A bare ``1.5`` parses as ``DECIMAL(2,1)``: doubles
  render as ``1.5D`` (NaN and ±Infinity as casts), ints as ``F.lit``
  types them (int, then bigint beyond int32).

Bound Columns: a pyspark Column that enters an expression — a ``Conform``
callable's predicate, an extension hook's fragment, ``F.col`` of a
top-level name with ``${``, ``F.lit`` of a value :func:`render` cannot type
(a timestamp) — is bound to a reserved name (``__sx0``, ``__sx1``, … in
binding order, one per Column object) and the text references that name.
:func:`binding` collects them for one compile; the plan projects them as
aliases under those names before it lifts the text.

String literals are written for Spark's default
``spark.sql.parser.escapedStringLiterals=false`` (backslash escapes are
processed); :func:`lift` makes text with an escape fail under ``true``.
"""

from __future__ import annotations

import inspect
import math
from contextlib import contextmanager
from contextvars import ContextVar
from datetime import date, datetime
from decimal import Decimal

from pyspark.sql import Column, functions as F

BOUND_PREFIX = "__sx"


def _binop(op: str):
    return lambda self, other: _binary(op, self, other)


class Sql:
    """One expression's SQL ``text``. ``AND``/``OR``/``concat`` nodes keep
    their flattened terms so chains render n-ary."""

    __slots__ = ("text", "_op", "_terms")

    def __init__(self, text: str, op: str | None = None, terms: tuple = ()):
        self.text, self._op, self._terms = text, op, terms

    def __repr__(self) -> str:
        return f"Sql({self.text!r})"

    def __bool__(self):
        raise ValueError("an Sql expression has no truth value: "
                         "use & | ~ for and, or, not")

    def __and__(self, other):
        return and_all([self, other])

    def __or__(self, other):
        return or_all([self, other])

    def __invert__(self):
        return _apply(lambda a: f"(NOT {a})", self)

    __eq__, __ne__, eqNullSafe = map(_binop, ["=", "<>", "<=>"])
    __lt__, __le__, __gt__, __ge__ = map(_binop, ["<", "<=", ">", ">="])
    __add__, __sub__, __truediv__, __mod__ = map(_binop, "+-/%")
    __hash__ = None  # type: ignore[assignment]

    def isNull(self) -> Sql:
        return _apply(lambda a: f"({a} IS NULL)", self)

    def isNotNull(self) -> Sql:
        return _apply(lambda a: f"({a} IS NOT NULL)", self)

    def isin(self, values) -> Sql:
        texts = [lit(v).text for v in values]
        if not texts:  # `x IN ()` does not parse; In(x, []) is false
            return Sql("false")
        return Sql(f"({self.text} IN ({', '.join(texts)}))")

    def rlike(self, regex: str) -> Sql:
        return Sql(f"({self.text} RLIKE {render(regex)})")

    def cast(self, dtype: str) -> Sql:
        return _apply(lambda a: f"CAST({a} AS {dtype})", self)

    def try_cast(self, dtype: str) -> Sql:
        return _apply(lambda a: f"TRY_CAST({a} AS {dtype})", self)

    def getField(self, name: str) -> Sql:
        return self[name]

    def __getitem__(self, key) -> Sql:
        # ['…'] string extraction: a struct field or map key, safe from
        # variable substitution (the key is a rendered literal)
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


class _Scope:
    """One compile's state: the bound Columns by name, a name per binding
    key, and the nesting depth of the lambda being built."""

    def __init__(self):
        self.bound: dict[str, Column] = {}
        self.names: dict = {}
        self.depth = 0


_SCOPE: ContextVar[_Scope | None] = ContextVar("sqlexpr_scope", default=None)


@contextmanager
def binding():
    """Scope of one compile: yields the dict that collects the Columns the
    text binds, by name, in binding order."""
    token = _SCOPE.set(_Scope())
    try:
        yield _SCOPE.get().bound
    finally:
        _SCOPE.reset(token)


def _scope() -> _Scope:
    scope = _SCOPE.get()
    if scope is None:
        raise RuntimeError("sqlexpr binds Columns and names lambda "
                           "variables only inside sqlexpr.binding()")
    return scope


def _bind(key, make) -> Sql:
    """The reference to the Column ``make()`` builds, bound once per key."""
    scope = _scope()
    name = scope.names.get(key)
    if name is None:
        name = scope.names[key] = f"{BOUND_PREFIX}{len(scope.bound)}"
        scope.bound[name] = make()
    return Sql(f"`{name}`")


def lit(v) -> Sql:
    """A literal: its SQL text, or a bound ``F.lit`` for a value
    :func:`render` cannot type — a timestamp, whose ``F.lit`` reads a naive
    value in the Python process's time zone, or a numpy integer."""
    try:
        return Sql(render(v))
    except TypeError:
        return _bind(("lit", type(v), repr(v)), lambda: F.lit(v))


def col(name: str) -> Sql:
    """A (dotted) column path: the top-level name backticked, nested parts
    extracted with ``['…']``."""
    top, *rest = name.split(".")
    if "${" in top:
        out = _bind(("col", top), lambda: F.col(top))
    else:
        out = Sql("`" + top.replace("`", "``") + "`")
    for part in rest:
        out = out[part]
    return out


def as_sql(x) -> Sql:
    """``x`` as an operand: Sql as is, a Column bound, a Python value as
    its literal."""
    if isinstance(x, Sql):
        return x
    if isinstance(x, Column):
        return _bind(id(x), lambda: x)  # the scope keeps x, so id(x) holds
    return lit(x)


# Under spark.sql.parser.escapedStringLiterals=true Spark reads the
# escapes render writes (\\ \' \u0024) literally, and a check would
# compare against the wrong strings. '\\' is one backslash unless that
# mode is on, so the guard folds to NULL and the coalesce away.
_ESCAPES_GUARD = (
    "coalesce(CASE WHEN '\\\\' <> char(92) THEN raise_error("
    "'spark.sql.parser.escapedStringLiterals is true: the validation plan "
    "writes string literals for false, set it to false to run it') END, {})")


def lift(x: Sql) -> Column:
    """The Column of an expression: one ``F.expr`` of its text."""
    text = x.text
    return F.expr(_ESCAPES_GUARD.format(text) if "\\" in text else text)


def _apply(fmt, *args) -> Sql:
    return Sql(fmt(*[as_sql(a).text for a in args]))


def _binary(op: str, a, b) -> Sql:
    return _apply(lambda x, y: f"({x} {op} {y})", a, b)


def _nary(op: str, fmt, xs) -> Sql:
    terms: list[Sql] = []
    for x in map(as_sql, xs):
        terms.extend(x._terms if x._op == op else (x,))
    if len(terms) == 1:
        return terms[0]
    return Sql(fmt([t.text for t in terms]), op=op, terms=tuple(terms))


def and_all(xs) -> Sql:
    return _nary("AND", lambda ts: f"({' AND '.join(ts)})", xs)


def or_all(xs) -> Sql:
    return _nary("OR", lambda ts: f"({' OR '.join(ts)})", xs)


def concat(*xs) -> Sql:
    return _nary("concat", lambda ts: f"concat({', '.join(ts)})", xs)


class When:
    """``CASE WHEN … THEN … [WHEN …] ELSE … END``, built like ``F.when``."""

    def __init__(self, branches: list):
        self._branches = branches

    def when(self, cond, value) -> When:
        return When(self._branches + [(cond, value)])

    def otherwise(self, value) -> Sql:
        arms = " ".join(f"WHEN {as_sql(c).text} THEN {as_sql(v).text}"
                        for c, v in self._branches)
        return Sql(f"CASE {arms} ELSE {as_sql(value).text} END")


def when(cond, value) -> When:
    return When([(cond, value)])


def struct(**fields) -> Sql:
    """``named_struct`` in keyword order (``F.struct`` of aliased fields)."""
    return Sql("named_struct(" + ", ".join(
        f"{render(n)}, {as_sql(x).text}" for n, x in fields.items()) + ")")


def _function(name: str):
    def call(*args) -> Sql:
        return _apply(lambda *ts: f"{name}({', '.join(ts)})", *args)
    call.__name__ = name
    return call


coalesce = _function("coalesce")
array = _function("array")
size = _function("size")
array_distinct = _function("array_distinct")
array_min = _function("array_min")
array_max = _function("array_max")
map_keys = _function("map_keys")
map_entries = _function("map_entries")
slice = _function("slice")  # noqa: A001 — the SQL function's name
get = _function("get")
greatest = _function("greatest")
length = _function("length")
lower = _function("lower")
regexp_replace = _function("regexp_replace")


def _higher_order(name: str):
    # lambda variables are named by nesting depth, so an inner lambda never
    # shadows the outer one's variable and the same suite renders the same
    # text
    def call(arr, fn) -> Sql:
        arr, scope = as_sql(arr), _scope()
        depth = scope.depth
        names = [f"__lv{depth}", f"__li{depth}"][
            :len(inspect.signature(fn).parameters)]
        scope.depth = depth + 1
        try:
            body = as_sql(fn(*map(Sql, names)))
        finally:
            scope.depth = depth
        params = names[0] if len(names) == 1 else f"({', '.join(names)})"
        return Sql(f"{name}({arr.text}, {params} -> {body.text})")
    call.__name__ = name
    return call


exists = _higher_order("exists")
filter = _higher_order("filter")  # noqa: A001
transform = _higher_order("transform")
forall = _higher_order("forall")
