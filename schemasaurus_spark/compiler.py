"""ConstraintCompiler — DSL → one SQL expression per plan.

The Spark re-expression of the reference compiler
(``/root/reference/src/compiler.js``): where the reference walks the schema
once and emits specialized JavaScript source (``compiler.js:135-211``), this
compiler walks the :class:`~schemasaurus_spark.dsl.Suite` once and emits
Spark SQL text with every constraint argument folded in as a literal
(:mod:`schemasaurus_spark.sqlexpr`). ``F.expr`` parses the finished text
once — the analog of ``new Function(...)`` (``compiler.js:194-211``) — and
WholeStageCodegen fuses the per-row work into JVM bytecode
(``src/int/code.js:42-57``). Compiling makes no py4j round trip.

SQL text has two traps, handled in ``sqlexpr`` and nowhere else: Spark
substitutes ``${…}`` everywhere in the text before parsing (string
literals and backticked names included), and a bare ``1.5`` parses as
``DECIMAL(2,1)``. Literals and names therefore only enter the text through
``sqlexpr.render``/``sqlexpr.col``. Columns supplied by callers —
``Conform`` callables, ``dsl.register_constraint`` hooks — enter it as
reserved names bound during :meth:`ConstraintCompiler.compile`; the plan
projects them as aliases under those names, below the one ``F.expr``.

Design invariants (SURVEY.md §4):

* **Single pass** — every row-level check contributes an
  ``array<struct>`` fragment; the row's violation list is one ``concat`` of
  all fragments, evaluated in ONE projection over the scan. No per-constraint
  re-scan, no shuffle.
* **Partial evaluation** — constraint args (enum sets, regexes, bounds,
  messages) are folded in as literals, the analog of the reference's
  ``prepare``-time baking (``compiler.js:103-113``).
* **Compile-time dead-code elimination** — checks inapplicable to a column's
  static type compile to nothing, the analog of the reference's type guards
  (``typeof _ === 'string' && ...``, v4validator.js:194-206) plus its
  unmatched-selector pruning (``compiler.js:85-101``).
* **Short-circuit parity** — a null value yields only the ``required`` error
  and suppresses all other checks on that column, matching
  ``ctx.stop()`` after a required failure (v4validator.js:80); emission order
  inside a row follows DSL order, matching traversal order
  (``compiler.js:156-173``).
* **No per-row Python** — ``Conform.pandas_fn`` is the only Python on the
  executor path and it is an Arrow-vectorized ``pandas_udf``.

One keyword table, two compile contexts. :data:`KEYWORDS` holds one
immutable entry per scalar keyword: the dtypes it constrains, an ``ok(x)``
pass-predicate builder and its violation arg (the code is the DSL's own
``Constraint.code``). :func:`applies` is the single type-guard decision.
Both contexts derive from them, like the reference's one recursive
``step`` (``compiler.js:135-154``):

* **row context** (``_dispatch_one``) — a keyword that does not apply to
  the column's dtype compiles to nothing; otherwise its fragment fails on
  ``~ok(col)``, null-guarded. Catalyst folds the negation back into the
  plain comparison (``NOT (v >= 5)`` → ``v < 5``).
* **element context** (``_element_predicate``) — ``ok`` itself, used as
  the predicate inside ``exists``/``filter``/``forall`` for ``Items``
  elements, ``fields=`` struct fields, map values and tuple positions. An
  inapplicable keyword folds to the null-aware constant ``x.isNotNull()``
  marked ``static_true``. Container keywords on an element (nested
  ``Items``/``TupleItems``) are ``forall`` over the negation of the same
  per-element fail builders the row context uses.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field as dc_field
from types import MappingProxyType
from typing import Callable, Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F, types as T

from schemasaurus_spark import dsl, sqlexpr as S
from schemasaurus_spark.functions.formats import get_format
from schemasaurus_spark.messages import format_arg, render_message
from schemasaurus_spark.sqlexpr import Sql

# Uniform violation record — field-for-field analog of the reference error
# object {code, message, value, arg, path} (v4validator.js:45-51); the path
# becomes (id_column value, column) since rows are independent (SURVEY §1.2).
VIOLATION_STRUCT = T.StructType(
    [
        T.StructField("constraint_id", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("arg", T.StringType()),
        T.StructField("message", T.StringType()),
    ]
)
VIOLATION_ARRAY_TYPE = T.ArrayType(VIOLATION_STRUCT)
VIOLATIONS_COL = "__violations"


def _render_arg(arg) -> Optional[str]:
    return None if arg is None else format_arg(arg)


def _vio_struct(code: str, column, value, arg, message: str) -> Sql:
    # `column` is usually a static label; PatternProperties passes an
    # expression so the label can carry the offending map key (col[key])
    rendered = _render_arg(arg)
    return S.struct(
        constraint_id=S.lit(code),
        column=column if isinstance(column, Sql) else S.lit(column),
        value=S.as_sql(value).cast("string"),
        arg=S.lit(None).cast("string") if rendered is None else S.lit(rendered),
        message=S.lit(message),
    )


def _empty_violations() -> Sql:
    # untyped: CASE/concat coerce it to the violation struct array of the
    # other operand, and the text stays short (parse time is ~1 us a char)
    return Sql("array()")


def _typed_empty_violations() -> Sql:
    return Sql(f"CAST(array() AS {VIOLATION_ARRAY_TYPE.simpleString()})")


def _scalar_fragment(failed, code: str, column: str, value, arg,
                     message: str) -> Sql:
    """0-or-1-element violation array for a scalar check. ``failed`` and
    ``value`` may be Columns (extension hooks build their own)."""
    return S.when(failed, S.array(_vio_struct(code, column, value, arg,
                                              message))).otherwise(
        _empty_violations())


@dataclass
class CompiledColumn:
    """All fragments for one column, in DSL order."""

    column: str
    fragments: list[Sql] = dc_field(default_factory=list)  # array<struct> each
    # conjunction of all pass-predicates (used by combinator branches)
    valid: Optional[Sql] = None

    def add_valid(self, ok: Sql) -> None:
        self.valid = ok if self.valid is None else S.and_all([self.valid, ok])


@dataclass(eq=False)
class ValidationPlan:
    """The compiled artifact — analog of the specialized closure the
    reference returns (``compiler.js:201-211``). Holds the row's violation
    array and pass predicate as SQL; ``apply`` projects the array onto a
    DataFrame, lifted to a Column with one ``F.expr``, over the ``bound``
    Columns the text names (:meth:`bind`; none: no extra projection).
    CollapseProject inlines an alias of an attribute or literal; one used
    twice (a Conform predicate) stays a ``Project`` in the same codegen
    stage, evaluated once.

    Fast-path/slow-path split: ``valid`` is the conjunction of all pass
    predicates — cheap (no struct/array construction). The violation-array
    concat is evaluated ONLY for failing rows, so the common clean row costs
    little more than the scan itself (the columnar analog of the reference's
    early-exit codegen, ``compiler.js:132`` / ``ctx.stop``)."""

    suite: dsl.Suite
    violations: Sql  # the row's violation array
    suite_hash: str
    valid: Optional[Sql] = None
    bound: dict[str, Column] = dc_field(default_factory=dict)

    @property
    def row_valid(self) -> Optional[Column]:
        """The row's pass predicate, NULL counted as failing. It resolves
        on a frame with the bound aliases (:meth:`bind`)."""
        if self.valid is None:
            return None
        return S.lift(S.coalesce(self.valid, False))

    def bind(self, df: DataFrame) -> DataFrame:
        """``df`` plus the bound Columns under their names, one by one: a
        hook's Column may reference an earlier name."""
        clash = [c for c in df.columns if self.bound
                 and c.lower().startswith(S.BOUND_PREFIX)]
        if clash:
            raise ValueError(f"input column(s) {clash} use the prefix "
                             f"'{S.BOUND_PREFIX}' reserved for bound Columns")
        for name, c in self.bound.items():
            df = df.withColumn(name, c)
        return df

    def apply(self, df: DataFrame) -> DataFrame:
        """One narrow projection: df + ``__violations`` array column."""
        return (self.bind(df).withColumn(VIOLATIONS_COL,
                                         S.lift(self.violations))
                .drop(*self.bound))

    def explode_violations(self, df: DataFrame, *extra_cols: str) -> DataFrame:
        """Violation rows via ``posexplode`` with NO pre-filter: exploding
        an empty array emits nothing, so the failing-row filter is implicit
        — and crucially the plan is scan → project → generate, all inside
        WholeStageCodegen, with NOTHING pushed into the parquet scan.

        Why no ``where(size(violations) > 0)``: Catalyst inlines that
        predicate (the ENTIRE compiled constraint tree, regexes included)
        through the projection and pushes it into the FileScan as a
        DataFilter, where it is evaluated interpreted per row — measured
        77 s vs 7 s for a 16M-row suite at 32 cores, with NEGATIVE core
        scaling (BENCH.md round 2 'filter-pushdown pathology')."""
        return explode_validated(self.apply(df), self.suite.id_column,
                                 *extra_cols)


def explode_validated(validated: DataFrame, id_column: str,
                      *extra_cols: str) -> DataFrame:
    """The posexplode of :meth:`ValidationPlan.explode_violations` over a
    frame that already carries ``__violations``: reusing the analysed
    column skips a second parse and analysis of the plan's SQL."""
    cols = [F.col(id_column), *[F.col(c) for c in extra_cols]]
    return validated.select(
        *cols, F.posexplode(VIOLATIONS_COL).alias("__pos", "__v"))


class SuiteCompileError(ValueError):
    pass


# --------------------------------------------------------------------------
# type utilities (compile-time DCE — the analog of the reference's runtime
# typeof guards, made static because the DataFrame schema is known)


_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FRACTIONAL = (T.FloatType, T.DoubleType, T.DecimalType)
_NUMERIC = _INTEGRAL + _FRACTIONAL

# draft-4 type name -> the Spark dtypes that statically hold it ("integer"
# precedes "number", so the first match is the narrowest name; columnar
# object = struct or map, SURVEY.md §1.2 mapping)
DRAFT_TYPES = MappingProxyType({
    "string": (T.StringType,),
    "integer": _INTEGRAL,
    "number": _NUMERIC,
    "boolean": (T.BooleanType,),
    "array": (T.ArrayType,),
    "object": (T.StructType, T.MapType),
})


def _static_type_match(tname: str, dt) -> Optional[bool]:
    """Whether dtype ``dt`` statically is draft type ``tname``; None when
    only a runtime probe can tell: no schema, ``null``, an unknown name, or
    ``integer`` on a fractional dtype (whole-valued doubles pass)."""
    kinds = DRAFT_TYPES.get(tname)
    if dt is None or kinds is None or (
            tname == "integer" and isinstance(dt, _FRACTIONAL)):
        return None
    return isinstance(dt, kinds)


def _dtype(schema: Optional[T.StructType], col: str):
    """Resolve a (possibly dotted) column path through nested StructTypes —
    the engine's analog of the reference's nested-object descent
    (``src/int/processor.js:66-88``); the dotted path plays the role of the
    error ``path`` chain."""
    if schema is None:
        return None
    dt: object = schema
    for part in col.split("."):
        if not isinstance(dt, T.StructType):
            return None
        try:
            dt = dt[part].dataType
        except (KeyError, ValueError):
            return None
    return dt


def _has_path(schema: Optional[T.StructType], col: str) -> bool:
    """No schema = everything resolvable; otherwise _dtype IS the single
    path-resolution implementation (a second copy drifted once)."""
    return schema is None or _dtype(schema, col) is not None


@dataclass(frozen=True)
class Keyword:
    """One scalar keyword: the dtypes it constrains (None = every dtype),
    its pass predicate ``ok(compiler, constraint, x)`` over a value
    expression and its violation arg."""

    kinds: Optional[tuple]
    ok: Callable[..., Sql]
    arg: Callable[[dsl.Constraint], object] = lambda c: c.value


def _no_arg(c):
    return None


_STRING, _ARRAY, _MAP = (T.StringType,), (T.ArrayType,), (T.MapType,)

KEYWORDS = MappingProxyType({
    dsl.NotNull: Keyword(None, lambda k, c, x: x.isNotNull(), _no_arg),
    dsl.Enum: Keyword(None, lambda k, c, x: x.isin(list(c.values)),
                      lambda c: list(c.values)),
    dsl.Minimum: Keyword(_NUMERIC, lambda k, c, x: x >= S.lit(c.value)),
    dsl.ExclusiveMinimum: Keyword(_NUMERIC,
                                  lambda k, c, x: x > S.lit(c.value)),
    dsl.Maximum: Keyword(_NUMERIC, lambda k, c, x: x <= S.lit(c.value)),
    dsl.ExclusiveMaximum: Keyword(_NUMERIC,
                                  lambda k, c, x: x < S.lit(c.value)),
    dsl.MultipleOf: Keyword(
        _NUMERIC, lambda k, c, x: (x / S.lit(float(c.value))) % 1.0 == 0.0),
    dsl.MinLength: Keyword(_STRING, lambda k, c, x: k._str_len(x) >= c.value),
    dsl.MaxLength: Keyword(_STRING, lambda k, c, x: k._str_len(x) <= c.value),
    # JS .match() is an unanchored search → rlike, not full match
    dsl.Pattern: Keyword(_STRING, lambda k, c, x: x.rlike(c.regex),
                         lambda c: c.regex),
    dsl.Format: Keyword(_STRING,
                        lambda k, c, x: x.rlike(get_format(c.name).regexp),
                        lambda c: get_format(c.name).message),
    dsl.MinItems: Keyword(_ARRAY, lambda k, c, x: S.size(x) >= c.value),
    dsl.MaxItems: Keyword(_ARRAY, lambda k, c, x: S.size(x) <= c.value),
    # pass test only: the row context extracts duplicate occurrences itself
    dsl.UniqueItems: Keyword(
        _ARRAY, lambda k, c, x: S.size(x) == S.size(S.array_distinct(x)),
        _no_arg),
    dsl.MinProperties: Keyword(
        _MAP, lambda k, c, x: S.size(S.map_keys(x)) >= c.value),
    dsl.MaxProperties: Keyword(
        _MAP, lambda k, c, x: S.size(S.map_keys(x)) <= c.value),
})

# dtype guards of the container keywords, which compile through their own
# methods instead of an ok predicate
_CONTAINER_KINDS = MappingProxyType({
    dsl.Items: _ARRAY,
    dsl.TupleItems: _ARRAY,
    dsl.KeyPattern: _MAP,
    dsl.PatternProperties: (T.MapType, T.StructType),
    dsl.StructClosed: (T.StructType,),
})


def applies(c: dsl.Constraint, dt) -> bool:
    """Whether keyword ``c`` constrains values of dtype ``dt`` — the static
    form of the reference's typeof guards (v4validator.js:194-206): on any
    other dtype draft-4 passes the value, so the check compiles to nothing.
    ``dt is None`` (no schema: value-validator mode) applies everything."""
    kw = KEYWORDS.get(type(c))
    kinds = kw.kinds if kw is not None else _CONTAINER_KINDS.get(type(c))
    return dt is None or kinds is None or isinstance(dt, kinds)


def _null_aware_true(x: Sql) -> Sql:
    """Element predicate of a keyword that does not apply to the element
    dtype: it never fails a present value. Items, ``fields=`` and map-value
    compilers skip it (``static_true``); a tuple POSITION stays null-strict,
    so a null there still fails its spec."""
    return x.isNotNull()


_null_aware_true.static_true = True


def _element_fail(field: Optional[str], pred, required: bool):
    """Per-element fail builder of an Items check on the element itself
    (``field`` None) or on its struct field: null values skip value checks,
    NotNull flags them. A closure factory — a default-arg lambda reads as
    the (element, index) form to F.exists/filter."""
    def fail(x):
        v = x if field is None else x[field]
        if required:
            return v.isNull()
        return v.isNotNull() & ~S.coalesce(pred(v), False)
    return fail


def _strict_fail(pred):
    """Null-strict fail builder (tuple positions and extras): a null
    element fails."""
    def fail(x):
        return ~S.coalesce(pred(x), False)
    return fail


# --------------------------------------------------------------------------


class ConstraintCompiler:
    """Walks a Suite once, emitting expression fragments per constraint —
    the analog of the reference's schema walk + ``addFn`` dispatch
    (``compiler.js:135-173``)."""

    def __init__(self, suite: dsl.Suite, schema: Optional[T.StructType] = None):
        self.suite = suite
        self.schema = schema
        # cycle guards — the reference's $$visited marker (compiler.js:136-141)
        self._visiting: set[int] = set()   # nested constraint objects in flight
        self._ref_stack: set[str] = set()  # Ref names in flight

    # -- public -------------------------------------------------------------

    def compile(self) -> ValidationPlan:
        with S.binding() as bound:
            violations, valid = self._compile_row()
        return ValidationPlan(self.suite, violations,
                              self.suite.fingerprint(), valid, bound)

    # -- internals ----------------------------------------------------------

    def _compile_row(self) -> tuple[Sql, Optional[Sql]]:
        """The row's violation array and pass predicate."""
        if self.schema is not None:
            # check EVERY column the suite reads — not just suite.columns:
            # Dependency.on/requires/schema-form targets, Conform
            # extra_cols, and the id column. A typo in any of them should
            # be a SuiteCompileError at compile time, not an unresolved-
            # column AnalysisException at first action.
            wanted = set(self.suite.columns) | {self.suite.id_column}
            all_cs = [c for cs in self.suite.columns.values() for c in cs]
            all_cs += [c for _, c in self.suite.row]
            wanted |= dsl.referenced_columns(
                all_cs, definitions=self.suite.definitions)
            missing = [c for c in sorted(wanted)
                       if not _has_path(self.schema, c)]
            if missing:
                raise SuiteCompileError(
                    f"suite references missing column(s) {missing}; "
                    f"available: {sorted(self.schema.fieldNames())}")
        fragments: list[Sql] = []
        valids: list[Sql] = []
        for col_name, constraints in self.suite.columns.items():
            cc = self._compile_column(col_name, list(constraints))
            fragments.extend(cc.fragments)
            if cc.valid is not None:
                valids.append(cc.valid)
        for label, constraint in self.suite.row:
            cc = self._compile_one(
                label, S.col(label) if self._has(label) else S.lit(None),
                constraint, null_guard=False)
            fragments.extend(cc.fragments)
            if cc.valid is not None:
                valids.append(cc.valid)
        # the typed empty array gives the result the violation struct's
        # type, every field nullable, whatever literals the fragments hold
        empty = _typed_empty_violations()
        if not valids:
            return S.concat(empty, *fragments), None
        row_valid = _and_all(valids)
        # a NULL ``valid`` evaluates the fragments, which are exact
        return (S.when(row_valid, empty).otherwise(_concat_all(fragments)),
                row_valid)

    def _has(self, col_name: str) -> bool:
        return _has_path(self.schema, col_name)

    def _msg(self, code: str, arg=None) -> str:
        return render_message(code, arg, overrides=self.suite.messages,
                              gettext=getattr(self.suite, "gettext", None))

    def _str_len(self, col: Sql) -> Sql:
        """String length under the suite's strLength mode (the reference's
        pluggable strLength, v4validator.js:15-17) — all expression-only:
        codepoints = length(); utf16 = astral chars count 2 (JS
        String.length parity); graphemes = combining marks (\\p{M}) fold
        into their base character."""
        mode = getattr(self.suite, "str_length", "codepoints")
        if mode == "codepoints":
            return S.length(col)
        if mode == "utf16":
            return S.length(
                S.regexp_replace(col, r"[\x{10000}-\x{10FFFF}]", "__"))
        if mode == "graphemes":
            return S.length(S.regexp_replace(col, r"\p{M}", ""))
        raise SuiteCompileError(f"unknown str_length mode '{mode}'")

    def _compile_column(self, col_name: str, constraints: list[dsl.Constraint]) -> CompiledColumn:
        col = S.col(col_name)
        cc = CompiledColumn(col_name)
        valids: list[Sql] = []
        for c in constraints:
            # null short-circuit parity (ctx.stop(), v4validator.js:80):
            # every non-required check null-skips via its guard, so a null
            # value surfaces only `required`
            one = self._compile_one(col_name, col, c, null_guard=True)
            cc.fragments.extend(one.fragments)
            if one.valid is not None:
                valids.append(one.valid)
        cc.valid = _and_all(valids)
        return cc

    def _compile_one(
        self, col_name: str, col: Sql, c: dsl.Constraint, null_guard: bool
    ) -> CompiledColumn:
        """Cycle-guarded dispatch: a combinator/Ref whose branch structure
        reaches itself would recurse forever (the reference marks visited
        schema nodes, compiler.js:136-141); we detect re-entry on the same
        constraint object and fail with a clear error instead."""
        if isinstance(c, (dsl.AllOf, dsl.AnyOf, dsl.OneOf, dsl.Not,
                          dsl.Dependency, dsl.Ref)):
            key = id(c)
            if key in self._visiting:
                raise SuiteCompileError(
                    f"cyclic constraint structure: {type(c).__name__} on "
                    f"'{col_name}' reaches itself — recursive suites have no "
                    f"finite columnar plan")
            self._visiting.add(key)
            try:
                return self._dispatch_one(col_name, col, c, null_guard)
            finally:
                self._visiting.discard(key)
        return self._dispatch_one(col_name, col, c, null_guard)

    def _dispatch_one(
        self, col_name: str, col: Sql, c: dsl.Constraint, null_guard: bool
    ) -> CompiledColumn:
        """Dispatch table — the analog of selector matching
        (``src/int/matchers.js:31-63``)."""
        dt = _dtype(self.schema, col_name)
        out = CompiledColumn(col_name)
        if not applies(c, dt):
            return out
        m = c.message  # per-constraint override
        kw = KEYWORDS.get(type(c))

        if isinstance(c, dsl.NotNull):
            failed = col.isNull()
            if "." in col_name:
                # nested required applies only when the PARENT object is
                # present (draft-4/reference: the sub-schema is entered only
                # for existing properties, v4validator.js:67-79 + the
                # properties descent) — a null optional parent is silent;
                # the parent's own NotNull governs its absence
                parent = S.col(col_name.rsplit(".", 1)[0])
                failed = parent.isNotNull() & failed
            out.fragments.append(
                _scalar_fragment(failed, "required", col_name, S.lit(None), None,
                                 m or self._msg("required"))
            )
            out.valid = ~failed

        elif isinstance(c, dsl.UniqueItems):
            self._compile_unique_items(out, col_name, col, c, m, null_guard)

        elif kw is not None:
            # `failed` must be null-safe; the guard converts null input →
            # pass for every non-required check (optional-absent
            # semantics, v4validator.js:67-79)
            failed = S.coalesce(~kw.ok(self, c, col), True)
            if null_guard:
                failed = col.isNotNull() & failed
            arg = kw.arg(c)
            out.fragments.append(_scalar_fragment(
                failed, c.code, col_name, col, arg, m or self._msg(c.code, arg)))
            out.valid = ~failed

        elif isinstance(c, dsl.TypeIs):
            self._compile_type(out, col_name, col, c, m)

        elif isinstance(c, dsl.Items):
            self._compile_items(out, col_name, col, c, null_guard)

        elif isinstance(c, dsl.TupleItems):
            self._compile_tuple_items(out, col_name, col, c, null_guard)

        elif isinstance(c, dsl.KeyPattern):
            self._compile_key_pattern(out, col_name, col, c, m, null_guard)

        elif isinstance(c, dsl.PatternProperties):
            if isinstance(dt, T.StructType):
                self._compile_pattern_properties_struct(out, col_name, col,
                                                        c, null_guard)
            else:
                self._compile_pattern_properties(out, col_name, col, c,
                                                 null_guard)

        elif isinstance(c, dsl.StructClosed):
            if dt is not None:  # no schema, no static field list to check
                self._compile_struct_closed(out, col_name, col, c, m,
                                            null_guard)

        elif isinstance(c, dsl.Conform):
            self._compile_conform(out, col_name, col, c, m, null_guard)

        elif isinstance(c, (dsl.AllOf, dsl.AnyOf, dsl.OneOf)):
            self._compile_combinator(out, col_name, col, c, m, null_guard)
            if null_guard:
                # absent (null) value skips combinator checks entirely —
                # ctx.stop() on missing optional value (v4validator.js:67-79)
                out.fragments = [
                    S.when(col.isNotNull(), f).otherwise(_empty_violations())
                    for f in out.fragments
                ]
                out.valid = col.isNull() | S.coalesce(out.valid, True)

        elif isinstance(c, dsl.Not):
            sub = self._compile_branch(col_name, c.branch)
            failed = S.coalesce(sub.valid, True)  # branch VALID ⇒ 'not' fails
            if null_guard:
                failed = col.isNotNull() & failed
            out.fragments.append(
                _scalar_fragment(failed, "not", col_name, col, None, m or self._msg("not"))
            )
            out.valid = ~failed

        elif isinstance(c, dsl.Dependency):
            self._compile_dependency(out, col_name, c, m)

        elif isinstance(c, dsl.Ref):
            # inline expansion: identical plan to writing the definition's
            # constraints directly at this position
            with self._resolving(c) as target:
                for sub in target:
                    one = self._compile_one(col_name, col, sub, null_guard)
                    out.fragments.extend(one.fragments)
                    if one.valid is not None:
                        out.add_valid(one.valid)

        else:
            ext = dsl.get_extension(type(c))
            if ext is None:
                raise SuiteCompileError(f"Unknown constraint {type(c).__name__}")
            # V4Validator.extend analog: the plugin appends fragments itself,
            # built from a real Column
            ext(self, out, col_name, S.lift(col), c, m, null_guard)
        return out

    @contextmanager
    def _resolving(self, ref: dsl.Ref):
        """Yield a Ref's target constraints, cycle-guarded (the reference's
        $$visited marker, compiler.js:136-141): a definition reaching itself
        has no finite columnar plan."""
        target = self.suite.definitions.get(ref.name)
        if target is None:
            raise SuiteCompileError(
                f"Ref('{ref.name}') has no entry in suite.definitions "
                f"(known: {sorted(self.suite.definitions)})")
        if ref.name in self._ref_stack:
            raise SuiteCompileError(
                f"cyclic Ref('{ref.name}') — recursive definitions have "
                f"no finite columnar plan")
        self._ref_stack.add(ref.name)
        try:
            yield target
        finally:
            self._ref_stack.discard(ref.name)

    # -- type ---------------------------------------------------------------

    def _compile_type(self, out, col_name, col, c: dsl.TypeIs, m):
        """``type`` check. On a typed table the check is static (schema says
        the type), so it folds to nothing on match / constant-fail on
        mismatch. ``runtime=True`` = cast-probe for string-staged ingest.
        Union types (`type: [a,b]`) follow the error-splice semantics of
        v4validator.js:88-100: pass if any matches; on total failure emit one
        error per tried type."""
        types = c.type if isinstance(c.type, (list, tuple)) else [c.type]
        dt = _dtype(self.schema, col_name)

        def runtime_probe(tname) -> Sql:
            if tname == "null":
                return col.isNull()
            if not c.runtime:
                sm = _static_type_match(tname, dt)
                if sm is not None:
                    return S.lit(sm) | col.isNull()
            # cast-probe path (permissive string ingest; try_cast is ANSI-safe)
            if tname == "integer":
                d = col.try_cast("double")
                return col.isNull() | (d.isNotNull() & (d % 1.0 == 0.0))
            if tname == "number":
                return col.isNull() | col.try_cast("double").isNotNull()
            if tname == "boolean":
                return col.isNull() | S.lower(col.cast("string")).isin(["true", "false"])
            if tname in ("string", "array", "object"):
                sm = _static_type_match(tname, dt)
                return S.lit(sm if sm is not None else True) | col.isNull()
            raise SuiteCompileError(f"Unknown type '{tname}'")

        probes = [(t, runtime_probe(t)) for t in types]
        any_ok = _or_all([p for _, p in probes])
        # note: `type: null` means the value MUST be null; a null value passes
        # any type per the guard convention except when explicitly checked.
        for tname, probe in probes:
            failed = ~S.coalesce(any_ok, False) & ~S.coalesce(probe, False)
            if tname == "null":
                failed = ~S.coalesce(any_ok, False)
            out.fragments.append(_scalar_fragment(
                failed, tname, col_name, col, None, m or self._msg(tname)))
        out.add_valid(S.coalesce(any_ok, False))

    def _row_container_null(self, out, col_name, col, code, null_guard):
        """ROW-level (unguarded) container constraint on a NULL value: fail
        AND emit one violation with the container's code, like every
        row-level scalar check — then run the container body null-guarded.
        Without this, out.valid said invalid on NULL while the fragments
        emitted nothing, so invalid_rows() disagreed with violations()/
        verdicts()/is_valid() (round-4 review). Returns the (possibly
        upgraded) null_guard for the body."""
        if null_guard:
            return True
        null_failed = col.isNull()
        msg = self._msg(code)
        out.fragments.append(
            _scalar_fragment(null_failed, code, col_name, col, None, msg))
        out.add_valid(~null_failed)
        return True

    # -- arrays ---------------------------------------------------------------

    def _compile_unique_items(self, out, col_name, col, c, m, null_guard):
        """Intra-array duplicates, one violation per duplicate *occurrence*
        carrying the duplicated value (v4validator.js:233-246). Pass test is
        O(n) (`array_distinct` size); the O(n²) occurrence extraction runs
        only on failing rows, guarded by `when`."""
        null_guard = self._row_container_null(out, col_name, col, "uniqueItems", null_guard)
        has_dup = ~KEYWORDS[dsl.UniqueItems].ok(self, c, col)
        if null_guard:
            has_dup = col.isNotNull() & has_dup
        msg = m or self._msg("uniqueItems")
        out.add_valid(~has_dup)
        if not c.extract_occurrences:
            out.fragments.append(
                _scalar_fragment(has_dup, "uniqueItems", col_name, col, None, msg)
            )
            return
        # element at 0-based index i is a duplicate occurrence iff it appears
        # among the first i elements; eqNullSafe so null duplicates (which
        # array_distinct folds, making has_dup fire) are also EXTRACTED —
        # plain == yields NULL on null elements and silently drops them
        dup_occurrences = S.filter(
            col, lambda x, i: S.exists(S.slice(col, 1, i),
                                       lambda y: y.eqNullSafe(x))
        )
        structs = S.transform(
            dup_occurrences,
            lambda x: _vio_struct("uniqueItems", col_name, x, None, msg),
        )
        out.fragments.append(
            S.when(has_dup, structs).otherwise(_empty_violations())
        )

    def _items_checks(self, c: dsl.Items, et):
        """``(field, sub, code, arg, fail)`` per element check of an Items
        schema, shared by the row compile and the element predicate.
        ``field`` None checks the element itself (top-level Refs inlined so
        violations carry the target's codes); a name checks that field of an
        array<struct> element (processor.js:31-64: the items walk recurses
        into object sub-schemas). Checks that provably cannot fail on their
        dtype are dropped."""
        pairs = [(None, s, et) for s in self._expand_element_refs(c.constraints)]
        for fname, subs in c.field_items():
            ft = (et[fname].dataType if isinstance(et, T.StructType)
                  and fname in et.fieldNames() else None)
            pairs += [(fname, s, ft) for s in subs]
        checks = []
        for fname, sub, t in pairs:
            pred, code, arg = self._element_predicate(sub, t)
            if not getattr(pred, "static_true", False):
                fail = _element_fail(fname, pred, isinstance(sub, dsl.NotNull))
                checks.append((fname, sub, code, arg, fail))
        return checks

    def _compile_items(self, out, col_name, col, c: dsl.Items, null_guard):
        """Element-schema constraints (processor.js:31-47): pass test via
        `exists`; offender extraction via `filter`+`transform`, one violation
        per offending element — exactly the reference's per-element error
        loop, with codes `items.<subcode>`, or `items.<field>.<subcode>` with
        value = the offending FIELD value for ``fields=`` checks.

        Null elements (and null fields) follow COLUMN null semantics
        uniformly: they skip every value check (the optional-absent
        convention, v4validator.js:67-79, applied per element), and
        `Items([NotNull()])` flags their presence. Before round 3 the range
        fast-paths skipped nulls (array_min/max ignore them) while
        enum/pattern/multipleOf failed them — and the offender extractor
        flagged elements the pass test ignored. TupleItems stays
        null-strict: a tuple POSITION holding null fails its spec (presence
        is positional, pinned by the conformance_array oracle)."""
        null_guard = self._row_container_null(out, col_name, col, "items", null_guard)
        dt = _dtype(self.schema, col_name)
        et = dt.elementType if isinstance(dt, T.ArrayType) else None
        for fname, sub, code, arg, fail in self._items_checks(c, et):
            if fname is None and isinstance(sub, (dsl.Minimum, dsl.Maximum)):
                # range checks get specialized O(n) pass tests (array_min/max
                # beat a lambda loop in codegen, and skip nulls natively);
                # offender extraction below only runs on failing rows.
                # array_min/max are NULL on empty arrays and the null_guard
                # coalesces NULL to failed — but empty arrays must PASS
                # (reference semantics; round-1 ADVICE): gate on size>0 and
                # coalesce these branches to False, never True.
                bound = (S.array_min(col) if isinstance(sub, dsl.Minimum)
                         else S.array_max(col))
                failed_any = S.coalesce(
                    (S.size(col) > 0) & ~KEYWORDS[type(sub)].ok(self, sub, bound),
                    False)
            else:
                failed_any = S.exists(col, fail)
            if null_guard:
                failed_any = col.isNotNull() & S.coalesce(failed_any, False)
            msg = sub.message or self._msg(code, arg)
            full_code = f"items.{code}" if fname is None else f"items.{fname}.{code}"
            if c.extract_offenders:
                structs = S.transform(
                    S.filter(col, fail),
                    lambda x: _vio_struct(full_code, col_name,
                                          x if fname is None else x[fname],
                                          arg, msg))
                out.fragments.append(
                    S.when(failed_any, structs).otherwise(_empty_violations())
                )
            else:
                # codegen-friendly: one violation per array, value = array
                out.fragments.append(
                    _scalar_fragment(failed_any, full_code, col_name, col, arg, msg)
                )
            out.add_valid(~failed_any)

    def _tuple_checks(self, c: dsl.TupleItems, et):
        """Null-strict fail builders of a TupleItems schema, shared by the
        row compile and the element predicate: ``(i, sub, code, arg, fail)``
        per check at 0-based position ``i`` and ``(sub, code, arg, fail)``
        per check of the draft-4 additionalItems SCHEMA form. No static_true
        skip: a null at a spec'd position fails even a statically matching
        check (the null-aware constant preds handle it)."""
        positions = [(i, sub, *self._element_predicate(sub, et))
                     for i, spec in enumerate(c.specs) for sub in spec]
        extra = [(sub, *self._element_predicate(sub, et))
                 for sub in (self._expand_element_refs(c.additional)
                             if isinstance(c.additional, tuple) else ())]
        return ([(i, sub, code, arg, _strict_fail(pred))
                 for i, sub, pred, code, arg in positions],
                [(sub, code, arg, _strict_fail(pred))
                 for sub, pred, code, arg in extra])

    def _compile_tuple_items(self, out, col_name, col, c: dsl.TupleItems,
                             null_guard):
        """Positional tuple items + additionalItems
        (processor.js:54-61,113-124). Position i (1-based element_at) checks
        specs[i]; extras beyond len(specs) each emit `additionalItems` when
        additional=False — one violation per extra element, value = element."""
        null_guard = self._row_container_null(out, col_name, col, "items", null_guard)
        dt = _dtype(self.schema, col_name)
        et = dt.elementType if isinstance(dt, T.ArrayType) else None
        positions, extra = self._tuple_checks(c, et)
        # 0-based, null-safe (ANSI element_at throws)
        elems = [S.get(col, i) for i in range(len(c.specs))]
        for i, sub, code, arg, fail in positions:
            failed = (S.size(col) > i) & fail(elems[i])
            if null_guard:
                failed = col.isNotNull() & failed
            msg = sub.message or self._msg(code, arg)
            out.fragments.append(_scalar_fragment(
                failed, f"items.{i}.{code}", col_name, elems[i], arg, msg))
            out.add_valid(~failed)
        if c.additional is True:
            return
        n_spec = len(c.specs)
        has_extra = S.size(col) > n_spec
        if null_guard:
            has_extra = col.isNotNull() & has_extra
        extras = S.slice(col, n_spec + 1,
                         S.greatest(S.size(col) - n_spec, S.lit(0)))
        if c.additional is False or c.additional == ():
            # forbid form: one violation per extra element
            msg = c.message or self._msg("additionalItems")
            structs = S.transform(
                extras,
                lambda x: _vio_struct("additionalItems", col_name, x,
                                      None, msg))
            out.fragments.append(
                S.when(has_extra, structs).otherwise(_empty_violations()))
            out.add_valid(~has_extra)
        # draft-4 SCHEMA form: each extra element must satisfy the
        # sub-schema — null-strict like spec'd positions
        for sub, code, arg, fail in extra:
            msg = sub.message or self._msg(code, arg)
            full_code = f"additionalItems.{code}"
            bad = S.filter(extras, fail)
            structs = S.transform(
                bad,
                lambda x: _vio_struct(full_code, col_name, x, arg, msg))
            any_bad = has_extra & (S.size(bad) > 0)
            out.fragments.append(
                S.when(any_bad, structs).otherwise(_empty_violations()))
            out.add_valid(~S.coalesce(any_bad, False))

    def _compile_key_pattern(self, out, col_name, col, c: dsl.KeyPattern, m,
                             null_guard):
        """patternProperties analog for maps: keys matching no allowed regex
        each emit `additionalProperties` carrying the key
        (processor.js:90-111 + v4validator.js:287)."""
        null_guard = self._row_container_null(out, col_name, col, "additionalProperties", null_guard)
        bad_keys = S.filter(
            S.map_keys(col),
            lambda k: ~_or_all([k.rlike(p) for p in c.patterns]))
        has_bad = S.size(bad_keys) > 0
        if null_guard:
            has_bad = col.isNotNull() & S.coalesce(has_bad, False)
        msg = m or self._msg("additionalProperties")
        structs = S.transform(
            bad_keys,
            lambda k: _vio_struct("additionalProperties", col_name, k,
                                  _render_arg(list(c.patterns)), msg))
        out.fragments.append(
            S.when(has_bad, structs).otherwise(_empty_violations()))
        out.add_valid(~has_bad)

    def _compile_struct_closed(self, out, col_name, col, c: dsl.StructClosed,
                               m, null_guard):
        """additionalProperties=false for STRUCT columns: the field list is
        static (the struct type), so each undeclared field compiles to one
        null-probe fragment — no shuffle, no runtime key scan
        (v4validator.js:287 at an object ctx). A field passes if it is in
        ``allowed`` or SEARCH-matches any draft-4 patternProperties regex.

        Type guard (:func:`applies` admits only StructType): draft-4
        ``additionalProperties`` constrains OBJECTS only, so non-struct
        columns pass — the same silent type-guard every scalar keyword
        uses (maxLength on ints, minimum on strings). ``dt is None``
        (value-validator mode) also skips: there is no static field list
        to check; MapType closedness is KeyPattern/PatternProperties'
        job."""
        import re as _re

        dt = _dtype(self.schema, col_name)
        pats = [_re.compile(p) for p in c.patterns]
        allowed = set(c.allowed)
        msg = m or self._msg("additionalProperties")
        for fname in (f.name for f in dt.fields):
            if fname in allowed or any(p.search(fname) for p in pats):
                continue
            failed = col.getField(fname).isNotNull()
            if null_guard:
                failed = col.isNotNull() & failed
            out.fragments.append(_scalar_fragment(
                failed, "additionalProperties", f"{col_name}.{fname}",
                S.lit(fname), None, msg))
            out.add_valid(~failed)

    def _expand_element_refs(self, constraints):
        """Inline top-level Ref entries in an items element schema so their
        violations carry the TARGET's codes (same inline-expansion semantics
        as column-level Ref, references.js:11-27), cycle-guarded."""
        out = []
        for s in constraints:
            if isinstance(s, dsl.Ref):
                with self._resolving(s) as target:
                    out.extend(self._expand_element_refs(target))
            else:
                out.append(s)
        return out

    def _element_branch_pred(self, branch, elem_type=None):
        """AND of a branch's element predicates — a sub-schema used as an
        element check inside combinators/refs. Null-safe: a null predicate
        result counts as failed (matching the offender-extraction guard)."""
        preds = [self._element_predicate(s, elem_type)[0] for s in branch]

        def bp(x):
            return _and_all([S.coalesce(q(x), False) for q in preds])

        return bp

    def _compile_pattern_properties(self, out, col_name, col,
                                    c: dsl.PatternProperties, null_guard):
        """patternProperties value sub-schemas over map entries
        (processor.js:90-111). One violation per offending ENTRY with the
        sub-constraint's own code and column label `<col>[<key>]` — the
        columnar analog of the reference's per-key error path. Entry-value
        predicates reuse the items element machinery (combinators/refs
        included); null values skip checks, NotNull flags them. All
        closures are factories — NO default-arg lambdas (the harness would
        read them as the two-arg (element, index) form)."""
        null_guard = self._row_container_null(out, col_name, col, "additionalProperties", null_guard)
        entries = S.map_entries(col)

        def bad_factory(regex, pred, is_required):
            def bad(e):
                # regex None = the additional-schema path: applies to keys
                # matching NO pattern
                matches = e["key"].rlike(regex) if regex is not None else (
                    ~self._any_key_match(e["key"], c))
                if is_required:
                    return matches & e["value"].isNull()
                return matches & e["value"].isNotNull() & ~S.coalesce(
                    pred(e["value"]), False)
            return bad

        def vio_factory(code, arg, msg):
            def vio(e):
                return _vio_struct(
                    code,
                    S.concat(S.lit(col_name + "["), e["key"], S.lit("]")),
                    e["value"], arg, msg)
            return vio

        mdt = _dtype(self.schema, col_name)
        vtype = mdt.valueType if isinstance(mdt, T.MapType) else None

        def emit_value_checks(regex, subs):
            for sub in self._expand_element_refs(subs):
                pred, code, arg = self._element_predicate(sub, vtype)
                if getattr(pred, "static_true", False):
                    continue
                bad = bad_factory(regex, pred, isinstance(sub, dsl.NotNull))
                offenders = S.filter(entries, bad)
                has = S.size(offenders) > 0
                if null_guard:
                    has = col.isNotNull() & S.coalesce(has, False)
                msg = sub.message or self._msg(code, arg)
                structs = S.transform(offenders,
                                      vio_factory(code, arg, msg))
                out.fragments.append(
                    S.when(has, structs).otherwise(_empty_violations()))
                out.add_valid(~has)

        for regex, subs in c.spec_items():
            emit_value_checks(regex, subs)

        if c.additional is False:
            unmatched = S.filter(
                entries, lambda e: ~self._any_key_match(e["key"], c))
            has_bad = S.size(unmatched) > 0
            if null_guard:
                has_bad = col.isNotNull() & S.coalesce(has_bad, False)
            msg = c.message or self._msg("additionalProperties")
            structs = S.transform(
                unmatched,
                lambda e: _vio_struct("additionalProperties", col_name,
                                      e["key"],
                                      _render_arg([r for r, _ in
                                                   c.spec_items()]), msg))
            out.fragments.append(
                S.when(has_bad, structs).otherwise(_empty_violations()))
            out.add_valid(~has_bad)
        elif c.additional is not None:
            emit_value_checks(None, list(c.additional))

    def _any_key_match(self, key: Sql, c: dsl.PatternProperties) -> Sql:
        # declared `properties` names are never "additional" (draft-4,
        # v4validator.js:287) — exempt them from the additional policy
        return _or_all([key.rlike(r) for r, _ in c.spec_items()]
                       + [key == S.lit(name) for name in c.allowed])

    def _compile_pattern_properties_struct(self, out, col_name, col,
                                           c: dsl.PatternProperties,
                                           null_guard):
        """patternProperties value sub-schemas + the SCHEMA form of
        additionalProperties for STRUCT columns (the map path's static-field
        twin; before round 5b PatternProperties was silently dropped on
        structs, so `{properties: …, additionalProperties: {type: …}}` over
        object data never checked undeclared fields). The struct type is
        static, so each field's matching sub-schemas compile to per-field
        scalar probes — no runtime key scan, same strategy as StructClosed
        (v4validator.js:287, processor.js:90-111). ``additional=False``
        stays StructClosed's job (the translator emits one alongside)."""
        import re as _re

        dt = _dtype(self.schema, col_name)
        allowed = set(c.allowed)
        pats = [(_re.compile(r), subs) for r, subs in c.spec_items()]
        for f_ in dt.fields:
            fname = f_.name
            fcol = col.getField(fname)
            matched = [subs for p, subs in pats if p.search(fname)]
            if not matched and fname not in allowed:
                if isinstance(c.additional, (list, tuple)):
                    matched = [list(c.additional)]
            label = f"{col_name}.{fname}"
            for subs in matched:
                for sub in self._expand_element_refs(subs):
                    pred, code, arg = self._element_predicate(sub,
                                                              f_.dataType)
                    if getattr(pred, "static_true", False):
                        continue
                    # null field value skips value checks (the engine's
                    # missing/null collapse — a padded-absent property
                    # must not fire)
                    failed = _element_fail(
                        None, pred, isinstance(sub, dsl.NotNull))(fcol)
                    if null_guard:
                        failed = col.isNotNull() & S.coalesce(failed,
                                                              False)
                    msg = sub.message or self._msg(code, arg)
                    out.fragments.append(_scalar_fragment(
                        failed, code, label, fcol, arg, msg))
                    out.add_valid(~failed)

    def _element_predicate(self, sub: dsl.Constraint, elem_type=None):
        """``(ok, code, arg)`` of a constraint in the element context: ``ok``
        maps an element (lambda variable, struct field, map value or tuple
        position) to its pass predicate.

        Combinators nest (the reference's items walk descends into arbitrary
        sub-schemas, processor.js:31-64): the element emits ONE violation
        with the combinator's code — per-branch sub-error bubbling is a
        column-level feature only (documented divergence; at element level a
        bubbled sub-error would not identify which element it came from).

        ``elem_type`` is the element's Spark DataType (from the array/map
        schema): the same :func:`applies` guard as the row context drops
        inapplicable keywords, and TypeIs folds statically against it
        (double elements keep the whole-valued runtime probe)."""
        kw = KEYWORDS.get(type(sub))
        if not applies(sub, elem_type):
            return _null_aware_true, sub.code, kw.arg(sub) if kw else None
        if kw is not None:
            return (lambda x: kw.ok(self, sub, x)), sub.code, kw.arg(sub)
        if isinstance(sub, dsl.TypeIs):
            return self._element_type_pred(sub, elem_type)
        if isinstance(sub, (dsl.AllOf, dsl.AnyOf, dsl.OneOf)):
            # NO default args on these closures: F.forall/filter treat a
            # two-arg callable as the (element, index) form (CLAUDE.md
            # round-1 gotcha) — branch_preds binds by closure instead
            branch_preds = [self._element_branch_pred(b, elem_type)
                            for b in sub.branches]
            if isinstance(sub, dsl.AllOf):
                def pred_all(x):
                    return _and_all([bp(x) for bp in branch_preds])
                return pred_all, "allOf", None
            if isinstance(sub, dsl.AnyOf):
                def pred_any(x):
                    return _or_all([bp(x) for bp in branch_preds])
                return pred_any, "anyOf", None

            def pred_one(x):
                n = S.lit(0)
                for bp in branch_preds:
                    n = n + bp(x).cast("int")
                return n == S.lit(1)
            return pred_one, "oneOf", None
        if isinstance(sub, dsl.Not):
            bp = self._element_branch_pred(sub.branch, elem_type)
            return (lambda x: ~bp(x)), "not", None
        if isinstance(sub, dsl.Ref):
            # nested (inside a combinator branch) ref: AND of the target —
            # top-level items refs are pre-expanded in _expand_element_refs
            # so they keep the target's own codes
            with self._resolving(sub) as target:
                return (self._element_branch_pred(target, elem_type),
                        f"ref.{sub.name}", None)
        # ---- container constraints ON an element (arbitrary-depth descent,
        # processor.js:31-64 recursion): array<array<…>> and
        # array<struct<…, array<…>>> element schemas pass iff no row-context
        # fail builder fires. The element emits ONE violation with the
        # container's code — per-inner-element error extraction is a
        # top-level feature (an inner offender would not identify its outer
        # element), same convention as combinators.
        inner = (elem_type.elementType
                 if isinstance(elem_type, T.ArrayType) else None)
        if isinstance(sub, dsl.Items):
            fails = [f for *_, f in self._items_checks(sub, inner)]

            def items_ok(x):
                return S.forall(x, lambda y: _and_all([~f(y) for f in fails]))
            return items_ok, "items", None
        if isinstance(sub, dsl.TupleItems):
            positions, extra = self._tuple_checks(sub, inner)
            n_spec = len(sub.specs)

            def tuple_ok(x):
                ok = [~((S.size(x) > i) & f(S.get(x, i)))
                      for i, *_, f in positions]
                if sub.additional is False or sub.additional == ():
                    ok.append(~(S.size(x) > n_spec))
                for *_, f in extra:
                    extras = S.slice(x, n_spec + 1,
                                     S.greatest(S.size(x) - n_spec, S.lit(0)))
                    ok.append(S.forall(extras, lambda e: ~f(e)))
                return _and_all(ok)
            return tuple_ok, "items", None
        raise SuiteCompileError(
            f"{type(sub).__name__} not supported as an items() element constraint"
        )

    def _element_type_pred(self, sub: dsl.TypeIs, elem_type):
        """``items: {type: ...}`` — static against the element's Spark type
        (the official suite's items/type cases): exact-type members fold to
        constants; ``integer`` on float/double/decimal elements keeps the
        whole-valued runtime probe; ``null`` is always runtime. Union lists
        OR their members and emit ONE ``type`` violation (the element-level
        single-code convention — the column-level error splice needs a
        column to attach each tried type to)."""
        types = sub.type if isinstance(sub.type, (list, tuple)) else [sub.type]

        def member_factory(tname):
            if tname == "null":
                return lambda x: x.isNull()
            if elem_type is None:
                raise SuiteCompileError(
                    f"TypeIs('{tname}') as an element constraint needs a "
                    f"typed schema (compile with df.schema)")
            if tname not in DRAFT_TYPES:
                raise SuiteCompileError(f"Unknown type '{tname}'")
            static = _static_type_match(tname, elem_type)
            if static is None:  # integer on a fractional dtype
                return lambda x: (x % S.lit(1.0)) == 0.0

            # null-AWARE constant: a null element is NOT of type `tname`
            # (draft-4: null only matches "null"). Where the caller's null
            # convention skips nulls (items/fields/map values) the guard
            # hides this; where positions are null-strict (TupleItems) it
            # must fail — a bare literal made the verdict depend on
            # the element's physical dtype (round-4 review finding).
            def const(x):
                return x.isNotNull() & S.lit(static)
            const.static_value = static
            return const

        members = [member_factory(t) for t in types]

        def pred(x):
            return _or_all([mp(x) for mp in members])

        # static DCE: if any member folds to a constant TRUE, the check can
        # never fail — mark it so the items compilers emit NOTHING (a
        # constant-false exists() still walks every element of every array
        # at runtime; at 10^12 rows × 2048 tokens that is real work)
        pred.static_true = any(getattr(mp, "static_value", None) is True
                               for mp in members)
        if len(types) == 1:
            return pred, str(types[0]), None
        return pred, "type", list(types)

    # -- custom ---------------------------------------------------------------

    def _compile_conform(self, out, col_name, col, c: dsl.Conform, m, null_guard):
        if (c.expr is None) == (c.pandas_fn is None):
            raise SuiteCompileError("Conform needs exactly one of expr / pandas_fn")
        # the callable gets real Columns; its predicate is bound
        value, *extra = [S.lift(x) for x in [col, *map(S.col, c.extra_cols)]]
        if c.expr is not None:
            pred = c.expr(value, *extra)
        else:
            pred = F.pandas_udf(c.pandas_fn, T.BooleanType())(value, *extra)
        code = c.code
        ok = S.as_sql(pred).eqNullSafe(True)  # a NULL predicate fails
        if null_guard:
            # column-level conform skips absent (null) values like every
            # other non-required check; row-level conform (null_guard=False)
            # sees raw values — the reference's custom fns decide themselves
            ok = col.isNull() | ok
        msg = m or (self._msg("custom") if code == "custom" else
                    render_message(code, self._msg("custom"),
                                   overrides=self.suite.messages,
                                   gettext=getattr(self.suite, "gettext",
                                                   None)))
        out.fragments.append(S.when(ok, _typed_empty_violations()).otherwise(
            S.array(_vio_struct(code, col_name, col, None, msg))))
        out.valid = ok

    # -- combinators ------------------------------------------------------------

    def _compile_branch(self, col_name: str, constraints: Sequence[dsl.Constraint]) -> CompiledColumn:
        """Full recursive sub-compilation — the analog of ctx.compile
        (compiler.js:53-70): a branch is an independent list of fragments +
        a validity predicate."""
        cc = self._compile_column(col_name, list(constraints))
        if cc.valid is None:
            cc.valid = S.lit(True)
        return cc

    def _compile_combinator(self, out, col_name, col, c, m, null_guard):
        branches = [self._compile_branch(col_name, b) for b in c.branches]
        valids = [S.coalesce(b.valid, False) for b in branches]
        sub_errs = [
            _concat_all([f for f in b.fragments]) if b.fragments else _empty_violations()
            for b in branches
        ]

        if isinstance(c, dsl.AllOf):
            # each failing branch: one 'allOf' error + its sub-errors
            # (v4validator.js:127-137)
            msg = m or self._msg("allOf")
            frags = []
            for v, errs in zip(valids, sub_errs):
                head = S.array(_vio_struct("allOf", col_name, col, None, msg))
                frags.append(
                    S.when(~v, S.concat(head, errs)).otherwise(_empty_violations())
                )
            out.fragments.append(_concat_all(frags))
            allv = _and_all(valids)
            out.valid = allv

        elif isinstance(c, dsl.AnyOf):
            any_ok = _or_all(valids)
            msg = m or self._msg("anyOf")
            head = S.array(_vio_struct("anyOf", col_name, col, None, msg))
            all_errs = _concat_all(sub_errs)
            out.fragments.append(
                S.when(~any_ok, S.concat(head, all_errs)).otherwise(_empty_violations())
            )
            out.valid = any_ok

        elif isinstance(c, dsl.OneOf):
            count = None
            for v in valids:
                t = v.cast("int")
                count = t if count is None else count + t
            zero_msg = m or self._msg("oneOf.zero")
            many_msg = m or self._msg("oneOf")
            all_errs = _concat_all(sub_errs)
            frag = (
                S.when(count == 0,
                       S.concat(S.array(_vio_struct("oneOf.zero", col_name, col, None, zero_msg)),
                                all_errs))
                .when(count > 1, S.array(_vio_struct("oneOf", col_name, col, None, many_msg)))
                .otherwise(_empty_violations())
            )
            out.fragments.append(frag)
            out.valid = count == 1

    def _compile_dependency(self, out, col_name, c: dsl.Dependency, m):
        """If `on` is present (non-null — the columnar analog of
        hasOwnProperty, v4validator.js:104-123): dependent requirements must
        hold; failure → 'dependency' error (arg = original spec) + sub-errors."""
        on = S.col(c.on)
        sub_frags: list[Sql] = []
        sub_valids: list[Sql] = []
        if c.requires:
            for req in c.requires:
                b = self._compile_column(req, [dsl.NotNull()])
                sub_frags.extend(b.fragments)
                sub_valids.append(S.coalesce(b.valid, False))
            arg = list(c.requires)
        else:
            for target_col, constraint in c.constraints:
                b = self._compile_one(target_col, S.col(target_col), constraint, null_guard=True)
                sub_frags.extend(b.fragments)
                if b.valid is not None:
                    sub_valids.append(S.coalesce(b.valid, False))
            arg = f"schema({c.on})"
        dep_valid = _and_all(sub_valids)
        triggered = on.isNotNull()
        failed = triggered & ~dep_valid
        msg = m or self._msg("dependency", arg)
        head = S.array(_vio_struct("dependency", col_name, on, arg, msg))
        errs = _concat_all(sub_frags) if sub_frags else _empty_violations()
        out.fragments.append(
            S.when(failed, S.concat(head, errs)).otherwise(_empty_violations())
        )
        out.valid = ~failed


def _and_all(preds: list[Sql]) -> Sql:
    return S.and_all(preds) if preds else S.lit(True)


def _or_all(preds: list[Sql]) -> Sql:
    return S.or_all(preds) if preds else S.lit(False)


def _concat_all(frags: list[Sql]) -> Sql:
    return S.concat(*frags) if frags else _empty_violations()


def compile_suite(suite: dsl.Suite, schema: Optional[T.StructType] = None) -> ValidationPlan:
    """Public entry — analog of ``compile(schema, selector, opts)``
    (``compiler.js:215-218``)."""
    return ConstraintCompiler(suite, schema).compile()
