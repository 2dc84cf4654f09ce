"""Suite walker + derived tools — the analog of ``newIterator``.

The reference's third entry point (``src/iterator.js:14``) lets users build
new tools from the same schema walk (its README dedicates half its length to
a form generator built this way, ``README.md:314-646``). The engine analog:
:func:`walk_suite` performs the same deterministic traversal over a
:class:`~schemasaurus_spark.dsl.Suite` firing visitor callbacks
(``column_start`` / ``constraint`` / ``column_end`` — the ``:start``/plain/
``:end`` selector modifiers, ``src/int/matchers.js:3-63``), and two example
tools are built on it:

* :func:`suite_to_markdown` — human-readable constraint documentation
  (the "form generator" of a data platform);
* :func:`suite_to_ddl` — a ``CREATE TABLE`` skeleton with constraints as
  ``CHECK``-style comments for catalogs that support them.
"""

from __future__ import annotations

import logging
from typing import Callable, Optional

from schemasaurus_spark import dsl
from schemasaurus_spark.messages import render_message

_log = logging.getLogger("schemasaurus_spark")


class SuiteVisitor:
    """Subclass and override — the analog of a selector class
    (``README.md:399-412``)."""

    def begin(self, suite: dsl.Suite) -> None: ...

    def column_start(self, name: str) -> None: ...

    def constraint(self, column: str, c: dsl.Constraint) -> None: ...

    def column_end(self, name: str) -> None: ...

    # :item / :item-end selector modifiers (src/int/matchers.js:3-63;
    # processor.js:43-47 schemaOnly item iteration): fired around the
    # element-schema constraints of Items (index=None, one homogeneous
    # schema) and TupleItems (one pair per positional spec).
    def item_start(self, column: str, index) -> None: ...

    def item_end(self, column: str, index) -> None: ...

    def row_constraint(self, label: str, c: dsl.Constraint) -> None: ...

    # combinator/ref descent (round-4 review: the compiler ENFORCES branch
    # and Ref-target constraints, so generated docs/DDL must see them):
    # fired around each AllOf/AnyOf/OneOf branch, a Not branch, and a
    # Ref's resolved definition
    def branch_start(self, column: str, kind: str, index) -> None: ...

    def branch_end(self, column: str, kind: str, index) -> None: ...

    def end(self, suite: dsl.Suite): ...


def _visit_constraint(visitor: SuiteVisitor, name: str, c: dsl.Constraint,
                      definitions=None, _ref_stack: frozenset = frozenset()):
    visitor.constraint(name, c)
    if isinstance(c, dsl.Items):
        visitor.item_start(name, None)
        for sub in c.constraints:
            _visit_constraint(visitor, name, sub, definitions, _ref_stack)
        # array<struct> field descent: the compiler ENFORCES these (codes
        # items.<field>.*), so visitors/markdown/DDL must see them too —
        # fields surface as item events keyed by the field name
        for fname, subs in (c.field_items() if c.fields else []):
            visitor.item_start(name, fname)
            for sub in subs:
                _visit_constraint(visitor, f"{name}.{fname}", sub,
                                  definitions, _ref_stack)
            visitor.item_end(name, fname)
        visitor.item_end(name, None)
    elif isinstance(c, dsl.TupleItems):
        for i, spec in enumerate(c.specs):
            visitor.item_start(name, i)
            for sub in spec:
                _visit_constraint(visitor, name, sub, definitions,
                                  _ref_stack)
            visitor.item_end(name, i)
    elif isinstance(c, (dsl.AllOf, dsl.AnyOf, dsl.OneOf)):
        for i, branch in enumerate(c.branches):
            visitor.branch_start(name, c.code, i)
            for sub in branch:
                _visit_constraint(visitor, name, sub, definitions,
                                  _ref_stack)
            visitor.branch_end(name, c.code, i)
    elif isinstance(c, dsl.Not):
        visitor.branch_start(name, "not", 0)
        for sub in c.branch:
            _visit_constraint(visitor, name, sub, definitions, _ref_stack)
        visitor.branch_end(name, "not", 0)
    elif isinstance(c, dsl.Ref) and definitions and c.name not in _ref_stack:
        target = definitions.get(c.name)
        if target:
            visitor.branch_start(name, f"ref:{c.name}", 0)
            for sub in target:
                _visit_constraint(visitor, name, sub, definitions,
                                  _ref_stack | {c.name})
            visitor.branch_end(name, f"ref:{c.name}", 0)
    elif isinstance(c, dsl.Dependency) and c.constraints:
        visitor.branch_start(name, "dependency", 0)
        for target, sub in c.constraints:
            _visit_constraint(visitor, target, sub, definitions, _ref_stack)
        visitor.branch_end(name, "dependency", 0)


def walk_suite(suite: dsl.Suite, visitor: SuiteVisitor):
    """Deterministic traversal in declaration order (the reference's
    traversal-order guarantee, ``compiler.js:156-173``), including per-item
    sub-schema events for Items/TupleItems."""
    visitor.begin(suite)
    for name, constraints in suite.columns.items():
        visitor.column_start(name)
        for c in constraints:
            _visit_constraint(visitor, name, c, suite.definitions)
        visitor.column_end(name)
    for label, c in suite.row:
        visitor.row_constraint(label, c)
        _visit_constraint_children_only = isinstance(
            c, dsl.Dependency) and c.constraints
        if _visit_constraint_children_only:
            visitor.branch_start(label, "dependency", 0)
            for target, sub in c.constraints:
                _visit_constraint(visitor, target, sub, suite.definitions)
            visitor.branch_end(label, "dependency", 0)
    return visitor.end(suite)


def _describe(c: dsl.Constraint) -> str:
    """One-line human description via the message catalog."""
    arg = None
    for attr in ("value", "values", "regex", "name", "on"):
        if hasattr(c, attr):
            arg = getattr(c, attr)
            break
    try:
        return render_message(c.code, arg)
    except Exception:
        _log.warning("no description for constraint %r; using its code",
                     c.code, exc_info=True)
        return c.code


class _MarkdownVisitor(SuiteVisitor):
    def begin(self, suite):
        self.lines = [f"# Constraint suite `{suite.name}`",
                      f"Id column: `{suite.id_column}` · fingerprint "
                      f"`{suite.fingerprint()}`", ""]

    def column_start(self, name):
        self.lines.append(f"## `{name}`")
        self._depth = 0

    def constraint(self, column, c):
        self.lines.append(f"{'  ' * self._depth}- **{c.code}** — {_describe(c)}")

    def item_start(self, column, index):
        label = "each item" if index is None else f"item[{index}]"
        self.lines.append(f"{'  ' * (self._depth + 1)}- _{label}:_")
        self._depth += 2

    def branch_start(self, column, kind, index):
        self.lines.append(f"{'  ' * (self._depth + 1)}- _{kind}[{index}]:_")
        self._depth += 2

    def branch_end(self, column, kind, index):
        self._depth -= 2

    def item_end(self, column, index):
        self._depth -= 2

    def column_end(self, name):
        self.lines.append("")

    def row_constraint(self, label, c):
        self.lines.append(f"- cross-field on `{label}`: **{c.code}** — {_describe(c)}")

    def end(self, suite):
        return "\n".join(self.lines).rstrip() + "\n"


def suite_to_markdown(suite: dsl.Suite) -> str:
    return walk_suite(suite, _MarkdownVisitor())


_DDL_TYPES = {
    "doc_id": "STRING", "tokens": "ARRAY<INT>", "n_tok": "INT",
    "source": "STRING",
}


class _DdlVisitor(SuiteVisitor):
    def __init__(self, table: str, types: Optional[dict] = None):
        self.table = table
        self.types = {**_DDL_TYPES, **(types or {})}

    def begin(self, suite):
        self.cols: list[str] = []
        self.comments: list[str] = []

    def column_start(self, name):
        self._not_null = False
        self._checks: list[str] = []

    def constraint(self, column, c):
        if isinstance(c, dsl.NotNull):
            self._not_null = True
        else:
            self._checks.append(f"{c.code}: {_describe(c)}")

    def column_end(self, name):
        t = self.types.get(name, "STRING")
        nn = " NOT NULL" if self._not_null else ""
        comment = "; ".join(self._checks)
        c = f"  {name} {t}{nn}"
        if comment:
            c += " COMMENT '" + comment.replace("'", "''") + "'"
        self.cols.append(c)

    def row_constraint(self, label, c):
        self.comments.append(f"-- cross-field [{label}] {c.code}: {_describe(c)}")

    def end(self, suite):
        body = ",\n".join(self.cols)
        tail = ("\n" + "\n".join(self.comments)) if self.comments else ""
        return f"CREATE TABLE {self.table} (\n{body}\n) USING iceberg;{tail}\n"


def suite_to_ddl(suite: dsl.Suite, table: str = "sequences",
                 types: Optional[dict] = None) -> str:
    return walk_suite(suite, _DdlVisitor(table, types))


# ------------------------------------------------------- per-VALUE tools
#
# The reference's generated function runs over DATA (``newIterator`` →
# ``gen(object)``, src/iterator.js:14 + README.md:314-646 form generator).
# The Spark-first analog compiles a Suite + selector tool into ONE
# projection: each selector method returns a per-row Column fragment, and
# ``end`` combines them into the tool's per-row output — so the "form
# generator" renders for every row of a DataFrame in a single pass, no
# Python in the row loop.

import re as _re

from pyspark.sql import Column, DataFrame, functions as F
from dataclasses import dataclass as _dataclass

_SELECTOR_COND = _re.compile(r"\[(\^?)([^=\]]+?)(?:=([^\]]+))?\]")
_SELECTOR_MODS = (":start", ":end", ":item", ":item-end")


def _parse_selector(sel: str):
    """``[attr]`` / ``[^attr]`` / ``[attr=value]`` / ``[^attr=value]`` /
    ``[a][b]`` conjunctions, with ``:start``/``:end``/``:item``/
    ``:item-end`` modifiers — the reference's selector syntax
    (README.md:399-412, src/int/matchers.js:31-63)."""
    mod = "plain"
    base = sel
    for suffix in _SELECTOR_MODS:
        if sel.endswith(suffix):
            base, mod = sel[:-len(suffix)], suffix[1:]
            break
    conds = [(m.group(1) == "^", m.group(2), m.group(3))
             for m in _SELECTOR_COND.finditer(base)]
    if not conds:
        raise ValueError(f"selector {sel!r} has no [attr] condition")
    return conds, mod


def _selector_matches(conds, kws: dict) -> bool:
    for neg, attr, val in conds:
        if val is None:
            ok = attr in kws
        else:
            ok = attr in kws and str(kws[attr]).lower() == val.lower()
        if ok == neg:  # [^attr] wants absence; [attr] wants presence
            return False
    return True


def column_keywords(constraints) -> dict:
    """Draft-4 keyword view of a constraint list (what selectors match
    against) — the reverse translation schema_json already maintains."""
    from schemasaurus_spark.schema_json import (
        SchemaTranslationError, _constraint_to_keywords)

    kws: dict = {}
    for c in constraints:
        try:
            kws.update(_constraint_to_keywords(c))
        except SchemaTranslationError:
            kws[c.code] = True  # extension/no-JSON-form constraints
    return kws


@_dataclass
class ToolCtx:
    """ctx analog (README.md:372-375): ``path`` is the column (dotted for
    nested struct fields), ``keywords`` the matched schema view."""

    path: str
    keywords: dict


class RowTool:
    """Subclass and override — the SelectorCtor analog. ``selectors()``
    maps selector strings to methods ``fn(col, ctx) -> Column | None``;
    each non-None return becomes one per-row fragment, in declaration
    order with ``:start`` fragments first and ``:end`` last per column.
    ``:item`` selectors fire per ARRAY ELEMENT: the method receives the
    element Column inside ``F.transform`` and its fragments are
    ``array_join``-ed. ``end(fragments)`` combines everything into the
    per-row output Column."""

    def begin(self) -> None: ...

    def selectors(self) -> dict:
        return {}

    def end(self, fragments: list) -> Column:
        return F.concat_ws("\n", *fragments)


def compile_row_tool(suite: dsl.Suite, tool_cls):
    """``newIterator(schema, SelectorCtor)`` analog: returns
    ``gen(df, output_col) -> DataFrame`` emitting ``(id_column,
    output_col)`` — one declarative projection, zero shuffle, zero
    per-row Python."""
    def gen(df: DataFrame, output_col: str = "tool_output") -> DataFrame:
        tool = tool_cls()
        tool.begin()
        parsed = [(sel, *_parse_selector(sel), fn)
                  for sel, fn in tool.selectors().items()]
        fragments: list[Column] = []
        for name, constraints in suite.columns.items():
            kws = column_keywords(constraints)
            ctx = ToolCtx(path=name, keywords=kws)
            col = F.col(name)
            def fire_phase(phase):
                for sel, conds, mod, fn in parsed:
                    if mod != phase or not _selector_matches(conds, kws):
                        continue
                    frag = fn(col, ctx)
                    if frag is not None:
                        fragments.append(frag)

            fire_phase("start")
            fire_phase("plain")
            # :item fragments land BETWEEN :start and :end — the
            # reference's fieldset example closes its wrapper AFTER the
            # items (README.md:437-458)
            item_sels = [(sel, conds, mod, fn)
                         for sel, conds, mod, fn in parsed
                         if mod in ("item", "item-end")
                         and _selector_matches(conds, kws)]
            if item_sels:
                def make_fire(sels, c2):
                    def fire(e):
                        parts = [fn(e, c2) for _, _, m2, fn in sels
                                 if m2 == "item"]
                        parts += [fn(e, c2) for _, _, m2, fn in sels
                                  if m2 == "item-end"]
                        return F.concat_ws(
                            "", *[p for p in parts if p is not None])
                    return fire
                fragments.append(F.array_join(
                    F.transform(col, make_fire(item_sels, ctx)), ""))
            fire_phase("end")
        out = tool.end(fragments)
        cols = ([F.col(suite.id_column)]
                if suite.id_column in df.columns else [])
        return df.select(*cols, out.alias(output_col))
    return gen


# ------------------------------------------------------- suite diff


@_dataclass(frozen=True)
class SuiteChange:
    kind: str        # column_added | column_removed | constraint_added |
                     # constraint_removed | row_rule_added |
                     # row_rule_removed | setting_changed
    column: str      # "" for suite-level settings
    detail: str


def _constraint_key(c) -> str:
    """Process-independent canonical form of one constraint: repr with
    function addresses normalized + the bytecode digests Suite.fingerprint
    uses — so editing a Conform lambda's BODY reads as a change even
    though its repr doesn't (same two hazards, same remedies)."""
    import re

    canon = re.sub(r" at 0x[0-9a-f]+>", " at 0x0>", repr(c))
    toks = "".join(sorted(dsl._callable_digests(c)))
    return canon + ("|" + toks if toks else "")


def suite_diff(a: dsl.Suite, b: dsl.Suite) -> list[SuiteChange]:
    """Human-readable diff between two suite versions — the companion to
    ``Suite.fingerprint``: a fingerprint mismatch tells resume to
    re-validate, this tells the HUMAN what changed (reference analog: a
    schema edit between runs of ``newValidator``). Compares id_column,
    allow_undeclared_columns, per-column constraint multisets, and row
    rules; a modified constraint appears as removed+added."""
    from collections import Counter

    out: list[SuiteChange] = []
    if a.id_column != b.id_column:
        out.append(SuiteChange("setting_changed", "",
                               f"id_column: {a.id_column} -> {b.id_column}"))
    if a.allow_undeclared_columns != b.allow_undeclared_columns:
        out.append(SuiteChange(
            "setting_changed", "",
            f"allow_undeclared_columns: {a.allow_undeclared_columns} "
            f"-> {b.allow_undeclared_columns}"))
    for col in sorted(set(a.columns) - set(b.columns)):
        out.append(SuiteChange("column_removed", col,
                               f"{len(a.columns[col])} constraint(s)"))
    for col in sorted(set(b.columns) - set(a.columns)):
        out.append(SuiteChange("column_added", col,
                               f"{len(b.columns[col])} constraint(s)"))
    for col in sorted(set(a.columns) & set(b.columns)):
        ca = Counter(_constraint_key(c) for c in a.columns[col])
        cb = Counter(_constraint_key(c) for c in b.columns[col])
        for key in sorted((ca - cb).elements()):
            out.append(SuiteChange("constraint_removed", col, key))
        for key in sorted((cb - ca).elements()):
            out.append(SuiteChange("constraint_added", col, key))
    ra = Counter(f"{label}: {_constraint_key(c)}" for label, c in a.row)
    rb = Counter(f"{label}: {_constraint_key(c)}" for label, c in b.row)
    for key in sorted((ra - rb).elements()):
        out.append(SuiteChange("row_rule_removed", "", key))
    for key in sorted((rb - ra).elements()):
        out.append(SuiteChange("row_rule_added", "", key))
    return out

# ------------------------------------------------------- suite lint
#
# Static satisfiability / sanity analysis of a Suite BEFORE any data is
# scanned — another tool built from the same schema walk (the reference's
# newIterator precedent: new tools from the constraint tree,
# src/iterator.js:14). A contradiction like `minimum: 10, maximum: 5`
# compiles fine and then fails EVERY non-null row at full scan cost; at
# 10^12 rows that is a wasted cluster pass over 100 TB, so the linter is
# the pre-flight check a validation job runs at submit time (zero Spark,
# zero scans — pure constraint-tree analysis).


@_dataclass(frozen=True)
class LintFinding:
    severity: str   # error: every non-null value fails | warning | info
    column: str     # dotted path; "[]" suffix = array-element scope
    code: str
    message: str


_TYPE_SETS = {
    "string": {"string"}, "boolean": {"boolean"}, "null": {"null"},
    "array": {"array"}, "object": {"object"},
    "integer": {"integer"}, "number": {"integer", "number"},
}


def _scope_types(constraints) -> Optional[set]:
    """Intersection of every TypeIs in a conjunctive scope (None = no
    type constraint). Empty set = contradiction."""
    out = None
    for c in constraints:
        if isinstance(c, dsl.TypeIs):
            ts = c.type if isinstance(c.type, (list, tuple)) else [c.type]
            allowed = set()
            for t in ts:
                allowed |= _TYPE_SETS.get(t, {t})
            out = allowed if out is None else out & allowed
    return out


def _enum_value_ok(v, lo, lo_ex, hi, hi_ex, types, min_len, max_len,
                   patterns) -> bool:
    """Would enum member `v` survive the scope's OTHER static checks?
    (null members stay live: the null-guard skips every check.)"""
    if v is None:
        return True
    if types is not None:
        if isinstance(v, bool):
            t = "boolean"
        elif isinstance(v, int):
            t = "integer"
        elif isinstance(v, float):
            t = "integer" if v == int(v) else "number"
        elif isinstance(v, str):
            t = "string"
        elif isinstance(v, (list, tuple)):
            t = "array"
        elif isinstance(v, dict):
            t = "object"
        else:
            t = "?"
        widened = {t} | ({"number"} if t == "integer" else set())
        if not widened & types:
            return False
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        if lo is not None and (v < lo or (lo_ex and v == lo)):
            return False
        if hi is not None and (v > hi or (hi_ex and v == hi)):
            return False
    if isinstance(v, str):
        if min_len is not None and len(v) < min_len:
            return False
        if max_len is not None and len(v) > max_len:
            return False
        for p in patterns:
            try:
                if not _re.search(p, v):
                    return False
            except _re.error:
                pass  # reported separately as pattern-invalid
    return True


def _flatten_allof(constraints) -> list:
    """Conjunctive view of a scope: AllOf branches merge into it (all
    must hold), everything else stays as-is."""
    out = []
    for c in constraints:
        if isinstance(c, dsl.AllOf):
            for branch in c.branches:
                out.extend(_flatten_allof(branch))
        else:
            out.append(c)
    return out


def _lint_scope(path: str, constraints, findings: list, severity: str,
                known_columns: Optional[set] = None):
    scope = _flatten_allof(constraints)

    def add(code, msg, sev=None):
        findings.append(LintFinding(sev or severity, path, code, msg))

    # --- numeric bounds (conjunction: binding lower = max, upper = min)
    lo = lo_ex = hi = hi_ex = None
    for c in scope:
        if isinstance(c, (dsl.Minimum, dsl.ExclusiveMinimum)):
            ex = isinstance(c, dsl.ExclusiveMinimum)
            if lo is None or c.value > lo or (c.value == lo and ex):
                lo, lo_ex = c.value, ex
        if isinstance(c, (dsl.Maximum, dsl.ExclusiveMaximum)):
            ex = isinstance(c, dsl.ExclusiveMaximum)
            if hi is None or c.value < hi or (c.value == hi and ex):
                hi, hi_ex = c.value, ex
    if lo is not None and hi is not None and (
            lo > hi or (lo == hi and (lo_ex or hi_ex))):
        add("bounds-unsatisfiable",
            f"effective minimum {lo}{' (exclusive)' if lo_ex else ''} vs "
            f"maximum {hi}{' (exclusive)' if hi_ex else ''}: no number "
            f"satisfies both")

    # --- count-style pairs
    min_len = max_len = None
    for lo_cls, hi_cls, code, what in (
            (dsl.MinLength, dsl.MaxLength, "length-unsatisfiable", "length"),
            (dsl.MinItems, dsl.MaxItems, "items-unsatisfiable", "item count"),
            (dsl.MinProperties, dsl.MaxProperties,
             "properties-unsatisfiable", "property count")):
        mn = mx = None
        for c in scope:
            if isinstance(c, lo_cls):
                mn = c.value if mn is None else max(mn, c.value)
                if c.value < 0:
                    add("negative-count",
                        f"{c.code} {c.value} is negative (no-op at best)",
                        "warning")
            if isinstance(c, hi_cls):
                mx = c.value if mx is None else min(mx, c.value)
                if c.value < 0:
                    add("negative-count",
                        f"{c.code} {c.value} is negative: every non-null "
                        f"value fails")
        if mn is not None and mx is not None and mn > mx:
            add(code, f"min {what} {mn} > max {what} {mx}")
        if lo_cls is dsl.MinLength:
            min_len, max_len = mn, mx

    # --- type intersection
    types = _scope_types(scope)
    if types is not None and not types:
        decls = [c.type for c in scope if isinstance(c, dsl.TypeIs)]
        add("type-contradiction",
            f"conjoined type constraints {decls} share no type")

    # --- multipleOf / pattern validity
    patterns = []
    for c in scope:
        if isinstance(c, dsl.MultipleOf) and c.value <= 0:
            add("multipleOf-nonpositive",
                f"multipleOf {c.value}: x % {c.value} is never a valid "
                f"divisibility test")
        if isinstance(c, dsl.Pattern):
            patterns.append(c.regex)
            try:
                _re.compile(c.regex)
            except _re.error as err:
                add("pattern-invalid",
                    f"regex {c.regex!r} does not compile ({err}); checked "
                    f"with Python re — Java regex is close but verify "
                    f"dialect-specific syntax")

    # --- enum vs the rest of the scope
    for c in scope:
        if isinstance(c, dsl.Enum):
            vals = list(c.values)
            if not vals:
                add("enum-empty", "enum with no values matches nothing")
                continue
            dead = [v for v in vals
                    if not _enum_value_ok(v, lo, lo_ex, hi, hi_ex, types,
                                          min_len, max_len, patterns)]
            if len(dead) == len(vals):
                add("enum-unsatisfiable",
                    f"every enum value {vals!r} fails the scope's "
                    f"type/bound/length/pattern constraints")
            elif dead:
                add("enum-dead-values",
                    f"enum values {dead!r} can never validate (dead "
                    f"entries)", "info")

    # --- duplicates (identical constraint repeated — noise, not harm)
    from collections import Counter as _Counter
    for key, n in _Counter(_constraint_key(c) for c in scope).items():
        if n > 1:
            add("duplicate-constraint",
                f"constraint repeated {n}x: {key[:120]}", "info")

    # --- combinator branches
    for c in scope:
        if isinstance(c, (dsl.AnyOf, dsl.OneOf)):
            if not c.branches:
                add("combinator-empty",
                    f"{c.code} with zero branches matches nothing")
                continue
            if isinstance(c, dsl.OneOf):
                keys = _Counter(
                    tuple(sorted(_constraint_key(x) for x in b))
                    for b in c.branches)
                if any(n > 1 for n in keys.values()):
                    add("oneof-identical-branches",
                        "oneOf has identical branches: any value matching "
                        "one matches both, so it can never match exactly "
                        "one", "warning")
            for i, branch in enumerate(c.branches):
                before = len(findings)
                _lint_scope(path, branch, findings, severity, known_columns)
                # a contradiction INSIDE an anyOf/oneOf branch doesn't
                # doom the column — it makes the branch dead
                for j in range(before, len(findings)):
                    f = findings[j]
                    if f.severity == "error":
                        findings[j] = LintFinding(
                            "warning", f.column, "dead-branch",
                            f"{c.code} branch {i}: {f.code} — {f.message}")
        if isinstance(c, dsl.Not):
            if not len(c.branch):
                add("not-unsatisfiable",
                    "not{} (empty schema matches everything) fails every "
                    "value")
                continue
            before = len(findings)
            _lint_scope(path, c.branch, findings, severity, known_columns)
            # not(unsatisfiable) always PASSES — the Not is a no-op
            for j in range(before, len(findings)):
                f = findings[j]
                if f.severity == "error":
                    findings[j] = LintFinding(
                        "warning", f.column, "vacuous-not",
                        f"not-branch is itself unsatisfiable ({f.code}), "
                        f"so the not always passes: {f.message}")
        if isinstance(c, dsl.Items):
            _lint_scope(f"{path}[]", c.constraints, findings, severity,
                        known_columns)
            for fname, subs in (c.field_items() if c.fields else []):
                _lint_scope(f"{path}[].{fname}", subs, findings, severity,
                            known_columns)
        if isinstance(c, dsl.TupleItems):
            for i, spec in enumerate(c.specs):
                _lint_scope(f"{path}[{i}]", spec, findings, severity,
                            known_columns)
        if isinstance(c, dsl.Dependency) and known_columns is not None:
            for target in list(c.requires) + [t for t, _ in c.constraints]:
                if target not in known_columns:
                    add("dependency-unknown-column",
                        f"dependency on {c.on!r} references undeclared "
                        f"column {target!r}", "warning")


def lint_suite(suite: dsl.Suite, schema=None) -> list:
    """Static pre-flight lint: returns :class:`LintFinding` rows, empty for
    a healthy suite. ``severity="error"`` findings mean every non-null
    value of that column fails — running the suite would burn a full-table
    scan to reject everything (the check a 100 TB job wants BEFORE
    spark-submit, not after).

    ``schema`` (optional ``StructType`` or DataFrame) adds dtype
    applicability checks: a statically-impossible TypeIs, a keyword the
    compiler drops because it does not apply to the column's dtype
    (``compiler.applies``), and suite columns missing from the table.
    """
    findings: list[LintFinding] = []
    known = set(suite.columns)
    for path, constraints in suite.columns.items():
        _lint_scope(path, constraints, findings, "error", known)
    for label, c in suite.row:
        _lint_scope(label, [c], findings, "error", known)

    if schema is not None:
        if hasattr(schema, "schema"):  # DataFrame passed
            schema = schema.schema
        from schemasaurus_spark.compiler import DRAFT_TYPES, _dtype, applies
        for path, constraints in suite.columns.items():
            dt = _dtype(schema, path)
            if dt is None:
                findings.append(LintFinding(
                    "error", path, "missing-column",
                    f"suite constrains {path!r} but the table schema has "
                    f"no such column/path"))
                continue
            draft = next((t for t, kinds in DRAFT_TYPES.items()
                          if isinstance(dt, kinds)), None)
            scope = _flatten_allof(constraints)
            types = _scope_types(scope)
            if types is not None and draft is not None:
                widened = {draft} | ({"number"} if draft == "integer"
                                     else set())
                # string columns stay runtime-probable (permissive ingest
                # casts "42" to integer), so only non-string statics flag
                if draft != "string" and not widened & types:
                    findings.append(LintFinding(
                        "error", path, "type-vs-dtype",
                        f"declared type(s) {sorted(types)} can never match "
                        f"physical dtype {dt.simpleString()}"))
            for c in scope:
                if not applies(c, dt):
                    findings.append(LintFinding(
                        "warning", path, "dtype-mismatch",
                        f"{c.code} does not apply to a {dt.simpleString()} "
                        f"column: the check compiles to nothing — usually "
                        f"a suite bug"))
    return findings


def lint_json_schema(doc: dict, schema=None, id_column: str = "doc_id"
                     ) -> list:
    """Lint the reference's NATIVE input: translate a draft-4 document
    through the public ``suite_from_json_schema`` path and run
    :func:`lint_suite` on the result — so a schema author gets the
    pre-flight without touching the DSL. Same findings contract."""
    from schemasaurus_spark.schema_json import suite_from_json_schema

    return lint_suite(suite_from_json_schema(doc, id_column=id_column),
                      schema)
