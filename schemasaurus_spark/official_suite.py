"""Official JSON-Schema-Test-Suite ingestion.

The reference runs the real draft-4 suite straight from its submodule
(``/root/reference/test/official_suite_spec.js:9-51``): every ``*.json``
file in the suite directory is a list of cases
``{description, schema, tests: [{description, data, valid}]}``, filtered by
a substring ignore-list (``test/ignored.json``). This module ingests the
SAME native format — point :func:`load_official_suite` at a
JSON-Schema-Test-Suite checkout (or any file in its format) and
:func:`run_official_tests` evaluates every case through the engine's public
translation path (``suite_from_json_schema`` / ``_constraints_from``), so
corpus updates never drift from what users actually run.

Translation model (SURVEY.md §5: reference value-level cases become
partition-level assertions):

* each test's ``data`` value becomes one COLUMN of a single-row DataFrame,
  typed from the data itself (object data → struct column, its schema's
  ``properties`` → dotted sub-columns);
* up to ``batch_size`` (64) tests batch into ONE frame + ONE compiled
  suite (the round-3 batching strategy); the frame is a local relation,
  the validation projection folds into it, and the driver reads the one
  row's violation array, so a batch runs no Spark job — like the
  reference, which calls the validator in-process once per case;
* a test passes iff the engine emits no violation attributed to its column
  — mirroring the reference's ``{valid: errors.length === 0}``
  (v4validator.js:326).

Documented divergences auto-skip with a recorded reason (inspect
:class:`SuiteRunResult.skipped`) rather than failing:

* the reference ignore-list entries (remote refs, "definition" meta-cases,
  numeric-type-indistinct locales) — ``REFERENCE_IGNORED`` mirrors
  ``test/ignored.json``;
* top-level ``null`` data: a DataFrame row cannot omit a column, so the
  engine collapses missing/undefined and null (SURVEY §1.2); the
  reference's "null passes bare required / fails bare type" split has no
  columnar analog;
* data not expressible as ONE Spark type (heterogeneous arrays like
  ``[1, "x"]`` — dynamic-typing cases);
* schemas using keywords the translator rejects (raise
  ``SchemaTranslationError``) — recorded loudly with the error text.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, replace
from pathlib import Path
from typing import Optional

from pyspark.sql import SparkSession

from schemasaurus_spark import dsl
from schemasaurus_spark.schema_json import (
    SchemaTranslationError, _constraints_from, is_object_form,
    merge_object_allof, pattern_properties_of, struct_closed_from,
    suite_from_json_schema,
)
from schemasaurus_spark.session import local_frame
from schemasaurus_spark.validate import _collect_violations, validate

# mirror of /root/reference/test/ignored.json (substring match on either
# description, official_suite_spec.js:27-29)
REFERENCE_IGNORED = [
    "definition",
    "remote ref",
    "change resolution",
    "some languages do not distinguish between different types of numeric"
    " value",
]


@dataclass(frozen=True)
class OfficialTest:
    file: str
    case: str      # case description
    test: str      # test description
    schema: dict | bool
    data: object
    valid: bool


@dataclass
class SuiteRunResult:
    passed: list[OfficialTest] = field(default_factory=list)
    failed: list[tuple[OfficialTest, bool]] = field(default_factory=list)
    skipped: list[tuple[OfficialTest, str]] = field(default_factory=list)

    def summary(self) -> str:
        return (f"{len(self.passed)} passed, {len(self.failed)} failed, "
                f"{len(self.skipped)} skipped")


def load_official_suite(path: str | Path) -> list[OfficialTest]:
    """Load every case file under ``path`` (a directory of ``*.json`` in
    the suite's native format, or a single file) — the analog of
    ``loadSuite`` (official_suite_spec.js:9-21; non-recursive, like the
    reference's ``isFile`` filter)."""
    p = Path(path)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    out: list[OfficialTest] = []
    for f in files:
        for case in json.loads(f.read_text()):
            for t in case.get("tests", []):
                out.append(OfficialTest(
                    f.name, case.get("description", ""),
                    t.get("description", ""), case["schema"], t["data"],
                    bool(t["valid"])))
    return out


def is_ignored(t: OfficialTest, ignored: list[str]) -> bool:
    return any(s in t.case or s in t.test for s in ignored)


# ------------------------------------------------------- data → Spark type


_DRAFT_TYPE_DDL = {"string": "string", "integer": "bigint",
                   "number": "double", "boolean": "boolean",
                   "null": "string"}


class _Untypeable(ValueError):
    pass


def _unify(ddls: set[str]) -> str:
    if len(ddls) == 1:
        return next(iter(ddls))
    if ddls == {"bigint", "double"}:
        return "double"
    raise _Untypeable(f"no single Spark type for {sorted(ddls)}")


def _ddl_of(value, hint: Optional[dict] = None) -> str:
    """Spark DDL type for one JSON value (bool before int: Python bools
    are ints). ``hint`` is the sub-schema, used only for nulls/empties."""
    if isinstance(value, bool):
        return "boolean"
    if isinstance(value, int):
        # bignums beyond int64 fold to IEEE doubles — the reference runs
        # the optional/bignum.json cases through JS numbers (doubles), so
        # double-typed evaluation IS its semantics (official_suite_spec.js
        # loads the suite raw; JSON.parse yields doubles)
        if not -(2 ** 63) <= value < 2 ** 63:
            return "double"
        return "bigint"
    if isinstance(value, float):
        return "double"
    if isinstance(value, str):
        return "string"
    if value is None:
        h = hint or {}
        t = h.get("type")
        if isinstance(t, list):
            t = next((x for x in t if x != "null"), "string")
        # an absent OBJECT-typed property must still materialize the struct
        # shape its sub-schema constrains (a 'string' placeholder made the
        # compile fail on the missing dotted path and the whole case skip
        # as an engine error — round-4 review finding); the null struct
        # value itself keeps the null-skip semantics
        if t == "object" or "properties" in h:
            props = h.get("properties", {})
            if props:
                fields = ", ".join(f"`{k}`: {_ddl_of(None, v)}"
                                   for k, v in props.items())
                return f"struct<{fields}>"
            return "struct<`__empty`: string>"
        if t == "array":
            items_hint = h.get("items")
            eh = items_hint if isinstance(items_hint, dict) else None
            return f"array<{_ddl_of(None, eh)}>"
        return _DRAFT_TYPE_DDL.get(t, "string")
    if isinstance(value, list):
        if not value:
            return "array<string>"
        items_hint = (hint or {}).get("items")
        eh = items_hint if isinstance(items_hint, dict) else None
        # empty CHILD lists are typeless — they adopt their siblings'
        # element type instead of forcing array<string> into the unify
        ddls, has_empty_child = set(), False
        for v in value:
            if isinstance(v, list) and not v:
                has_empty_child = True
                continue
            ddls.add(_ddl_of(v, eh))
        if not ddls:
            return "array<array<string>>"
        inner = _unify(ddls)
        if has_empty_child and not inner.startswith("array<"):
            raise _Untypeable(
                f"empty array among {inner} elements has no single type")
        return f"array<{inner}>"
    if isinstance(value, dict):
        props = (hint or {}).get("properties", {})
        fields = ", ".join(
            f"`{k}`: {_ddl_of(v, props.get(k))}" for k, v in value.items())
        return f"struct<{fields}>" if fields else "struct<`__empty`: string>"
    raise _Untypeable(f"unsupported JSON value {value!r}")


def _convert(value):
    """JSON value → the row literal Spark expects for _ddl_of's type
    (dicts → tuples, field order preserved)."""
    if isinstance(value, dict):
        return tuple(_convert(v) for v in value.values()) or (None,)
    if isinstance(value, list):
        converted = [_convert(v) for v in value]
        # int elements in a double-unified array need float() (checked on
        # CONVERTED values: a bignum int converts to float and pulls its
        # int siblings up to double exactly like a native float would)
        if any(isinstance(v, float) for v in converted):
            converted = [float(v) if isinstance(v, (int, float))
                         and not isinstance(v, bool) else v
                         for v in converted]
        return converted
    if isinstance(value, int) and not isinstance(value, bool) \
            and not -(2 ** 63) <= value < 2 ** 63:
        return float(value)  # bignum → JS-double (see _ddl_of)
    return value


def _pad_declared(value, hint: Optional[dict]):
    """Recursively add schema-declared-but-absent properties as None into
    dict data (and descend through lists), so a PRESENT-but-partial object
    (e.g. ``{"obj": {}}``) still materializes every dotted sub-column the
    suite constrains — the same defect class as the absent-property case,
    one level shallower (round-4 review)."""
    if isinstance(value, dict):
        props = (hint or {}).get("properties", {})
        out = {k: _pad_declared(v, props.get(k)) for k, v in value.items()}
        for k in props:
            out.setdefault(k, None)
        return out
    if isinstance(value, list):
        items_hint = (hint or {}).get("items")
        eh = items_hint if isinstance(items_hint, dict) else None
        return [_pad_declared(v, eh) for v in value]
    return value


# ----------------------------------------------------- test → suite column


def _object_mode(schema: dict) -> bool:
    if not isinstance(schema, dict):
        return False
    all_of = schema.get("allOf")
    return ("properties" in schema
            or isinstance(schema.get("required"), list)
            or "dependencies" in schema
            or (isinstance(all_of, list)
                and any(is_object_form(b) for b in all_of)))


def _prefix_columns(columns: dict, row: list, col: str) -> tuple[dict, list]:
    cols = {f"{col}.{k}": v for k, v in columns.items()}
    out_row = []
    for on, c in row:
        if isinstance(c, dsl.Dependency):
            c = replace(
                c, on=f"{col}.{c.on}",
                requires=[f"{col}.{r}" for r in (c.requires or [])] or c.requires,
                constraints=[(f"{col}.{t}", sc)
                             for t, sc in (c.constraints or [])]
                or c.constraints)
            out_row.append((f"{col}.{on}", c))
        else:
            # unreachable today (suite_from_json_schema only emits
            # Dependency rows) — an unprefixed label would mis-attribute
            # violations and crash the batch attribution, so fail loudly
            raise SchemaTranslationError(
                f"row constraint {type(c).__name__} is not supported in "
                f"official-suite object mode")
    return cols, out_row


@dataclass
class TestPlan:
    """Column-name-agnostic plan for one test (built ONCE per test — the
    runner reuses it for both classification and execution; round-4
    review removed the double translation). ``own`` is the value/map-mode
    constraint list on the column itself; object-mode uses
    ``sub_columns``/``sub_row`` (unprefixed) instead."""

    ddl: str
    value: object
    own: list | None
    sub_columns: dict | None
    sub_row: list | None
    defs: dict
    # constraints on the object column ITSELF in object mode (root
    # additionalProperties=false → StructClosed on the struct)
    self_cs: list = field(default_factory=list)

    def columns_for(self, col: str) -> tuple[dict, list]:
        if self.own is not None:
            return {col: self.own}, []
        cols, row = _prefix_columns(self.sub_columns, self.sub_row, col)
        if self.self_cs:
            cols[col] = list(self.self_cs) + cols.get(col, [])
        return cols, row


def plan_test(t: OfficialTest, ref_loader=None) -> TestPlan:
    r"""One test → :class:`TestPlan`. Raises _Untypeable /
    SchemaTranslationError for the documented-divergence shapes.
    ``ref_loader`` resolves REMOTE ``$ref``\ s (the reference's
    ``options.loader``, compiler.js:143) — without it remote-ref cases
    raise and record a skip, exactly like the reference's
    ``defaultLoader``."""
    schema = t.schema
    if isinstance(schema, bool):
        raise SchemaTranslationError(
            "boolean schemas are draft-6+; draft-4 schemas are objects")
    if t.data is None:
        raise _Untypeable(
            "top-level null data: missing-vs-null collapses in a DataFrame "
            "row (documented divergence, SURVEY §1.2)")
    if _object_mode(schema) and isinstance(t.data, dict):
        sub = suite_from_json_schema(schema, id_column="cid",
                                     ref_loader=ref_loader)
        # allOf-of-object-form branches fold into the parent (the same
        # merge suite_from_json_schema applies internally) so the DDL and
        # padding below see every branch-declared property
        schema = merge_object_allof(schema)
        self_cs: list = []
        if schema.get("additionalProperties") is False:
            self_cs.append(struct_closed_from(schema))
        # root patternProperties value sub-schemas / additionalProperties
        # SCHEMA form constrain the test struct's undeclared fields
        # (declared properties exempt via `allowed`; the False form stays
        # StructClosed's job above) — round 5b
        self_cs.extend(pattern_properties_of(schema, loader=ref_loader))
        # the struct must carry every property the suite constrains, plus
        # every key the data actually has
        data = dict(t.data)
        declared = {k.split(".")[0] for k in sub.columns}
        # dependency targets are READ columns — the struct must carry them
        for _, c in sub.row:
            if isinstance(c, dsl.Dependency):
                declared.add(c.on.split(".")[0])
                for r2 in c.requires or ():
                    declared.add(r2.split(".")[0])
                for tgt, _ in c.constraints or ():
                    declared.add(tgt.split(".")[0])
        props = schema.get("properties", {})
        for k in declared:
            data.setdefault(k, None)
        data = _pad_declared(data, {"properties": props})
        ddl = _ddl_of(data, {"properties": props})
        return TestPlan(ddl, _convert(data), None, dict(sub.columns),
                        list(sub.row), sub.definitions, self_cs=self_cs)
    # map-mode: key-count / key-pattern keywords operate on MapType
    if isinstance(t.data, dict):
        if not t.data:
            ddl = "map<string, string>"
        else:
            ddl = (f"map<string, "
                   f"{_unify({_ddl_of(v) for v in t.data.values()})}>")
        cs = _constraints_from(schema, None, False, root=schema,
                               loader=ref_loader)
        return TestPlan(ddl, dict(t.data), cs, None, None, {})
    # value-mode: `definitions` is a container, not a constraint keyword —
    # translate it into named Refs (the root stays available for pointers)
    own = {k: v for k, v in schema.items() if k != "definitions"}
    if "properties" in own and not isinstance(t.data, dict):
        # draft-4: `properties` constrains OBJECT instances only — a
        # scalar/array instance ignores it (v4validator's type guard, the
        # same silent pass every scalar keyword gets on a mismatched
        # type). Strip it so the official "ignores arrays / strings /
        # other non-objects" tests grade instead of recording a
        # translation skip (round 5b).
        own.pop("properties")
    cs = _constraints_from(own, None, False, root=schema,
                           loader=ref_loader)
    defs = {n: _constraints_from(d, None, False, root=schema,
                                 loader=ref_loader)
            for n, d in (schema.get("definitions") or {}).items()}
    return TestPlan(_ddl_of(t.data, schema), _convert(t.data), cs, None,
                    None, defs)


# ---------------------------------------------------------------- running


def run_official_tests(spark: SparkSession, tests: list[OfficialTest],
                       ignored: list[str] | None = None,
                       batch_size: int = 64,
                       ref_loader=None) -> SuiteRunResult:
    """Evaluate official-format tests, ``batch_size`` to a frame.

    Batch suites merge every test's ``definitions`` into one namespace, so
    a test starts a new batch when the current one is full or binds one of
    its definition names to a different definition."""
    ignored = REFERENCE_IGNORED if ignored is None else ignored
    res = SuiteRunResult()
    groups: list[list[tuple[OfficialTest, TestPlan]]] = []
    defs: dict = {}
    for t in tests:
        if is_ignored(t, ignored):
            res.skipped.append((t, "ignore-list"))
            continue
        try:
            plan = plan_test(t, ref_loader=ref_loader)
        except (_Untypeable, SchemaTranslationError) as e:
            res.skipped.append((t, str(e)))
            continue
        if (not groups or len(groups[-1]) >= batch_size
                or any(defs.get(n, d) != d for n, d in plan.defs.items())):
            groups.append([])
            defs = {}
        groups[-1].append((t, plan))
        defs.update(plan.defs)

    for group in groups:
        _run_batch(spark, group, res)
    return res


def _run_batch(spark: SparkSession, tests: list[OfficialTest],
               res: SuiteRunResult) -> None:
    """Run one batch; if the merged frame/suite fails to build or compile
    (e.g. a keyword lands on a Spark type it cannot apply to), bisect to
    per-test runs so one incompatible case cannot sink its batch — a solo
    failure records a skip with the engine error as the reason."""
    try:
        _execute_batch(spark, tests, res)
    except Exception as e:  # noqa: BLE001 — recorded, never swallowed
        if len(tests) == 1:
            res.skipped.append((tests[0][0], f"engine error: {e}"))
        else:
            for tp in tests:
                _run_batch(spark, [tp], res)


def _execute_batch(spark: SparkSession,
                   tests: list[tuple[OfficialTest, TestPlan]],
                   res: SuiteRunResult) -> None:
    fields, row, columns, rowcs, defs = ["cid string"], ["t0"], {}, [], {}
    for i, (t, plan) in enumerate(tests):
        cols, rcs = plan.columns_for(f"c{i}")
        fields.append(f"c{i} {plan.ddl}")
        row.append(plan.value)
        columns.update(cols)
        rowcs.extend(rcs)
        defs.update(plan.defs)
    df = local_frame(spark, [tuple(row)], ", ".join(fields))
    suite = dsl.Suite(id_column="cid", columns=columns, row=rowcs,
                      definitions=defs)
    got: dict[int, bool] = {i: True for i in range(len(tests))}
    for r in _collect_violations(validate(df, suite)):
        base = r["column"].split(".")[0].split("[")[0]
        got[int(base[1:])] = False
    for i, (t, _) in enumerate(tests):
        if got[i] == t.valid:
            res.passed.append(t)
        else:
            res.failed.append((t, got[i]))
