"""Round-trip budget of ``validate(df, suite)``. The compiler writes SQL
text, so building the validation projection costs a handful of py4j round
trips — the schema read, one ``F.expr`` and the ``withColumn`` — not one
per ``Column`` call. Columns that a suite's own callables build stay
theirs: the gate suite's row-level ``Conform`` makes its own calls, which
are not the engine's; its predicate is bound to a reserved name, which
costs one projection to add it and one ``drop`` to remove it."""

import sys
from pathlib import Path

import pytest

from plan_walk import py4j_calls
from schemasaurus_spark import datagen, dsl
from schemasaurus_spark.official_suite import (
    REFERENCE_IGNORED, is_ignored, load_official_suite, plan_test,
)
from schemasaurus_spark.session import local_frame
from schemasaurus_spark.validate import _collect_violations, validate

ROOT = Path(__file__).resolve().parents[1]
CORPUS = ROOT / "tests" / "data" / "official_draft4"

# measured on pyspark 4.1.2. A corpus batch: the schema read (2), one
# F.expr (3), the withColumn (1). The gate suite: the schema read (2), the
# F.expr of its Conform's argument (3), the withColumn of the bound
# predicate (1), the F.expr of the violation array (3), its withColumn (1)
# and the drop of the bound name (6); the callable itself makes 10 more
GATE_ENGINE_CALLS = 16
CORPUS_BATCH_CALLS = 6
# a whole corpus batch, as official_suite runs it: the Arrow local_frame
# (24: the DDL parse 3, session and conf reads 15, the Arrow file read 3,
# toDataFrame 3), validate (6, as above) and the driver-side collect of
# the violation arrays (22: two F.col 6, their toSeq 6, the select 1, the
# schema read 2, the collect with its call sites 3, the result socket 4)
CORPUS_BATCH_RUN_CALLS = 52


@pytest.fixture(scope="module")
def gate_suite():
    sys.path.insert(0, str(ROOT / "perfbench"))
    try:
        from workloads import sequences_suite
    finally:
        sys.path.remove(str(ROOT / "perfbench"))
    return sequences_suite()


def _counted_conforms(suite: dsl.Suite, counter: list) -> dsl.Suite:
    """``suite`` with each row-level Conform callable wrapped to add the
    round trips it makes itself to ``counter``."""
    def wrap(fn):
        def counted(*cols):
            with py4j_calls() as n:
                out = fn(*cols)
            counter[0] += n[0]
            return out
        return counted

    row = [(label, dsl.Conform(name=c.name, expr=wrap(c.expr),
                               extra_cols=c.extra_cols))
           for label, c in suite.row]
    return dsl.Suite(id_column=suite.id_column, columns=suite.columns,
                     row=row, name=suite.name)


def test_gate_suite_validate_budget(spark, gate_suite):
    df = datagen.finalize(datagen.gen_sequences(spark, 200, 2))
    own = [0]
    suite = _counted_conforms(gate_suite, own)
    with py4j_calls() as n:
        validate(df, suite)
    assert own[0] > 0
    assert n[0] - own[0] <= GATE_ENGINE_CALLS <= 40


def _corpus_batch(n: int = 24) -> tuple[list, str, dsl.Suite]:
    """The first ``n`` graded corpus tests without ``definitions``, merged
    into one batch: (row, frame DDL, suite)."""
    planned = []
    for t in load_official_suite(CORPUS):
        if is_ignored(t, REFERENCE_IGNORED):
            continue
        try:
            plan = plan_test(t)
        except ValueError:
            continue
        if not plan.defs:
            planned.append(plan)
    fields, row, columns, rowcs = ["cid string"], ["t0"], {}, []
    for i, plan in enumerate(planned[:n]):
        cols, rcs = plan.columns_for(f"c{i}")
        fields.append(f"c{i} {plan.ddl}")
        row.append(plan.value)
        columns.update(cols)
        rowcs.extend(rcs)
    suite = dsl.Suite(id_column="cid", columns=columns, row=rowcs)
    return [tuple(row)], ", ".join(fields), suite


def test_corpus_batch_validate_budget(spark):
    rows, ddl, suite = _corpus_batch()
    df = local_frame(spark, rows, ddl)
    with py4j_calls() as n:
        validate(df, suite)
    assert n[0] <= CORPUS_BATCH_CALLS <= 40


def test_corpus_batch_run_budget(spark):
    """Frame, validate and the driver-side collect of one corpus batch.
    The first run in a process also resolves py4j's JVM class handles, so
    the budget is read on the second."""
    rows, ddl, suite = _corpus_batch()
    for _ in range(2):
        with py4j_calls() as n:
            got = _collect_violations(validate(local_frame(spark, rows, ddl),
                                               suite))
    assert got
    assert n[0] <= CORPUS_BATCH_RUN_CALLS
