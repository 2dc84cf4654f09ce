"""One counts aggregate per result: verdicts(), metrics() and is_valid()
read the same memoized (partition_id | constraint_id, column) aggregate,
and the engine's aggregate-violation count comes from totals the driver
already holds.

Pinned two ways:

1. **job count** — a gate run (``run_full_validation`` + ``is_valid()``)
   on a duplicate-key table with a local drift baseline takes at most 9
   Spark jobs (uniqueness 3, fused pass 4, counts aggregate 2), all of
   them in the caller's job group although they run on the engine's pool
   threads, and collecting ``verdicts()`` and ``metrics()`` afterwards
   takes none.
2. **parity** — every surface equals the per-surface expressions it
   replaced, written out inline below, on clean, duplicate-key,
   undeclared-column, scaled-referential, stat-bound, empty and
   several-violations-per-row tables.
"""

import pyspark.sql.functions as F
import pytest

from schemasaurus_spark import Enum, NotNull, Pattern, Suite, datagen
from schemasaurus_spark.compiler import VIOLATIONS_COL
from schemasaurus_spark.engine import AggregateChecks, run_full_validation
from schemasaurus_spark.operators import aggregates as agg
from schemasaurus_spark.session import local_frame

from plan_walk import all_job_ids, spark_jobs

EDGES = [0.0, 8, 16, 32, 64, 128, 256, 512, 1024, 2048]


def _suite():
    return Suite(id_column="doc_id", columns={
        "doc_id": [NotNull(), Pattern(r"^[a-z]+-[0-9]{8}$")],
        "n_tok": [NotNull()],
        "source": [Enum(datagen.SOURCES)],
    })


@pytest.fixture(scope="module")
def seq(spark, tmp_path_factory):
    """A parquet sequences table with enum violations."""
    path = str(tmp_path_factory.mktemp("gate_counts") / "seq")
    datagen.finalize(datagen.corrupt_enum(
        datagen.gen_sequences(spark, 1200, 8), every=40)
    ).write.parquet(path)
    return spark.read.parquet(path)


def _baseline(spark, df):
    rows = [tuple(r) for r in
            agg.histogram(df.withColumn("n_tok", F.col("n_tok") * 2),
                          "n_tok", EDGES, by="source").collect()]
    return local_frame(spark, rows, "group_key string, bucket int, count long")


def test_gate_job_count(spark, seq):
    """Separate per-surface aggregates took 20 jobs here: 10 for the run
    and is_valid(), then 6 to re-count agg_violations and 2 each for the
    verdict and metrics aggregates."""
    df = seq.unionByName(seq.where(F.col("n_tok") % 5 == 0))   # dup keys
    checks = AggregateChecks(
        sources_dim=datagen.sources_dim(spark),
        null_rate_max={"doc_id": 0.004},
        drift_baseline=_baseline(spark, seq), drift_edges=EDGES)
    before = all_job_ids(spark)
    with spark_jobs(spark, "gate_counts_gate") as gate:
        res = run_full_validation(df, _suite(), checks)
        assert not res.is_valid()
    # the pool threads' jobs carry the caller's group: none drops out of it
    assert all_job_ids(spark) - before == set(gate), gate
    with spark_jobs(spark, "gate_counts_collect") as collect:
        verdicts = res.verdicts().collect()
        metrics = res.row.metrics().collect()
    assert len(gate) + len(collect) <= 9, (gate, collect)
    assert collect == [], collect
    pseudo = [r for r in verdicts if r["partition_id"] == -1]
    assert pseudo[0]["n_violations"] == res.n_agg > 0
    assert {r["constraint_id"] for r in metrics} == {"enum"}


def _parent_surfaces(res):
    """The per-surface expressions the counts aggregate replaced."""
    row = res.row
    extra = row.undeclared_columns()
    verdicts = [tuple(r) for r in (
        row.validated
        .groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.sum(F.size(VIOLATIONS_COL)).alias("n_violations"))
        .withColumn("pass", F.col("n_violations") == 0)).collect()]
    if extra:
        verdicts.append((-2, 0, len(extra), False))
    n_agg = res.agg_violations.count()
    verdicts.append((-1, 0, n_agg, n_agg == 0))
    metrics = [tuple(r) for r in (
        row.validated.select(F.explode(VIOLATIONS_COL).alias("v"))
        .groupBy("v.constraint_id", "v.column")
        .agg(F.count(F.lit(1)).alias("n_violations"))).collect()]
    metrics += [("additionalProperties", c, 1) for c in extra]
    n_row = row.validated.select(
        F.sum(F.size(VIOLATIONS_COL)).alias("n")).first()["n"] or 0
    row_valid = not extra and n_row == 0
    return (sorted(verdicts), sorted(metrics), row_valid,
            row_valid and n_agg == 0, n_agg)


def _case(spark, seq, name):
    dim = datagen.sources_dim(spark)
    if name == "clean":
        df = datagen.finalize(datagen.gen_sequences(spark, 600, 4))
        return df, _suite(), AggregateChecks(sources_dim=dim)
    if name == "dup_keys":
        df = seq.unionByName(seq.where(F.col("n_tok") % 3 == 0))
        return df, _suite(), AggregateChecks(
            sources_dim=dim, null_rate_max={"doc_id": 0.004},
            drift_baseline=_baseline(spark, seq), drift_edges=EDGES)
    if name == "undeclared":
        return seq, Suite(id_column="doc_id", columns={"doc_id": [NotNull()]},
                          allow_undeclared_columns=False), AggregateChecks()
    if name == "ref_scaled":
        df = datagen.finalize(datagen.corrupt_ref_source(
            datagen.gen_sequences(spark, 600, 4), every=30))
        return df, _suite(), AggregateChecks(sources_dim=dim,
                                             ref_scaled=True)
    if name == "stat_bounds":
        return seq, _suite(), AggregateChecks(
            stat_bounds={"n_tok": {"max_mean": 1.0, "min_value": 2}})
    if name == "empty":
        return seq.where(F.lit(False)), _suite(), AggregateChecks(
            sources_dim=dim, null_rate_max={"doc_id": 0.0})
    if name == "multi_violation":
        # every row fails two patterns, enum-corrupt rows a third check:
        # each row's violations go to several (constraint_id, column)
        # pairs, past the first position of its violation array
        return seq, Suite(id_column="doc_id", columns={
            "doc_id": [Pattern(r"^zz")],
            "source": [Enum(datagen.SOURCES), Pattern(r"^x")],
        }), AggregateChecks()
    raise AssertionError(name)


@pytest.mark.parametrize("name", ["clean", "dup_keys", "undeclared",
                                  "ref_scaled", "stat_bounds", "empty",
                                  "multi_violation"])
def test_counts_aggregate_matches_per_surface_aggregates(spark, seq, name):
    df, suite, checks = _case(spark, seq, name)
    res = run_full_validation(df, suite, checks)
    verdicts, metrics, row_valid, valid, n_agg = _parent_surfaces(res)
    assert sorted(map(tuple, res.verdicts().collect())) == verdicts
    assert sorted(map(tuple, res.row.metrics().collect())) == metrics
    assert res.row.is_valid() == row_valid
    assert res.is_valid() == valid
    assert res.n_agg == n_agg
    # non-vacuous: each dirty case is dirty where it claims to be
    if name == "clean":
        assert valid and verdicts
    elif name == "empty":
        assert valid and verdicts == [(-1, 0, 0, True)]
    elif name in ("dup_keys", "ref_scaled", "stat_bounds"):
        assert n_agg > 0
    elif name == "multi_violation":
        parts = [v for v in verdicts if v[0] >= 0]
        assert sum(v[2] for v in parts) > 2 * sum(v[1] for v in parts)
        assert len(metrics) == 3
    else:
        assert not row_valid and n_agg == 0

