"""Deterministic synthetic `sequences` table + violation injection.

Generates the exact `input_hint` shape
``(doc_id string, tokens array<int>, n_tok int, source string)`` per
FIXTURES.md T1, entirely with distributed expressions over ``spark.range``
— no driver-side row lists, so the same generator scales from 200 rows
(unit tests) to bench sizes. Determinism comes from ``xxhash64`` keyed on
the row index (seed folded in), never from RNG state.

The corruption transforms translate the reference's failing test cases
(``/root/reference/test/validator_spec.js:53-321``) into seeded row-level
edits with known expected violations (FIXTURES.md table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from schemasaurus_spark.session import local_frame

SEED = 42
VOCAB = 50257
SOURCES = ["web", "books", "code", "wiki", "forums"]
MAX_TOK = 2048


def _u(col, salt: int, mod: int):
    """Deterministic uniform int in [0, mod) from (row index, salt)."""
    return F.pmod(F.xxhash64(col, F.lit(salt), F.lit(SEED)), F.lit(mod))


def gen_sequences(
    spark: SparkSession,
    n_rows: int = 200,
    n_partitions: int = 4,
    max_tok: int = MAX_TOK,
    start: int = 0,
) -> DataFrame:
    """Clean table. Long-tail `source` skew (web ≈ 70%) exercises salting.
    `start` offsets the row index so successive snapshots get disjoint
    doc_ids (appends that re-use ids correctly trip the uniqueness check)."""
    df = spark.range(start, start + n_rows, 1, n_partitions).withColumnRenamed("id", "i")
    u_src = _u(F.col("i"), 13, 100)
    source = (
        F.when(u_src < 70, "web")
        .when(u_src < 80, "books")
        .when(u_src < 90, "code")
        .when(u_src < 96, "wiki")
        .otherwise("forums")
    )
    # log-normal-ish discrete length over [1, max_tok]
    u_len = _u(F.col("i"), 7, 10_000) / 10_000.0
    n_tok = F.least(
        F.lit(max_tok),
        F.greatest(F.lit(1), F.exp(F.lit(2.0) + u_len * F.lit(5.5)).cast("int")),
    )
    df = df.select(
        F.concat(source, F.lit("-"), F.lpad(F.col("i").cast("string"), 8, "0")).alias("doc_id"),
        F.transform(
            F.sequence(F.lit(1), n_tok),
            lambda j: F.pmod(F.xxhash64(F.col("i"), j, F.lit(SEED)), F.lit(VOCAB)).cast("int"),
        ).alias("tokens"),
        n_tok.cast("int").alias("n_tok"),
        source.alias("source"),
        F.col("i"),
    )
    return df


def finalize(df: DataFrame) -> DataFrame:
    return df.drop("i")


# ---------------------------------------------------------------- corruption
# Each transform marks rows by deterministic predicate on the row index and
# applies exactly one edit; tests know the expected violation set from the
# same predicate. `every` controls the corruption rate (1 row in `every`).


def _mark(every: int, salt: int):
    return _u(F.col("i"), salt, every) == 0


def corrupt_null_docid(df: DataFrame, every: int = 20) -> DataFrame:
    """V-null-docid → `required` (v4validator.js:80)."""
    m = _mark(every, 101)
    return df.withColumn("doc_id", F.when(m, F.lit(None)).otherwise(F.col("doc_id")))


def corrupt_pattern(df: DataFrame, every: int = 20) -> DataFrame:
    """V-pattern → `pattern` (v4validator.js:204-206)."""
    m = _mark(every, 102)
    return df.withColumn("doc_id", F.when(m, F.lit("BAD ID!")).otherwise(F.col("doc_id")))


def corrupt_range(df: DataFrame, every: int = 20) -> DataFrame:
    """V-range-lo / V-range-hi → `minimum` / `maximum` (v4validator.js:294-302)."""

    # round-4 review note: rows marked by BOTH the lo (salt 103) and hi
    # (salt 104) predicates (~1/every^2 of rows) take only the lo branch
    # of the when-chain — a count derived from the hi predicate alone
    # overcounts by exactly those rows; assert membership, not equality.
    lo = _mark(every, 103)
    hi = _mark(every, 104)
    return df.withColumn(
        "n_tok",
        F.when(lo, F.lit(0)).when(hi, F.lit(4096)).otherwise(F.col("n_tok")),
    )


def corrupt_enum(df: DataFrame, every: int = 20) -> DataFrame:
    """V-enum → `enum` (v4validator.js:181-190)."""
    m = _mark(every, 105)
    return df.withColumn("source", F.when(m, F.lit("sp4m")).otherwise(F.col("source")))


def corrupt_dup_docid(df: DataFrame, every: int = 50) -> DataFrame:
    """V-dup-docid → `unique.doc_id`: append exact copies of marked rows
    (they land in other partitions on repartition), so each duplicated
    doc_id has occurrence count 2 — one violation per extra occurrence."""
    m = _mark(every, 112)
    return df.unionAll(df.where(m))


def corrupt_ref_source(df: DataFrame, every: int = 25) -> DataFrame:
    """V-ref-source → `ref.source` (absent from the sources dimension)."""
    m = _mark(every, 113)
    return df.withColumn("source", F.when(m, F.lit("shadowlib")).otherwise(F.col("source")))


def sources_dim(spark: SparkSession) -> DataFrame:
    """FIXTURES T2 — the referential dimension (broadcast side)."""
    return local_frame(spark, [(s, True) for s in SOURCES],
                       "source string, license_ok boolean")
