"""Seeded gate inputs.

The sequences table is made by the engine's own generator, with ~1 % of
rows corrupted by its ``datagen.corrupt_*`` helpers; the drift baseline is
the n_tok histogram of a clean, disjoint row window. Generation runs in the
measured process on every run, outside the timed region and outside
``setup_s``. It is not cached across runs: generation is also JVM warm-up,
and a run that skipped it would start its warm-up ops on a colder JVM
(measured on gate_read: setup_s about a fifth higher, op_p50_s about a tenth
higher).
"""

from __future__ import annotations

from pathlib import Path

import oracle

ROWS = 20_000
PARTITIONS = 4
# one row in EVERY is marked per corruption; seven marks (range marks two)
# corrupt about 1 % of rows
EVERY = 700
EDGES = [0.0, 64, 128, 256, 512, 1024, 2048]
# doc_ids are 8 digits: every window must end below 10^8
ID_SPACE = 10 ** 8


def windows(seed: int, rows: int) -> tuple[int, int]:
    """(table start, baseline start): two adjacent disjoint row windows."""
    slots = ID_SPACE // (2 * rows)
    start = (seed % slots) * 2 * rows
    return start, start + rows


def make_gate_inputs(spark, seed: int, out: Path,
                     rows: int = ROWS) -> tuple[Path, list, dict]:
    """Write the table as parquet under ``out``; return its path, the
    baseline histogram rows and the DuckDB oracle's expectations."""
    from schemasaurus_spark import datagen
    from schemasaurus_spark.operators.aggregates import histogram

    start, base_start = windows(seed, rows)
    df = datagen.gen_sequences(spark, rows, PARTITIONS, start=start)
    for corrupt in (datagen.corrupt_null_docid, datagen.corrupt_pattern,
                    datagen.corrupt_range, datagen.corrupt_enum,
                    datagen.corrupt_ref_source):
        df = corrupt(df, every=EVERY)
    df = datagen.corrupt_dup_docid(df, every=EVERY)
    table = out / "table"
    datagen.finalize(df).write.mode("overwrite").parquet(str(table))
    base = datagen.finalize(
        datagen.gen_sequences(spark, rows, PARTITIONS, start=base_start))
    hist = [(r["group_key"], r["bucket"], r["count"])
            for r in histogram(base, "n_tok", EDGES, by="source").collect()]
    exp = oracle.gate_expectations_in_child(
        str(table / "*.parquet"), datagen.SOURCES, datagen.VOCAB,
        datagen.MAX_TOK, EDGES)
    return table, hist, exp
