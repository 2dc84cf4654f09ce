"""Expected outputs, computed without the engine's Spark code.

Gates: DuckDB over the generated parquet gives the per-(constraint, column)
counts of the suite, the duplicate-id and referential-miss counts, the
per-source null counts and the n_tok histogram. The aggregate verdict is
then derived here with its own PSI/KS arithmetic.

The gate expectations run in a child process (``python3 oracle.py``), so
neither DuckDB nor its result sets count toward the engine's memory.

Corpus: the expected graded and skipped cases of the shard are frozen in
``draft4_shard.json``; see the draft4_corpus workload.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys

PATTERN = r"^[a-z]+-[0-9]{8}$"


def gate_expectations(table_glob: str, sources: list[str], vocab: int,
                      max_n: int, edges: list[float]) -> dict:
    """Everything the gate checks compare against, from one DuckDB pass."""
    import duckdb

    src = ", ".join(f"'{s}'" for s in sources)
    # bucket -1 = below edges[0], i = [edges[i], edges[i+1]), n = overflow
    n = len(edges) - 1
    bucket = "CASE WHEN n_tok < %s THEN -1 %s ELSE %d END" % (
        edges[0], " ".join(f"WHEN n_tok < {edges[i + 1]} THEN {i}"
                           for i in range(n)), n)
    checks = {
        ("required", "doc_id"): "doc_id IS NULL",
        ("pattern", "doc_id"):
            f"doc_id IS NOT NULL AND NOT regexp_matches(doc_id, '{PATTERN}')",
        ("required", "n_tok"): "n_tok IS NULL",
        ("minimum", "n_tok"): "n_tok < 1",
        ("maximum", "n_tok"): f"n_tok > {max_n}",
        ("required", "source"): "source IS NULL",
        ("enum", "source"): f"source NOT IN ({src})",
        ("minItems", "tokens"): "len(tokens) < 1",
        ("maxItems", "tokens"): f"len(tokens) > {max_n}",
        ("custom.size_eq_n_tok", "tokens"): "len(tokens) <> n_tok",
    }
    # element checks report one violation per offending element
    elements = {
        ("items.minimum", "tokens"): "len(list_filter(tokens, x -> x < 0))",
        ("items.maximum", "tokens"):
            f"len(list_filter(tokens, x -> x > {vocab - 1}))",
    }
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{table_glob}')")
        row_cols = [f"count_if(coalesce({p}, false))" for p in checks.values()]
        row_cols += [f"coalesce(sum({e}), 0)" for e in elements.values()]
        any_bad = " OR ".join(f"coalesce({p}, false)" for p in checks.values())
        any_bad += "".join(f" OR coalesce({e}, 0) > 0" for e in elements.values())
        counts = con.execute(
            f"SELECT count(*), count_if({any_bad}), {', '.join(row_cols)} "
            f"FROM t").fetchone()
        dup_extra = con.execute(
            "SELECT coalesce(sum(c - 1), 0) FROM (SELECT count(*) AS c FROM t "
            "WHERE doc_id IS NOT NULL GROUP BY doc_id HAVING count(*) > 1)"
        ).fetchone()[0]
        ref_miss = con.execute(
            f"SELECT count(*) FROM t WHERE source IS NOT NULL "
            f"AND source NOT IN ({src})").fetchone()[0]
        nulls = con.execute(
            "SELECT source, count_if(doc_id IS NULL), count(*) FROM t "
            "GROUP BY source").fetchall()
        hist = con.execute(
            f"SELECT source, {bucket} AS b, count(*) FROM t "
            f"WHERE n_tok IS NOT NULL GROUP BY 1, 2").fetchall()
    finally:
        con.close()
    metrics = {f"{code}|{col}": int(v)
               for (code, col), v in zip(list(checks) + list(elements),
                                         counts[2:]) if v}
    # group keys may be null, so groups travel as lists, not JSON objects
    return {
        "n_rows": int(counts[0]),
        "n_quarantined": int(counts[1]),
        "metrics": metrics,
        "dup_extra": int(dup_extra),
        "ref_miss": int(ref_miss),
        "doc_id_nulls": [[g, int(k), int(c)] for g, k, c in nulls],
        "n_tok_hist": [[g, int(b), int(c)] for g, b, c in hist],
    }


def gate_expectations_in_child(*args) -> dict:
    """``gate_expectations(*args)``, computed in a child process."""
    out = subprocess.run([sys.executable, __file__, json.dumps(args)],
                         check=True, capture_output=True, text=True).stdout
    return json.loads(out)


def _probs(counts: dict[int, int], n_buckets: int) -> list[float]:
    total = sum(counts.values()) or 1
    p = [max(counts.get(b, 0) / total, 1e-6) for b in range(-1, n_buckets + 1)]
    s = sum(p)
    return [x / s for x in p]


def drift_stats(base: dict[int, int], cur: dict[int, int],
                n_buckets: int) -> tuple[float, float]:
    """(PSI, KS) over fixed buckets with a 1e-6 probability floor."""
    p, q = _probs(base, n_buckets), _probs(cur, n_buckets)
    psi = sum((qi - pi) * math.log(qi / pi) for pi, qi in zip(p, q))
    cp = cq = ks = 0.0
    for pi, qi in zip(p, q):
        cp, cq = cp + pi, cq + qi
        ks = max(ks, abs(cp - cq))
    return psi, ks


def aggregate_violations(exp: dict, baseline: dict[str, dict[int, int]],
                         null_rate_max: float, n_buckets: int,
                         psi_max: float, ks_max: float) -> tuple[int, dict]:
    """Number of aggregate violations the gate must report, and the
    expected (PSI, KS) per drift group."""
    n = exp["dup_extra"] + exp["ref_miss"]
    n += sum(1 for _, k, c in exp["doc_id_nulls"]
             if c and k / c > null_rate_max)
    cur: dict[str, dict[int, int]] = {}
    for g, b, c in exp["n_tok_hist"]:
        cur.setdefault(g, {})[b] = c
    drift = {}
    for g in set(cur) | set(baseline):
        psi, ks = drift_stats(baseline.get(g, {}), cur.get(g, {}), n_buckets)
        drift[g] = (psi, ks)
        n += (psi > psi_max) + (ks > ks_max)
    return n, drift


if __name__ == "__main__":
    json.dump(gate_expectations(*json.loads(sys.argv[1])), sys.stdout)
