#!/usr/bin/env python
"""Cluster entry point: checkpointed, resumable validation of a snapshot
table. Run ``python package.py`` first to build the archive:

    spark-submit --py-files dist/schemasaurus_spark.zip \
        jobs/validate_job.py --table /path/to/table --state /path/to/state \
        [--snapshot sNNNNN] [--suite sequences_full]

Exit code 0 = table passed, 1 = violations found (lineage/violations/
metrics tables written either way), 2 = usage error.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local/standalone runs: the package sits next to jobs/; on a cluster
# `spark-submit --py-files dist/schemasaurus_spark.zip` provides it instead
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def sequences_full_suite():
    import pyspark.sql.functions as F
    from schemasaurus_spark import dsl, datagen

    return dsl.Suite(
        id_column="doc_id",
        columns={
            "doc_id": [dsl.NotNull(), dsl.Pattern(r"^[a-z]+-[0-9]{8}$")],
            "n_tok": [dsl.NotNull(), dsl.Minimum(1), dsl.Maximum(2048)],
            "source": [dsl.NotNull(), dsl.Enum(datagen.SOURCES)],
            "tokens": [
                dsl.MinItems(1), dsl.MaxItems(2048),
                dsl.Items([dsl.Minimum(0), dsl.Maximum(datagen.VOCAB - 1)]),
            ],
        },
        row=[("tokens", dsl.Conform(
            name="size_eq_n_tok",
            expr=lambda c: F.size("tokens") == F.col("n_tok")))],
        name="sequences_full_v1",
    )


SUITES = {"sequences_full": sequences_full_suite,
          "sequence_layout": None}  # built from --layout-ids (vocab,bos,eos[,pad])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True, help="snapshot-table root")
    ap.add_argument("--state", required=True, help="checkpoint state dir")
    ap.add_argument("--snapshot", default=None)
    ap.add_argument("--suite", default="sequences_full", choices=sorted(SUITES))
    ap.add_argument("--schema-json", default=None, metavar="PATH",
                    help="draft-4 JSON Schema document to validate against "
                         "(the reference's native newValidator(schema) "
                         "input) — overrides --suite")
    ap.add_argument("--id-column", default="doc_id",
                    help="id column for --schema-json suites")
    ap.add_argument("--normalize", action="store_true",
                    help="with --schema-json: apply the document's "
                         "defaults/casts/pruning (newNormalizer analog) "
                         "before validating")
    ap.add_argument("--incremental", action="store_true",
                    help="validate every snapshot not yet covered by "
                         "lineage (delta files only, carried-forward "
                         "lineage for unchanged files)")
    ap.add_argument("--aggregate", action="store_true",
                    help="also run the aggregate checks: doc_id uniqueness "
                         "(exact salted) and PSI/KS drift of --drift-column "
                         "vs the checkpointed baseline (bootstrap-written "
                         "under --state on the first run)")
    ap.add_argument("--drift-column", default="n_tok")
    ap.add_argument("--drift-array", action="store_true",
                    help="drift over the ELEMENTS of --drift-column (the "
                         "north star's token-id histogram; array column, "
                         "no explode)")
    ap.add_argument("--drift-by", default="source",
                    help="'none' = one global histogram (small groups make "
                         "PSI/KS noisy at low row counts)")
    ap.add_argument("--drift-edges", default="0,64,128,256,512,1024,2048",
                    help="comma-separated fixed bucket edges (frozen into "
                         "the baseline checkpoint)")
    ap.add_argument("--embedding-column", default=None, metavar="COL",
                    help="with --aggregate: centroid drift of this "
                         "array<numeric> embedding column vs a "
                         "checkpointed baseline (cosine + L2; bootstrap "
                         "on first run, same BaselineStore commit "
                         "protocol as the histogram path)")
    ap.add_argument("--null-rate", default=None, metavar="JSON",
                    help="with --aggregate: per-column null-rate ceilings, "
                         "e.g. '{\"n_tok\": 0.01}', grouped by --drift-by — "
                         "rides the same fused scan as the drift compare "
                         "and --stat-bounds")
    ap.add_argument("--unique-key", default=None, metavar="COL[,COL...]",
                    help="with --aggregate: uniqueness key override — a "
                         "single column or a comma-separated COMPOSITE key "
                         "(default: the suite's id column)")
    ap.add_argument("--ref-dim", default=None, metavar="PARQUET",
                    help="with --aggregate: referential check — every "
                         "--ref-column value must exist in this parquet "
                         "dimension table (broadcast anti-join)")
    ap.add_argument("--ref-column", default="source",
                    help="fact AND dim key column for --ref-dim")
    ap.add_argument("--ref-scaled", action="store_true",
                    help="with --ref-dim: the dimension is too large to "
                         "broadcast (doc-id-like FK) — use the distinct-"
                         "key two-phase path (keys shuffle, rows never)")
    ap.add_argument("--stat-bounds", default=None, metavar="JSON",
                    help="with --aggregate: Deequ-style aggregate "
                         "assertions, e.g. '{\"n_tok\": {\"min_mean\": 1, "
                         "\"max_value\": 2048}}' (keys: min_mean/max_mean/"
                         "min_value/max_value), grouped by --drift-by; "
                         "one fused scan regardless of column count")
    ap.add_argument("--trend", action="store_true",
                    help="compare per-constraint violation RATES between "
                         "the last two validated increments (lineage/"
                         "metrics tables only, zero input scans); a "
                         "spike (>=10x) or novel constraint fails the "
                         "run")
    ap.add_argument("--check-schema", action="store_true",
                    help="walk the snapshot history and diff each "
                         "snapshot's added-file schemas (footer-only, "
                         "zero data scans); breaking changes under "
                         "Iceberg promotion rules fail the run")
    ap.add_argument("--sample", type=float, default=None, metavar="FRAC",
                    help="smoke mode: validate only a deterministic "
                         "id-hash sample of the snapshot (membership is a "
                         "pure function of the id — stable across reruns) "
                         "and report pass/fail WITHOUT committing lineage "
                         "or state; the 5-minute pre-flight before the "
                         "full 100 TB pass")
    ap.add_argument("--layout-ids", default=None, metavar="VOCAB,BOS,EOS[,PAD]",
                    help="with --suite sequence_layout: vocab size + "
                         "special-token ids for the token layout suite "
                         "(BOS-first, pad-aware EOS, pad-only-suffix, "
                         "vocab range, size==n_tok)")
    ap.add_argument("--suggest", action="store_true",
                    help="profile the snapshot and print a draft config "
                         "instead of validating: a draft-4 JSON Schema "
                         "(feed back via --schema-json), stat_bounds "
                         "(--stat-bounds), and unique-key candidates — "
                         "2 scans, writes nothing")
    ap.add_argument("--lint", action="store_true",
                    help="static pre-flight: lint the suite (contradiction "
                         "/ satisfiability analysis) against the table "
                         "schema BEFORE validating — zero data scans; "
                         "error-severity findings abort with exit 2 "
                         "(config error) instead of burning a full-table "
                         "pass that rejects every row")
    ap.add_argument("--quarantine", default=None, metavar="DIR",
                    help="split sink: ONE extra scan writes valid rows "
                         "under DIR/quarantined=false/ and failing rows "
                         "(+ JSON violation report) under …=true/ via a "
                         "partitioned write (overwrites DIR; the "
                         "validation-tier gate of a training pipeline)")
    ap.add_argument("--config", default=None, metavar="JSON_PATH",
                    help="validation-config-as-code: a JSON object whose "
                         "keys are flag names (dashes or underscores, no "
                         "leading --) providing DEFAULTS for this run; "
                         "flags given on the command line always win "
                         "(--table/--state stay CLI-required)")

    # Two-phase parse so config values become PARSER DEFAULTS before the
    # real parse: explicit CLI flags then win unconditionally — comparing
    # post-parse values against defaults would silently lose a CLI flag
    # whose value happens to EQUAL the default (round-5e review).
    pre = argparse.ArgumentParser(add_help=False)
    pre.add_argument("--config", default=None)
    pre_args, _ = pre.parse_known_args()
    if pre_args.config:
        try:
            with open(pre_args.config) as f:
                cfg = json.load(f)
        except (OSError, json.JSONDecodeError) as e:
            print(f"error: --config {pre_args.config}: {e}", file=sys.stderr)
            return 2
        by_dest = {a.dest: a for a in ap._actions}
        defaults = {}
        for k, v in cfg.items():
            dest = k.replace("-", "_")
            action = by_dest.get(dest)
            if dest in ("config", "help") or action is None:
                print(f"error: unknown --config key {k!r}", file=sys.stderr)
                return 2
            if isinstance(v, (dict, list)):
                # JSON-valued flags (--stat-bounds/--null-rate) take
                # strings on the CLI; in the file they are natural JSON
                v = json.dumps(v)
            elif isinstance(action, (argparse._StoreTrueAction,
                                     argparse._StoreFalseAction)):
                # a config FILE is typed JSON: only true/false is a valid
                # value for a boolean flag (a JSON string "false" would be
                # truthy once stored as the default)
                if not isinstance(v, bool):
                    print(f"error: --config key {k!r}: {v!r} is not a "
                          f"valid boolean", file=sys.stderr)
                    return 2
            elif action.type is not None and v is not None:
                # config parity with CLI typing — but STRICT: JSON already
                # carries types, so a quoted number for a numeric flag is a
                # usage error, not something to coerce
                if action.type in (int, float) and isinstance(v, (str, bool)):
                    print(f"error: --config key {k!r}: {v!r} is not a "
                          f"valid {action.type.__name__}", file=sys.stderr)
                    return 2
                try:
                    v = action.type(v)
                except (TypeError, ValueError):
                    print(f"error: --config key {k!r}: {v!r} is not a "
                          f"valid {getattr(action.type, '__name__', '?')}",
                          file=sys.stderr)
                    return 2
            if action.choices is not None and v not in action.choices:
                print(f"error: --config key {k!r}: {v!r} not one of "
                      f"{sorted(action.choices)}", file=sys.stderr)
                return 2
            defaults[dest] = v
        ap.set_defaults(**defaults)
    args = ap.parse_args()

    # usage-error gate (exit 2): incompatible/ineffective flag combinations
    # must not masquerade as clean runs or data failures (round-4 review)
    if args.normalize and not args.schema_json:
        print("error: --normalize requires --schema-json (it applies the "
              "document's defaults/casts/pruning)", file=sys.stderr)
        return 2
    if args.embedding_column and not args.aggregate:
        print("error: --embedding-column requires --aggregate (it is an "
              "aggregate drift check)", file=sys.stderr)
        return 2
    if args.suggest:
        clash = [f for f, on in (("--incremental", args.incremental),
                                 ("--aggregate", args.aggregate),
                                 ("--quarantine", args.quarantine),
                                 ("--trend", args.trend),
                                 ("--check-schema", args.check_schema),
                                 ("--lint", args.lint),
                                 ("--sample", args.sample is not None))
                 if on]
        if clash:
            print(f"error: --suggest profiles and exits — incompatible "
                  f"with {', '.join(clash)}", file=sys.stderr)
            return 2
    if args.stat_bounds and not args.aggregate:
        print("error: --stat-bounds requires --aggregate (it is an "
              "aggregate assertion)", file=sys.stderr)
        return 2
    # parse + statically validate the JSON-valued flags NOW: a typo'd
    # spec key or malformed JSON is a USAGE error (exit 2) and must not
    # crash mid-run wearing exit 1, the 'violations found' code
    bounds = None
    if args.stat_bounds:
        try:
            bounds = json.loads(args.stat_bounds)
        except json.JSONDecodeError as e:
            print(f"error: --stat-bounds is not valid JSON: {e}",
                  file=sys.stderr)
            return 2
        from schemasaurus_spark.operators.aggregates import STAT_BOUND_KEYS

        if not isinstance(bounds, dict) or not all(
                isinstance(s, dict) and not (set(s) - STAT_BOUND_KEYS)
                and all(isinstance(x, (int, float)) for x in s.values())
                for s in bounds.values()):
            print(f"error: --stat-bounds must map columns to "
                  f"{{{'/'.join(sorted(STAT_BOUND_KEYS))}: number}} specs",
                  file=sys.stderr)
            return 2
    null_rate = None
    if args.null_rate:
        try:
            null_rate = json.loads(args.null_rate)
        except json.JSONDecodeError as e:
            print(f"error: --null-rate is not valid JSON: {e}",
                  file=sys.stderr)
            return 2
        if not isinstance(null_rate, dict) or not all(
                isinstance(x, (int, float)) for x in null_rate.values()):
            print("error: --null-rate must map columns to max rates "
                  "(numbers)", file=sys.stderr)
            return 2
    if args.unique_key and not args.aggregate:
        print("error: --unique-key requires --aggregate (uniqueness is an "
              "aggregate check)", file=sys.stderr)
        return 2
    if args.null_rate and not args.aggregate:
        print("error: --null-rate requires --aggregate (it is an "
              "aggregate check)", file=sys.stderr)
        return 2
    if args.ref_dim and not args.aggregate:
        print("error: --ref-dim requires --aggregate (it is an aggregate "
              "referential check)", file=sys.stderr)
        return 2
    if args.ref_scaled and not args.ref_dim:
        print("error: --ref-scaled requires --ref-dim", file=sys.stderr)
        return 2
    if args.incremental and args.snapshot:
        print("error: --incremental and --snapshot are incompatible — "
              "incremental mode walks every snapshot not yet in lineage",
              file=sys.stderr)
        return 2
    if args.sample is not None:
        if not 0.0 < args.sample <= 1.0:
            print(f"error: --sample {args.sample} must be in (0, 1]",
                  file=sys.stderr)
            return 2
        clash = [f for f, on in (("--incremental", args.incremental),
                                 ("--aggregate", args.aggregate),
                                 ("--quarantine", args.quarantine),
                                 ("--trend", args.trend),
                                 ("--check-schema", args.check_schema))
                 if on]
        if clash:
            print(f"error: --sample is a stateless smoke check — "
                  f"incompatible with {', '.join(clash)} (aggregate "
                  f"baselines/lineage/trend must never be built from a "
                  f"sample)", file=sys.stderr)
            return 2
    if (args.suite == "sequence_layout") != bool(args.layout_ids):
        print("error: --suite sequence_layout and --layout-ids "
              "VOCAB,BOS,EOS[,PAD] go together (one without the other "
              "is a config mistake)", file=sys.stderr)
        return 2

    # On a cluster, spark-submit provides the session; get_spark only fills
    # in local-mode defaults when run standalone.
    from schemasaurus_spark.session import get_spark
    from schemasaurus_spark.sources.storage import SnapshotStore
    from schemasaurus_spark.plans.lineage import ValidationCheckpoint

    # no console progress bar: its \r-joined text would run into the
    # job's own `error: …` line on stderr
    spark = get_spark("validate_job",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    store = SnapshotStore(args.table)
    if args.suggest:
        from schemasaurus_spark import suite_to_json_schema
        from schemasaurus_spark.profiler import suggest_suite

        res = suggest_suite(store.read(spark, args.snapshot))
        print(json.dumps({
            "mode": "suggest",
            "n_rows": res.n_rows,
            "schema": suite_to_json_schema(res.suite),
            "stat_bounds": res.stat_bounds,
            "unique_candidates": res.unique_candidates,
        }))
        return 0
    cp = ValidationCheckpoint(args.state)
    pre_transform = None
    if args.schema_json:
        from schemasaurus_spark.schema_json import (
            normalizer_spec_from_json_schema, suite_from_json_schema)

        with open(args.schema_json) as f:
            doc = json.load(f)
        suite = suite_from_json_schema(doc, id_column=args.id_column)
        if args.normalize:
            import hashlib

            from schemasaurus_spark.normalizer import normalize

            nspec = normalizer_spec_from_json_schema(doc)
            pre_transform = lambda df: normalize(df, nspec)
            cp = ValidationCheckpoint(
                args.state,
                pre=pre_transform,
                # NormalizerSpec reprs deterministically (plain dataclasses)
                pre_hash=hashlib.sha256(repr(nspec).encode()).hexdigest()[:8])
    elif args.suite == "sequence_layout":
        from schemasaurus_spark.operators.tokens import sequence_layout_suite

        try:
            ids = [int(x) for x in args.layout_ids.split(",")]
            if len(ids) not in (3, 4):
                raise ValueError
        except ValueError:
            print(f"error: --layout-ids {args.layout_ids!r} must be "
                  f"VOCAB,BOS,EOS[,PAD] integers", file=sys.stderr)
            return 2
        suite = sequence_layout_suite(ids[0], ids[1], ids[2],
                                      ids[3] if len(ids) == 4 else None,
                                      id_column=args.id_column)
    else:
        suite = SUITES[args.suite]()
    if args.lint:
        from schemasaurus_spark.plans.suite_tools import lint_suite

        # schema only — a parquet footer read, no data scan
        findings = lint_suite(suite, store.read(spark).schema)
        for f in findings:
            print(json.dumps({"lint": f.severity, "column": f.column,
                              "code": f.code, "message": f.message}),
                  file=sys.stderr)
        if any(f.severity == "error" for f in findings):
            print("error: suite lint found unsatisfiable constraints — "
                  "refusing to scan (fix the suite or drop --lint)",
                  file=sys.stderr)
            return 2
    import time
    t0 = time.time()
    if args.sample is not None:
        from schemasaurus_spark.operators.sampling import sample_rows
        from schemasaurus_spark.validate import validate as _validate

        df = store.read(spark, args.snapshot)
        if pre_transform is not None:
            df = pre_transform(df)
        res = _validate(sample_rows(df, args.sample, args.id_column), suite)
        verd = res.verdicts().collect()
        n_rows = int(sum(r["n_rows"] for r in verd))
        n_viol = int(sum(r["n_violations"] for r in verd))
        report = {
            "mode": "sample_smoke",
            "sampled_fraction": args.sample,
            "wall_s": round(time.time() - t0, 3),
            "n_rows": n_rows,
            "n_violations": n_viol,
            "pass": n_viol == 0,
        }
        print(json.dumps(report))
        return 0 if report["pass"] else 1
    if args.incremental:
        from schemasaurus_spark.streaming.incremental import (
            IncrementalState, validate_new_snapshots)

        # PERSIST the incremental cursor: a fresh IncrementalState every
        # invocation re-walked every historical snapshot (file-keyed
        # lineage made it correct but O(snapshots) driver work per run —
        # round-4 review)
        inc_path = os.path.join(args.state, "incremental.json")
        last = None
        if os.path.exists(inc_path):
            with open(inc_path) as f:
                last = json.load(f).get("last_validated_snapshot")
        state = IncrementalState(last_validated_snapshot=last)
        runs = validate_new_snapshots(spark, store, suite, cp, state)
        tmp = inc_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"last_validated_snapshot":
                       state.last_validated_snapshot}, f)
        os.replace(tmp, inc_path)
        if not runs:
            print(json.dumps({"snapshots_validated": 0, "pass": True}))
            return 0
        run = runs[-1]
    else:
        run = cp.run(spark, store, suite, args.snapshot)
    wall_s = round(time.time() - t0, 3)
    report = {
        "snapshot_id": run.snapshot_id,
        "wall_s": wall_s,
        "suite_hash": run.suite_hash,
        "files_validated": run.files_validated,
        "files_skipped": run.files_skipped,
        "n_rows": run.n_rows,
        "n_violations": run.n_violations,
        "pass": run.table_pass,
    }
    agg_pass = True
    if args.aggregate:
        from schemasaurus_spark.engine import AggregateChecks, aggregate_checks
        from schemasaurus_spark.plans.baseline import BaselineStore
        from schemasaurus_spark.session import local_frame

        df = store.read(spark, args.snapshot)
        if pre_transform is not None:
            # aggregates must see the SAME view of the table as row
            # validation (defaults/casts/pruning applied)
            df = pre_transform(df)
        drift_by = None if args.drift_by in ("", "none") else args.drift_by
        bs = BaselineStore(args.state)
        loaded = bs.load(spark, args.drift_column)
        if loaded is None:
            base_hist = None
            edges = [float(x) for x in args.drift_edges.split(",")]
        else:
            frozen = bs.config(args.drift_column)
            if frozen and (frozen.get("drift_by") != drift_by
                           or frozen.get("is_array")
                           != bool(args.drift_array)):
                print(f"error: drift baseline for '{args.drift_column}' "
                      f"was built with {frozen}; rerun with the same "
                      f"--drift-by/--drift-array or re-baseline under a "
                      f"fresh --state", file=sys.stderr)
                return 2
            base_hist, edges = loaded
        # one engine call: uniqueness is one scan, and the drift histogram,
        # --stat-bounds/--null-rate partials and the --ref-dim miss count
        # share one fused scan, grouped like the drift
        try:
            res = aggregate_checks(df, AggregateChecks(
                unique_key=([k.strip() for k in args.unique_key.split(",")]
                            if args.unique_key else suite.id_column),
                sources_dim=(spark.read.parquet(args.ref_dim)
                             if args.ref_dim else None),
                ref_column=args.ref_column, ref_scaled=args.ref_scaled,
                null_rate_max=null_rate, null_rate_by=drift_by,
                stat_bounds=bounds, drift_baseline=base_hist,
                drift_column=args.drift_column, drift_edges=edges,
                drift_by=drift_by, drift_is_array=bool(args.drift_array),
            ), suite.id_column)
        except ValueError as e:
            # a table-dependent config error is exit 2, not a mid-run
            # crash wearing exit 1
            print(f"error: {e}", file=sys.stderr)
            return 2
        agg_pass = res.n_agg == 0
        report["unique_total"] = res.unique.screen_total
        report["unique_distinct"] = res.unique.screen_distinct
        report["unique_pass"] = res.unique.screened_clean
        if res.ref_missing_rows is not None:
            report["ref_missing_rows"] = res.ref_missing_rows
            report["ref_pass"] = res.ref_missing_rows == 0
        for key, checked in (("stat_bound_violations", res.stat_bounds),
                             ("null_rate_violations", res.null_rate)):
            if checked is not None:
                report[key] = [
                    {"group": r["doc_id"], "constraint_id": r["constraint_id"],
                     "column": r["column"], "value": r["value"],
                     "arg": r["arg"]}
                    for r in checked.violations.collect()]
        if loaded is None:
            # bootstrap: freeze the histogram AND how it was built —
            # comparing later runs under a different grouping/form would
            # silently flag every group as drifted (round-4 review). The
            # keys keep the group column's type, as later compares read it.
            gtype = (df.schema[drift_by].dataType.simpleString()
                     if drift_by else "string")
            bs.save(local_frame(
                spark, [(g, b, n) for g, m in res.drift_counts.items()
                        for b, n in m.items()],
                f"group_key {gtype}, bucket int, count bigint"),
                args.drift_column, edges,
                config={"drift_by": drift_by,
                        "is_array": bool(args.drift_array)})
            report["drift"] = "baseline_bootstrapped"
        else:
            report["drift"] = [
                {"group": r.group_key, "psi": round(r.psi, 6),
                 "ks": round(r.ks, 6), "pass": r.passed}
                for r in res.drift
            ]
        if args.embedding_column:
            from schemasaurus_spark.operators import aggregates as agg

            ecol = args.embedding_column
            key = f"{ecol}__centroid"
            eloaded = bs.load(spark, key)
            if eloaded is None:
                bs.save(agg.embedding_centroids(df, ecol, by=drift_by),
                        key, [], config={"kind": "embedding_centroid",
                                         "drift_by": drift_by})
                report["embedding_drift"] = "baseline_bootstrapped"
            else:
                efrozen = bs.config(key)
                if efrozen and efrozen.get("drift_by") != drift_by:
                    print(f"error: embedding baseline for '{ecol}' was "
                          f"built with {efrozen}; rerun with the same "
                          f"--drift-by or re-baseline under a fresh "
                          f"--state", file=sys.stderr)
                    return 2
                eres = agg.embedding_drift_check(
                    df, eloaded[0], ecol, by=drift_by)
                report["embedding_drift"] = [
                    {"group": r.group_key,
                     "cosine_dist": round(r.cosine_dist, 6),
                     "l2_shift": round(r.l2_shift, 6), "pass": r.passed}
                    for r in eres]
                agg_pass &= all(r.passed for r in eres)
    if args.trend:
        from schemasaurus_spark.plans.lineage import metrics_trend

        alerts = metrics_trend(cp, spark)
        report["trend"] = [
            {"constraint_id": a.constraint_id, "column": a.column,
             "kind": a.kind, "prev_rate": round(a.prev_rate, 8),
             "cur_rate": round(a.cur_rate, 8), "prev_n": a.prev_n,
             "cur_n": a.cur_n}
            for a in alerts]
        agg_pass &= not alerts
    if args.check_schema:
        from schemasaurus_spark.plans.schema_evolution import (
            snapshot_schema_changes)

        walk = snapshot_schema_changes(store, spark)
        report["schema_changes"] = [
            {"from": f, "to": t,
             "changes": [{"kind": c.kind, "column": c.column,
                          "before": c.before, "after": c.after,
                          "breaking": c.breaking} for c in cs]}
            for f, t, cs in walk]
        agg_pass &= not any(c.breaking for _, _, cs in walk for c in cs)
    if args.quarantine:
        from schemasaurus_spark.validate import validate as _validate

        qdf = store.read(spark, args.snapshot)
        if pre_transform is not None:
            qdf = pre_transform(qdf)
        report["quarantine"] = _validate(qdf, suite).write_split(
            args.quarantine, mode="overwrite")
    report["pass"] = bool(report["pass"] and agg_pass)
    print(json.dumps(report))
    return 0 if report["pass"] else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except Exception:  # noqa: BLE001 — exit-code contract: 1 is reserved
        # for "violations found"; a crash must not read as a data failure
        import traceback

        traceback.print_exc()
        sys.exit(2)
