"""Cluster job entry point (spark-submit --py-files target).

spark-submit --py-files dist/jsonschemaparse_spark.zip \
    scripts/run_validation_job.py \
    --input  <parquet/iceberg path of webpages>          \
    --rules  <rules.json path (ruleset document)>        \
    --output <report dir>                                \
    [--state <checkpoint state dir>] [--snapshot <id>]   \
    [--key-cols url] [--json-col props] [--reprocess] [--positions]

Writes: <output>/violations (parquet), <output>/verdicts (parquet),
        <output>/summary.json. With --state, runs resumable per-file
        checkpointing instead of a flat pass.

--json-col validates a JSON-string column (hybrid JVM/Arrow engine). With
--state it uses the checkpointed run that records per-file clean flags;
--reprocess revalidates, routing proven-clean files through the UDF-free
typed plan. --positions adds (line, column) columns to the violations
output (the reference's ValidationError.position at table scope).

No master/config hardcoding: all sizing comes from spark-submit flags, so
the SAME artifact runs at N and 4N executors (north-rule deployment shape).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--rules", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--state", default=None)
    ap.add_argument("--snapshot", default="snap0")
    ap.add_argument("--key-cols", default="url")
    ap.add_argument("--tables", default=None,
                    help="JSON map name->path for referential/drift reference tables")
    ap.add_argument("--json-col", default=None,
                    help="validate this JSON-string column instead of the row")
    ap.add_argument("--reprocess", action="store_true",
                    help="with --state --json-col: revalidate all files; "
                         "proven-clean files use the typed (UDF-free) plan")
    ap.add_argument("--positions", action="store_true",
                    help="with --json-col (flat run): emit positioned "
                         "violation rows (line, column)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("jsonschemaparse-spark-validate").getOrCreate()

    from jsonschemaparse_spark.engine import compile_rule_suite, run_rule_suite
    from jsonschemaparse_spark.plans.checkpoint import run_with_checkpoint

    with open(args.rules) as fh:
        ruleset = json.load(fh)
    # plain JSON-Schema docs, boolean schemas included, are accepted as
    # {"schema": ...}
    if not (isinstance(ruleset, dict)
            and set(ruleset) <= {"schema", "unique", "referential", "drift"}):
        ruleset = {"schema": ruleset}
    suite = compile_rule_suite(ruleset)
    key_cols = args.key_cols.split(",")

    if args.json_col:
        # explicit guards (r4 third-review #8): no silent drops/fallbacks
        if suite.schema is None:
            ap.error("--json-col requires a 'schema' rule in the ruleset")
        extra = [k for k in ("unique", "referential", "drift") if getattr(suite, k, None)]
        if extra or args.tables:
            ap.error(f"--json-col validates the JSON column only; "
                     f"unsupported with {extra or '--tables'} — run a second "
                     f"pass without --json-col for table-scope rules")
        if args.positions and args.state:
            ap.error("--positions is a flat-run report; drop --state")
        from jsonschemaparse_spark.plans.checkpoint import run_json_with_checkpoint
        from jsonschemaparse_spark.plans.json_validator import (
            validate_json_column,
            validate_json_positions,
        )

        if args.state:
            jrun = run_json_with_checkpoint(
                spark, args.input, args.json_col, suite.schema, args.state,
                snapshot_id=args.snapshot, key_cols=key_cols,
                reprocess=args.reprocess,
            )
            jrun.violations.write.mode("append").parquet(f"{args.output}/violations")
            jrun.verdicts.write.mode("overwrite").parquet(f"{args.output}/verdicts")
            summary = {
                "n_files_total": jrun.n_files_total,
                "n_files_skipped": jrun.n_files_skipped,
                "n_files_typed": jrun.n_files_typed,
                "engine_used": jrun.engine_used,
            }
        else:
            df = spark.read.parquet(args.input)
            if args.positions:
                out = validate_json_positions(
                    df, args.json_col, suite.schema, key_cols=key_cols)
                out.write.mode("overwrite").parquet(f"{args.output}/violations")
                summary = {"mode": "json-positions"}
            else:
                res = validate_json_column(
                    df, args.json_col, suite.schema, key_cols=key_cols)
                res.evaluation()  # one kernel pass for the three reports
                res.violations().write.mode("overwrite").parquet(
                    f"{args.output}/violations")
                res.verdicts().write.mode("overwrite").parquet(
                    f"{args.output}/verdicts")
                summary = res.summary()
    elif args.state and suite.schema is not None:
        run = run_with_checkpoint(
            spark, args.input, suite.schema, args.state,
            snapshot_id=args.snapshot, key_cols=key_cols,
        )
        run.violations.write.mode("append").parquet(f"{args.output}/violations")
        run.verdicts.write.mode("overwrite").parquet(f"{args.output}/verdicts")
        summary = {
            "n_files_total": run.n_files_total,
            "n_files_skipped": run.n_files_skipped,
        }
    else:
        df = spark.read.parquet(args.input)
        tables = {}
        if args.tables:
            tables = {k: spark.read.parquet(v)
                      for k, v in json.loads(args.tables).items()}
        report = run_rule_suite(df, suite, tables=tables, key_cols=key_cols)
        if report.row_result is not None:
            report.row_result.violations().write.mode("overwrite").parquet(
                f"{args.output}/violations"
            )
            report.row_result.verdicts().write.mode("overwrite").parquet(
                f"{args.output}/verdicts"
            )
        summary = report.summary()

    # Overwrite semantics: the documented resume workflow re-invokes with the
    # same --output; RDD saveAsTextFile would throw FileAlreadyExistsException.
    spark.createDataFrame([(json.dumps(summary),)], "value string") \
        .coalesce(1).write.mode("overwrite").text(f"{args.output}/summary.json")
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
