"""Checkpoint/resume with per-unit lineage + metrics (north rule M7).

The resumable unit is the INPUT FILE (parquet split): the sandbox stand-in
for an Iceberg snapshot's file manifest. A state table under `state_dir`
records (snapshot_id, file) -> metrics for every completed unit; re-runs
skip completed units and only validate new ones, then verdicts are the union
of stored + fresh metrics. This is the distributed analog of the reference's
`done` promise / incremental writes (parse.js:224-233, 318-326): progress is
durable at unit granularity, and a killed run resumes where it left off.

On Iceberg the same design keys on (snapshot_id, manifest file); here the
snapshot_id is a caller-supplied label (e.g. the input dir's mtime hash).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..sources.maintenance import restore_swap
from .kernels import VIOLATION_STRUCT
from .validator import (
    ValidationResult,
    _compiled,
    key_columns,
    validate_dataframe,
    verdict_rollup,
)

_FILE_COL = "_jsp_file"
# per-file metric rows, in the column ORDER each runner writes them, so
# a fresh-state empty frame never reorders vs an existing-state read
# (r5 review #8)
_ROW_METRICS = ("file string, n_rows long, n_failed_rows long, "
                "n_violations long, pass boolean, snapshot_id string")
_JSON_METRICS = ("snapshot_id string, file string, n_rows long, "
                 "n_failed_rows long, n_violations long, pass boolean, "
                 "clean_typed_ok boolean")


@dataclass
class CheckpointedRun:
    verdicts: DataFrame      # one row per input file (completed or fresh)
    violations: DataFrame    # violations from files processed THIS run
    n_files_total: int
    n_files_skipped: int


def _metrics_path(state_dir: str) -> str:
    return os.path.join(state_dir, "metrics")


def _violations_path(state_dir: str) -> str:
    return os.path.join(state_dir, "violations")


def _input_files(spark, input_path: str) -> tuple[DataFrame, list[str]]:
    """The input frame and its distinct files, the resumable units."""
    df = spark.read.parquet(input_path)
    files = [
        r["f"] for r in df.select(F.input_file_name().alias("f")).distinct().collect()
    ]
    return df, files


def _read_verdicts(spark, metrics_path: str, snapshot_id: str,
                   schema: str) -> DataFrame:
    """This snapshot's per-file metric rows — or an empty frame with the
    same schema when the metrics store was never written (zero input
    files on a fresh state dir; the bare read would raise
    AnalysisException, ADVICE r4)."""
    if os.path.exists(metrics_path):
        return spark.read.schema(schema).parquet(metrics_path).filter(
            F.col("snapshot_id") == snapshot_id
        )
    return spark.createDataFrame([], schema)


def _prior_metrics(spark, metrics_path: str, snapshot_id: str, schema: str) -> list:
    """_read_verdicts, collected. A fresh state dir returns [] without
    collecting the empty frame, which would cost a Spark job."""
    if not os.path.exists(metrics_path):
        return []
    return _read_verdicts(spark, metrics_path, snapshot_id, schema).collect()


def _per_file(res: ValidationResult, *extra) -> DataFrame:
    """One verdict row per input file (plus any `extra` aggregates)."""
    return verdict_rollup(
        res.annotated.groupBy(F.col(_FILE_COL).alias("file")), res._n_viols(), *extra
    )


def _empty_violations(spark, df: DataFrame, keys: list[str]) -> DataFrame:
    """A run with nothing fresh returns an EMPTY frame with the real
    violations schema (key cols + 6 report fields), so downstream
    appends/unions don't produce a schema-mismatched parquet dir."""
    schema = StructType([df.schema[k] for k in keys] + VIOLATION_STRUCT.fields)
    return spark.createDataFrame([], schema)


def _swap_write(frame: DataFrame, path: str) -> None:
    """Replace the parquet store at `path` with `frame`. The frame may
    READ `path`, so an in-place overwrite would delete its own source
    mid-computation (cache eviction / lost-executor replay recomputes
    from the deleted files). Stage to `<path>.__jsp_stage`, then swap in
    compact_parquet's order: live aside to `<path>.__jsp_old`, stage in,
    drop the old copy. A kill at any step leaves a complete store at
    `path` or at `<path>.__jsp_old`, and restore_swap settles it at the
    start of the next run. No row-count check or concurrent-append
    rollback as in compact_parquet: the runner is the store's only
    writer."""
    stage, old = f"{path}.__jsp_stage", f"{path}.__jsp_old"
    frame.write.mode("overwrite").parquet(stage)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(stage, path)
    shutil.rmtree(old, ignore_errors=True)


def run_with_checkpoint(
    spark: SparkSession,
    input_path: str,
    rules,
    state_dir: str,
    snapshot_id: str = "snap0",
    key_cols=None,
) -> CheckpointedRun:
    """Validate `input_path` (parquet), resuming from `state_dir`.

    Per-file metrics: (snapshot_id, file, n_rows, n_failed_rows,
    n_violations, pass). Files already recorded for this snapshot_id are
    pruned from the scan (file-list pushdown: the skipped files are never
    opened — check the plan's file listing). One persisted evaluation of
    the report columns feeds both state writes."""
    df, all_files = _input_files(spark, input_path)
    keys = key_columns(df, key_cols or None)
    metrics_path = _metrics_path(state_dir)
    prior_rows = _prior_metrics(spark, metrics_path, snapshot_id, _ROW_METRICS)
    done = {r["file"] for r in prior_rows}
    todo = [f for f in all_files if f not in done]

    if todo:
        # Capture the file AT SCAN TIME: input_file_name() evaluated above a
        # later exchange (the Arrow fallback path repartitions) returns ''.
        # The _jsp_ prefix keeps the helper column OUT of the validated row
        # object (validate_dataframe excludes internal columns), and passing
        # it as a KEY column threads it through every engine path (Column,
        # per-column fallback, whole-row Arrow) to the annotated output.
        # Every data column is validated: read the pending files' schema.
        res = validate_dataframe(
            spark.read.parquet(*todo).withColumn(_FILE_COL, F.input_file_name()),
            rules, key_cols=keys + [_FILE_COL],
        )
        res.annotated = res.annotated.select(*(  # what the writes read
            c for c in res.annotated.columns if c in keys or c.startswith("_jsp_")
        )).persist()
        try:
            _per_file(res).withColumn("snapshot_id", F.lit(snapshot_id)) \
                .write.mode("append").parquet(metrics_path)
            violations = res.violations().drop(_FILE_COL)
            violations.write.mode("append").parquet(_violations_path(state_dir))
        finally:
            res.annotated.unpersist()
    else:
        violations = _empty_violations(spark, df, keys)

    verdicts = _read_verdicts(spark, metrics_path, snapshot_id, _ROW_METRICS)
    return CheckpointedRun(
        verdicts=verdicts,
        violations=violations,
        n_files_total=len(all_files),
        n_files_skipped=len(all_files) - len(todo),
    )


@dataclass
class CheckpointedJsonRun:
    verdicts: DataFrame      # one row per input file (completed or fresh)
    violations: DataFrame    # THIS run's, scanned from the state: see below
    n_files_total: int
    n_files_skipped: int
    n_files_typed: int       # files revalidated on the UDF-free typed plan
    engine_used: str         # 'auto' | 'typed' | 'mixed' | 'none'


def run_json_with_checkpoint(
    spark: SparkSession,
    input_path: str,
    json_col: str,
    rules,
    state_dir: str,
    snapshot_id: str = "snap0",
    key_cols=None,
    reprocess: bool = False,
) -> CheckpointedJsonRun:
    """JSON-column checkpointed validation with the SOUND typed-skip
    (VERDICT r2/r3 stretch, end-to-end): every run records, PER FILE,
    whether any of that file's rows was routed to the Python rescue UDF —
    the hybrid path's needs_py flag surfaced as a column
    (validate_json_column(keep_flag_col=...)), aggregated in the same
    per-file pass as the metrics (r4 review finding #5: the run-wide
    Observation would let one dirty file block every clean file's
    graduation). On `reprocess=True`, files whose prior run recorded zero
    flagged rows are revalidated with engine='typed' on the exact struct
    the hybrid routed through: identical results BY CONSTRUCTION (zero
    flagged rows means the JVM from_json verdicts were never overridden)
    and the plan carries no Python stage (plan-asserted in
    tests/test_streaming_checkpoint.py). Files with flagged rows, or
    whose run used the Arrow path (flag column is all-True there), stay
    on engine='auto'.

    State (both snapshot-keyed so reprocess can supersede):
    - metrics:    (snapshot_id, file, n_rows, n_failed_rows, n_violations,
                   pass, clean_typed_ok)
    - violations: report rows + (snapshot_id, file)
    Reprocess rewrites replace this snapshot's rows via stage-then-swap
    (_swap_write) — never an in-lineage overwrite of the parquet being
    read (r4 review finding #4: the self-overwrite hazard); a run first
    settles any swap a killed run left behind. Lineage/skip
    semantics match run_with_checkpoint (file-granular, pruned scans).
    One persisted evaluation feeds both state writes. The returned
    violations are this run's rows scanned from the state: write or
    collect them before a reprocess run on the same state_dir swaps it."""
    from . import json_validator as jv  # looked up per call: tracers patch it

    FLAG = "_jsp_rescue_flag"
    df, all_files = _input_files(spark, input_path)
    keys = key_columns(df, key_cols or None)
    metrics_path = _metrics_path(state_dir)
    violations_path = _violations_path(state_dir)
    for store in (metrics_path, violations_path):
        restore_swap(store, f"{store}.__jsp_old")
    prior_rows = _prior_metrics(spark, metrics_path, snapshot_id, _JSON_METRICS)
    done = {r["file"] for r in prior_rows}
    clean_ok = {r["file"] for r in prior_rows if r["clean_typed_ok"]}

    typed_files = [f for f in all_files if reprocess and f in clean_ok]
    auto_files = [f for f in all_files if f not in (clean_ok if reprocess else done)]

    # the input's schema holds for the JSON and key columns: no footer job
    read_schema = StructType([df.schema[c] for c in dict.fromkeys([json_col, *keys])])
    results = []
    for files, engine in ((auto_files, "auto"), (typed_files, "typed")):
        if not files:
            continue
        part = spark.read.schema(read_schema).parquet(*files) \
            .withColumn(_FILE_COL, F.input_file_name())
        if engine == "typed":
            # revalidate on the EXACT struct the hybrid routed through, so
            # the identical-results guarantee is schema-for-schema, not
            # merely equivalent-by-inference
            cs = _compiled(rules)
            res = jv.validate_json_typed(
                part, json_col, cs, jv._typed_route_schema(cs),
                key_cols=keys + [_FILE_COL], extensions=False,
            )
            res.annotated = res.annotated.withColumn(FLAG, F.lit(False))
        else:
            res = jv.validate_json_column(
                part, json_col, rules, key_cols=keys + [_FILE_COL],
                engine=engine, keep_flag_col=FLAG,
            )
        res.annotated = res.annotated.persist()  # keys and _jsp_ columns only
        results.append(res)

    if results:
        metrics = reduce(DataFrame.unionByName, [
            _per_file(res, (~F.bool_or(FLAG)).alias("clean_typed_ok"))
            .withColumn("snapshot_id", F.lit(snapshot_id))
            .select(*StructType.fromDDL(_JSON_METRICS).fieldNames())
            for res in results
        ])
        fresh_viols = reduce(DataFrame.unionByName, [
            res.violations()
            .withColumnRenamed(_FILE_COL, "file")
            .withColumn("snapshot_id", F.lit(snapshot_id))
            for res in results
        ])
        # metrics before violations: a file still pending then has no
        # violation rows for this snapshot, so the read-back below holds
        # exactly this run's rows
        try:
            for frame, path in ((metrics, metrics_path),
                                (fresh_viols, violations_path)):
                if reprocess and os.path.exists(path):
                    # supersede, don't append: re-running the same files
                    # would otherwise duplicate their rows in the durable
                    # store (r4 review finding #3)
                    keep = spark.read.schema(frame.schema).parquet(path) \
                        .filter(F.col("snapshot_id") != snapshot_id)
                    _swap_write(keep.unionByName(frame), path)
                else:
                    frame.write.mode("append").parquet(path)
        finally:
            for res in results:
                res.annotated.unpersist()
        violations = (
            spark.read.schema(fresh_viols.schema).parquet(violations_path)
            .filter((F.col("snapshot_id") == snapshot_id)
                    & F.col("file").isin(auto_files + typed_files))
            .drop("snapshot_id", "file")
        )
    else:
        violations = _empty_violations(spark, df, keys)

    verdicts = _read_verdicts(spark, metrics_path, snapshot_id, _JSON_METRICS)
    engine_used = (
        "mixed" if (auto_files and typed_files)
        else "typed" if typed_files else "auto" if auto_files else "none"
    )
    return CheckpointedJsonRun(
        verdicts=verdicts,
        violations=violations,
        n_files_total=len(all_files),
        n_files_skipped=len(all_files) - len(auto_files) - len(typed_files),
        n_files_typed=len(typed_files),
        engine_used=engine_used,
    )
