"""Checkpoint/resume with per-unit lineage + metrics (north rule M7).

The resumable unit is the INPUT FILE (parquet split), the sandbox stand-in
for an Iceberg snapshot's file manifest; snapshot_id is a caller's label.
As with the reference's `done` promise (parse.js:224-233, 318-326), a
file is done exactly when its output is durable, and re-runs skip it.

A run is one batch with one commit, as in Structured Streaming's commit
log (SIGMOD 2018). It appends its metric and violation rows at the roots
of the two stores under `state_dir` (flat, since `spark.read.parquet`
skips subdirectories: NOTES), then renames a manifest into
`_commits/<n>.json` naming the snapshot, the input files processed, the
data files added, the violations schema and the batches it supersedes.
Readers read only live files, those of committed unsuperseded batches;
any other `part-*` file is garbage, deleted at the start of a run and
after its commit. A kill thus leaves the old state or the new one. A
state dir from before the log is adopted, its reads filtered by
snapshot_id.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from dataclasses import dataclass
from functools import cached_property, partial, reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..sources.maintenance import restore_swap
from .kernels import VIOLATION_STRUCT
from .validator import _compiled, validate_dataframe, verdict_rollup

_FILE_COL = "_jsp_file"
_COMMITS = "_commits"
_STORES = ("metrics", "violations")
# per-file metric rows, in the column ORDER each runner writes them, so a
# fresh-state empty frame never reorders vs a stored read (r5 review #8)
_ROW_METRICS = ("file string, n_rows long, n_failed_rows long, "
                "n_violations long, pass boolean, snapshot_id string")
_JSON_METRICS = ("snapshot_id string, file string, n_rows long, "
                 "n_failed_rows long, n_violations long, pass boolean, "
                 "clean_typed_ok boolean")


@dataclass
class CheckpointedRun:
    verdicts: DataFrame      # one row per input file (completed or fresh)
    violations: DataFrame    # THIS run's batch: read until a reprocess of it
    n_files_total: int
    n_files_skipped: int


def _part_files(state_dir: str, store: str) -> list[str]:
    pattern = os.path.join(glob.escape(state_dir), store, "part-*")
    return sorted(os.path.basename(p) for p in glob.glob(pattern))


def _manifests(state_dir: str) -> list[dict]:
    """The committed manifests in commit order, read on the driver."""
    out = []
    for path in glob.glob(os.path.join(glob.escape(state_dir), _COMMITS, "*.json")):
        with open(path) as fh:
            out.append(json.load(fh))
    return sorted(out, key=lambda m: m["n"])


def _live(manifests: list[dict], snapshot_id=None) -> list[dict]:
    """The manifests of `snapshot_id` (of any snapshot when None) that no
    later manifest supersedes."""
    dead = {n for m in manifests for n in m["supersedes"]}
    return [m for m in manifests
            if m["n"] not in dead and snapshot_id in (None, m["snapshot_id"])]


def _read(spark, state_dir: str, snapshot_id: str, store: str,
          manifests: list[dict], schema) -> DataFrame:
    """This snapshot's rows of `store` in the files `manifests` name,
    read with the known schema (no footer job). Only adopted files hold
    other snapshots' rows; a store without the column has none."""
    files = [os.path.join(state_dir, store, f)
             for m in manifests for f in m["data"][store]]
    if not files:
        return spark.createDataFrame([], schema)
    df = spark.read.schema(schema).parquet(*files)
    if "snapshot_id" in df.columns:
        df = df.filter(F.col("snapshot_id") == snapshot_id)
    return df


def _adopt_legacy(spark, state_dir: str) -> None:
    """Give a state dir its commit log before any batch is written. A dir
    from before the log (its killed swap settled) gets one manifest per
    snapshot its metrics record, each naming all the stores' files. The
    log is staged aside and renamed in: a kill leaves the dir as it was."""
    log = os.path.join(state_dir, _COMMITS)
    if os.path.isdir(log):
        return
    for store in _STORES:
        path = os.path.join(state_dir, store)
        restore_swap(path, f"{path}.__jsp_old")
    stage = f"{log}.__jsp_stage"
    os.makedirs(stage, exist_ok=True)
    data = {store: _part_files(state_dir, store) for store in _STORES}
    if data["metrics"]:
        inputs: dict[str, list[str]] = {}
        for snap, f in spark.read.schema("snapshot_id string, file string") \
                .parquet(os.path.join(state_dir, "metrics")).distinct().collect():
            inputs.setdefault(snap, []).append(f)
        for n, snap in enumerate(sorted(inputs)):
            with open(os.path.join(stage, f"{n}.json"), "w") as fh:
                json.dump({"n": n, "snapshot_id": snap, "inputs": inputs[snap],
                           "data": data, "supersedes": []}, fh)
    os.rename(stage, log)


def _collect_garbage(state_dir: str, manifests: list[dict]) -> None:
    """Delete each store's data files that no live manifest names, with
    their checksums, and the `_temporary` dir an interrupted write
    leaves (its committed tasks would merge into the next append)."""
    live = _live(manifests)
    for store in _STORES:
        path = os.path.join(state_dir, store)
        keep = {f for m in live for f in m["data"][store]}
        for f in sorted(set(_part_files(state_dir, store)) - keep):
            for name in (f".{f}.crc", f):  # a kill leaves no lone checksum
                if os.path.exists(os.path.join(path, name)):
                    os.remove(os.path.join(path, name))
        if os.path.isdir(os.path.join(path, "_temporary")):
            shutil.rmtree(os.path.join(path, "_temporary"))


class _Run:
    """One run: the input's files, the state's commit log (adopted and
    cleared of garbage first), the done set, and the one commit step."""

    def __init__(self, spark, input_path, state_dir, snapshot_id, key_cols):
        self.spark, self.state_dir, self.snapshot_id = spark, state_dir, snapshot_id
        self.input_path = input_path
        self.read = partial(_read, spark, state_dir, snapshot_id)
        # the units: a read with a given schema lists the input's files and
        # runs no Spark job; it names each file as input_file_name() does,
        # and includes zero-row files
        self.files = sorted(spark.read.schema(StructType()).parquet(input_path)
                            .inputFiles())
        self.keys = list(key_cols) if key_cols else [self.schema.names[0]]
        _adopt_legacy(spark, state_dir)
        self.log = _manifests(state_dir)
        _collect_garbage(state_dir, self.log)
        self.live = _live(self.log, snapshot_id)
        self.done = {f for m in self.live for f in m["inputs"]}

    @cached_property
    def schema(self) -> StructType:
        """The input's schema (one file's footer: one Spark job), read only
        when a run needs it: to pick the default key or to read pending
        files."""
        return self.spark.read.parquet(self.input_path).schema

    def _key_fields(self) -> list:
        """The key columns' fields: as the newest batch that has them
        recorded its violations, else from the input's footer."""
        for m in reversed(self.log):
            stored = StructType.fromJson(m.get("schema", {"fields": []}))
            if set(self.keys) <= set(stored.names):
                return [stored[k] for k in self.keys]
        return [self.schema[k] for k in self.keys]

    def commit(self, inputs, results, metrics_ddl, *extra, violations_of,
               supersede=False) -> tuple[DataFrame, DataFrame]:
        """Append the rows of `results` (over the `inputs` files), commit
        them as one batch (superseding this snapshot's live ones if
        `supersede`), and return the verdicts (this snapshot's live
        metrics) and this batch's violations. Both writes read each
        result's one evaluation: the first materializes it, the second
        reads its blocks, and the blocks are freed after them."""
        snap = self.snapshot_id
        if not results:  # EMPTY, but with the real schema: appends of it stay valid
            return self.read("metrics", self.live, metrics_ddl), self.read(
                "violations", [], StructType(self._key_fields() + VIOLATION_STRUCT.fields))
        names = StructType.fromDDL(metrics_ddl).fieldNames()
        frames = {
            "metrics": reduce(DataFrame.unionByName, [  # a row per file
                verdict_rollup(res.evaluation().groupBy(F.col(_FILE_COL).alias("file")),
                               res._n_viols(), *extra)
                .withColumn("snapshot_id", F.lit(snap)).select(*names)
                for res in results]),
            "violations": reduce(DataFrame.unionByName,
                                 [violations_of(res) for res in results]),
        }
        batch = {"n": self.log[-1]["n"] + 1 if self.log else 0,
                 "snapshot_id": snap, "inputs": inputs, "data": {},
                 "supersedes": [m["n"] for m in self.live] if supersede else [],
                 "schema": frames["violations"].schema.jsonValue()}
        try:
            for store, frame in frames.items():
                before = set(_part_files(self.state_dir, store))
                frame.write.mode("append").parquet(os.path.join(self.state_dir, store))
                batch["data"][store] = [
                    f for f in _part_files(self.state_dir, store) if f not in before]
        finally:
            for res in results:
                res.release()
        manifest = os.path.join(self.state_dir, _COMMITS, f"{batch['n']}.json")
        with open(manifest + ".tmp", "w") as fh:
            json.dump(batch, fh)
        os.replace(manifest + ".tmp", manifest)  # the commit
        self.log.append(batch)
        _collect_garbage(self.state_dir, self.log)
        return (self.read("metrics", _live(self.log, snap), metrics_ddl),
                self.read("violations", [batch], frames["violations"].schema))


def run_with_checkpoint(
    spark: SparkSession,
    input_path: str,
    rules,
    state_dir: str,
    snapshot_id: str = "snap0",
    key_cols=None,
) -> CheckpointedRun:
    """Validate `input_path` (parquet), resuming from `state_dir`. Files
    already done for this snapshot_id are pruned from the scan (file-list
    pushdown: the skipped files are never opened)."""
    run = _Run(spark, input_path, state_dir, snapshot_id, key_cols)
    todo = [f for f in run.files if f not in run.done]
    results = []
    if todo:
        # Capture the file AT SCAN TIME: input_file_name() evaluated above a
        # later exchange (the Arrow fallback path repartitions) returns ''.
        # The _jsp_ prefix keeps the helper column OUT of the validated row
        # object (validate_dataframe excludes internal columns), and passing
        # it as a KEY column threads it through every engine path (Column,
        # per-column fallback, whole-row Arrow) to the annotated output.
        # Every data column is validated: read the pending files' schema.
        results.append(validate_dataframe(
            spark.read.parquet(*todo).withColumn(_FILE_COL, F.input_file_name()),
            rules, key_cols=run.keys + [_FILE_COL],
        ))
    verdicts, violations = run.commit(
        todo, results, _ROW_METRICS,
        violations_of=lambda res: res.violations().drop(_FILE_COL))
    return CheckpointedRun(
        verdicts=verdicts,
        violations=violations,
        n_files_total=len(run.files),
        n_files_skipped=len(run.files) - len(todo),
    )


@dataclass
class CheckpointedJsonRun:
    verdicts: DataFrame      # one row per input file (completed or fresh)
    violations: DataFrame    # THIS run's, as CheckpointedRun.violations
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
    """JSON-column checkpointed validation with the SOUND typed-skip.
    Each run records PER FILE whether any row went to the Python rescue
    UDF (validate_json_column(keep_flag_col=...)), aggregated in the
    per-file metrics pass, so one dirty file never blocks a clean one.
    On `reprocess=True`, files whose committed run had zero flagged rows
    are revalidated with engine='typed' on the exact struct the hybrid
    routed through: identical results BY CONSTRUCTION, with no Python
    stage in the plan; other files (flagged rows, or the Arrow path, whose
    flag is all-True) stay on engine='auto'. The reprocess's batch
    supersedes this snapshot's earlier ones: nothing is rewritten, and no
    row is duplicated. Violation rows carry (snapshot_id, file)."""
    from . import json_validator as jv  # looked up per call: tracers patch it

    FLAG = "_jsp_rescue_flag"
    run = _Run(spark, input_path, state_dir, snapshot_id, key_cols)
    clean_ok = set()
    if reprocess:
        clean_ok = {r["file"] for r in run.read("metrics", run.live, _JSON_METRICS)
                    .filter("clean_typed_ok").select("file").collect()}
    typed_files = [f for f in run.files if f in clean_ok]
    auto_files = [f for f in run.files if f not in (clean_ok if reprocess else run.done)]

    def read(files):  # the input's schema holds for the JSON and key columns
        schema = StructType([run.schema[c] for c in dict.fromkeys([json_col, *run.keys])])
        return spark.read.schema(schema).parquet(*files) \
            .withColumn(_FILE_COL, F.input_file_name())

    results = []
    if auto_files:
        results.append(jv.validate_json_column(
            read(auto_files), json_col, rules, key_cols=run.keys + [_FILE_COL],
            engine="auto", keep_flag_col=FLAG))
    if typed_files:  # the hybrid's own struct: schema-for-schema identical
        cs = _compiled(rules)
        results.append(jv.validate_json_typed(
            read(typed_files), json_col, cs, jv._typed_route_schema(cs),
            key_cols=run.keys + [_FILE_COL], extensions=False))
        results[-1].annotated = results[-1].annotated.withColumn(FLAG, F.lit(False))

    verdicts, violations = run.commit(
        auto_files + typed_files, results, _JSON_METRICS,
        (~F.bool_or(FLAG)).alias("clean_typed_ok"),
        violations_of=lambda res: res.violations()
        .withColumnRenamed(_FILE_COL, "file")
        .withColumn("snapshot_id", F.lit(snapshot_id)),
        supersede=reprocess)
    engine_used = (
        "mixed" if (auto_files and typed_files)
        else "typed" if typed_files else "auto" if auto_files else "none"
    )
    return CheckpointedJsonRun(
        verdicts=verdicts,
        violations=violations.drop("snapshot_id", "file"),
        n_files_total=len(run.files),
        n_files_skipped=len(run.files) - len(auto_files) - len(typed_files),
        n_files_typed=len(typed_files),
        engine_used=engine_used,
    )
