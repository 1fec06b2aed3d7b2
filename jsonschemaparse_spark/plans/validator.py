"""Table-scope validation pass: DataFrame + rules -> verdicts/violations.

The Spark re-expression of the reference's parse-and-validate single pass
(parse.js:342-1081 + schema.js:1023-1417): ONE narrow projection computes a
`valid` boolean and a `violations` array per row; violation rows explode from
that array; per-partition verdicts aggregate it. No shuffle is required for
validation itself — verdicts use a partition-local aggregation
(spark_partition_id groupBy is map-side only because the grouping key IS the
partition id).

Row-as-object semantics: the root schema's `properties` route to table
COLUMNS (SURVEY.md §1.2); a NULL column value is an absent property.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, GroupedData, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema.compiler import CompiledSchema, compile_rules
from .kernels import (
    VIOLATION_ARRAY,
    VIOLATION_FIELDS,
    ColumnCompiler,
    ExpressionFallback,
)

VALID_COL = "_jsp_valid"
VIOLATIONS_COL = "_jsp_violations"
PARTITION_COL = "_jsp_partition_id"

# columns with this prefix are engine internals, never row properties
INTERNAL_PREFIX = "_jsp_"
FLAGGED_COL = "_jsp_needs_py"  # the hybrid JSON route: routed to the Python rescue


def data_columns(df: DataFrame) -> list[str]:
    """The columns that form the validated row object — internal helper
    columns (checkpoint's _jsp_file, prior annotations) are excluded so
    they never trip additionalProperties/maxProperties at the root."""
    return [c for c in df.columns if not c.startswith(INTERNAL_PREFIX)]


def _compiled(rules) -> CompiledSchema:
    return rules if isinstance(rules, CompiledSchema) else compile_rules(rules)


def key_columns(df: DataFrame, key_cols: Optional[Sequence[str]]) -> list[str]:
    """The report's key columns: `key_cols`, or the frame's first column."""
    return [df.columns[0]] if key_cols is None else list(key_cols)


def document_record(constraint_id: str, keyword: str, message: str,
                    path: str = "", at: Optional[dict] = None) -> dict:
    """A violation raised while parsing a value, not by an evaluator check
    (a syntax or bigNumber failure): the report's six fields, plus
    line/column from `at` when the report is positioned."""
    rec = {"constraint_id": constraint_id, "path": path, "keyword": keyword,
           "expected": None, "actual": None, "message": message}
    if at is not None:
        rec.update(line=at.get("line"), column=at.get("column"))
    return rec


def verdict_counts(n_viols: Column) -> list[Column]:
    """(n_rows, n_failed_rows, n_violations) over an annotated frame,
    given the per-row violation count."""
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col(VALID_COL), 0).otherwise(1)).alias("n_failed_rows"),
        F.sum(n_viols).alias("n_violations"),
    ]


def flagged_counts(flag: Column) -> list[Column]:
    """The hybrid JSON route's observed metrics: rows routed to the Python
    rescue, and all rows."""
    return [F.sum(flag.cast("long")).alias("jsp_flagged"),
            F.count(F.lit(1)).alias("jsp_rows")]


def verdict_rollup(grouped: GroupedData, n_viols: Column, *extra: Column) -> DataFrame:
    """One verdict row per group: the counts, any `extra` aggregates,
    then pass = no failed row."""
    return (
        grouped.agg(*verdict_counts(n_viols), *extra)
        .withColumn("pass", F.col("n_failed_rows") == 0)
    )


@dataclass
class ValidationResult:
    """Outputs of one validation pass (SURVEY.md §7.0 diagram).

    Two per-row violation encodings exist:
    - compact (expression path): array<struct<rule_id,path,actual>> + a
      static rule table — keeps large rule sets inside whole-stage codegen;
      violations() reconstructs the full report via a broadcast join.
    - full (Arrow path): the 6-field structs are built in Python where
      codegen size is irrelevant.

    After `evaluation()`, summary(), violations(), verdicts() and
    annotations() read one evaluation of `annotated`, so the row kernel
    runs once for all of them; without it each report is a plan over
    `annotated` that stores nothing.
    """

    annotated: DataFrame  # input columns + _jsp_valid + _jsp_violations
    key_cols: list[str]
    compiled: Optional[CompiledSchema] = None
    rule_table: Optional[list[dict]] = None  # set => compact encoding
    # per-column fallback (VERDICT r1 stretch #9): full-encoding violations
    # from Arrow-evaluated columns live in this extra array column; verdict
    # and report methods merge both encodings
    py_viols_col: Optional[str] = None
    # hybrid path (VERDICT r2 stretch #9): Observation whose metrics report
    # how many rows were routed to the Python rescue UDF in the SAME action
    # that consumed `annotated` (zero extra jobs). After a FULL-SCAN action
    # (count/collect/write — NOT first()/limit()/show(), which observe only
    # the rows actually scanned), jsp_flagged == 0 with jsp_rows == the
    # table's row count proves the corpus was fully JVM-validated —
    # checkpoint/resume reruns over the same data may then use
    # engine='typed' and skip the UDF stage (identical results by
    # construction when nothing is flagged). Once `evaluation()` is taken,
    # this is an Observation over the evaluation instead, which its first
    # full action fills.
    flagged_observation: Optional[object] = None
    # the evaluation, its checkpointed RDD, and the summary of it
    _evaluation: Optional[DataFrame] = field(default=None, init=False, repr=False)
    _blocks: Optional[object] = field(default=None, init=False, repr=False)
    _summary: Optional[dict] = field(default=None, init=False, repr=False)

    def _rows(self) -> DataFrame:
        """What the reports read of `annotated`: the key and `_jsp_`
        columns plus each row's `spark_partition_id()`."""
        cols = [c for c in self.annotated.columns
                if c in self.key_cols or c.startswith(INTERNAL_PREFIX)]
        return self.annotated.select(*cols, F.spark_partition_id().alias(PARTITION_COL))

    def _frame(self) -> DataFrame:
        """The evaluation if taken, else `_rows()` as a plan."""
        return self._evaluation if self._evaluation is not None else self._rows()

    def evaluation(self) -> DataFrame:
        """Take the one evaluation of `annotated` that every later report
        reads, for callers that take more than one report (run_rule_suite,
        the checkpoint runners, foreach_batch_sink, the CLI): `_rows()`
        under a lazy localCheckpoint, the partition id taken before it so
        verdict rows keep the partitions of `annotated`. The first action
        over it runs the kernel and keeps the blocks, later ones read
        them. It has no lineage, so a block lost with its executor fails
        the reports that read it; `release()` frees the blocks, else they
        live until the frame is garbage collected. Not persist(): a write
        to the input's path recaches every cached plan that reads it, and
        the result would then report rows it did not validate (NOTES)."""
        if self._evaluation is None:
            frame = self._rows().localCheckpoint(eager=False)
            self._blocks = frame._jdf.queryExecution().analyzed().rdd()
            if self.flagged_observation is not None:
                # the checkpoint call filled the observation below it with
                # zeros (NOTES): count the flags again above it
                self.flagged_observation = Observation()
                frame = frame.observe(self.flagged_observation,
                                      *flagged_counts(F.col(FLAGGED_COL)))
            self._evaluation = frame
        return self._evaluation

    def release(self) -> None:
        """Free the evaluation's blocks. Frames built on it cannot be read
        after this; later reports read `annotated` again."""
        if self._blocks is not None:
            self._blocks.unpersist(False)
        self._evaluation = self._blocks = None

    def annotations(self) -> DataFrame:
        """(key..., constraint_id, keyword, value) — title/description
        annotations for PASSING rows only (schema.js:1411 contract). The
        static annotation table is tiny and broadcast; rows are filtered by
        the already-computed valid flag — no re-validation."""
        from ..api import annotation_table

        if self.compiled is None:
            raise ValueError("annotations() needs the compiled schema")
        spark = self.annotated.sparkSession
        static = spark.createDataFrame(
            annotation_table(self.compiled) or [],
            "constraint_id string, keyword string, value string",
        )
        passing = self._frame().filter(F.col(VALID_COL)).select(*self.key_cols)
        return passing.crossJoin(F.broadcast(static))

    def violations(self) -> DataFrame:
        """(key..., constraint_id, path, keyword, expected, actual, message)
        — the reference's errors[] sink as a DataFrame (error.js:21-37)."""
        return self._report(self._frame())

    def _report(self, frame: DataFrame) -> DataFrame:
        """The violation rows of `frame` (`_frame()`, or `annotated`).

        Compact encoding: explode (tiny structs) then broadcast-join the
        rule table (hundreds of rows) to attach static metadata. Only
        violating rows reach the join — at web scale that's the trickle,
        not the stream. Per-column-fallback violations (full encoding)
        union in at the end."""
        def full_report(col: str) -> DataFrame:
            # positioned results (validate_json_column(positions=True))
            # carry line/column in the struct — surface them as columns
            fields = frame.schema[col].dataType.elementType.fieldNames()
            pos = ["line", "column"] if "line" in fields else []
            return frame.select(
                *self.key_cols, F.explode(F.col(col)).alias("v")
            ).select(*self.key_cols,
                     *(F.col(f"v.{f}").alias(f) for f in VIOLATION_FIELDS + pos))

        if self.rule_table is not None:
            from .kernels import RULE_TABLE_SCHEMA

            spark = frame.sparkSession
            rules_df = spark.createDataFrame(self.rule_table or [], RULE_TABLE_SCHEMA)
            exploded = frame.select(
                *self.key_cols, F.explode(F.col(VIOLATIONS_COL)).alias("v")
            ).select(
                *self.key_cols,
                F.col("v.rule_id").alias("rule_id"),
                F.col("v.path").alias("path"),
                F.col("v.actual").alias("actual"),
                F.col("v.exp").alias("_dyn_expected"),
            )
            out = exploded.join(F.broadcast(rules_df), "rule_id").select(
                *self.key_cols,
                "constraint_id", "path", "keyword",
                # dynamic per-row expected (required's missing-key list)
                # overrides the rule table's static value
                F.coalesce(F.col("_dyn_expected"), F.col("expected")).alias("expected"),
                "actual", "message",
            )
        else:
            out = full_report(VIOLATIONS_COL)
        if self.py_viols_col is not None:
            out = out.unionByName(full_report(self.py_viols_col))
        return out

    def _n_viols(self) -> Column:
        n = F.size(F.col(VIOLATIONS_COL))
        if self.py_viols_col is not None:
            n = n + F.size(F.col(self.py_viols_col))
        return n

    def verdicts(self) -> DataFrame:
        """Per-partition pass/fail (north rule). Partition-local agg: the
        grouping key is spark_partition_id, so AQE keeps this map-side."""
        return verdict_rollup(self._frame().groupBy(PARTITION_COL), self._n_viols())

    def observed(self, name: str = "jsp_metrics"):
        """Attach Spark observe() metrics so row/violation counts come back
        with the SAME action that writes the output — the 100-TB way to get
        verdict totals without a second scan. Returns (df, fetch) where
        `fetch(query_or_none)` reads the observation after an action."""
        obs = Observation(name)
        df = self.annotated.observe(obs, *verdict_counts(self._n_viols()))
        return df, obs

    def summary(self) -> dict:
        """Row totals, observed on one action over the rows (the one that
        materializes the evaluation, if taken and not yet read); kept, so
        a repeated call runs no job."""
        if self._summary is None:
            obs = Observation()
            self._frame().observe(obs, *verdict_counts(self._n_viols())) \
                .write.format("noop").mode("overwrite").save()
            row = obs.get
            failed = row["n_failed_rows"] or 0
            self._summary = {"n_rows": row["n_rows"], "n_failed_rows": failed,
                             "n_violations": row["n_violations"] or 0,
                             "pass": failed == 0}
        return dict(self._summary)


PY_VIOLS_COL = "_jsp_violations_py"


def _column_fallback_udf(sub, nm: str, extensions: bool, big_number: str = "default"):
    """Arrow-batched pandas UDF evaluating ONE column's subschema in Python.
    Input is to_json(struct(col)) — Arrow ships just that column; null
    fields are omitted by to_json, matching absent-property semantics.
    Returns struct<valid boolean, v array<full violation>>.

    big_number != 'default' parses the doc with the relaxed loader so a
    decimal column's full-precision to_json digits hit the same policy
    table as api.parse (json.loads would silently collapse them to
    binary64 before the evaluator ever saw the loss)."""
    import json as _json

    from pyspark.sql import types as T

    from ..schema.evaluate import Evaluator
    from ..schema.relaxed_json import BigNumberError, loads_relaxed
    from .kernels import VIOLATION_ARRAY

    out_type = T.StructType([
        T.StructField("valid", T.BooleanType(), False),
        T.StructField("v", VIOLATION_ARRAY, False),
    ])

    @F.pandas_udf(out_type)
    def check(docs: pd.Series) -> pd.DataFrame:
        ev = Evaluator(extensions=extensions)
        valids, viols = [], []
        for doc in docs.to_numpy():
            try:
                if doc is None:
                    obj = {}
                elif big_number != "default":
                    obj = loads_relaxed(doc, big_number=big_number)
                else:
                    obj = _json.loads(doc)
            except BigNumberError as e:
                valids.append(False)
                viols.append([document_record(sub.id, "bigNumber", str(e),
                                              path=f"/{nm}")])
                continue
            if nm not in obj:  # NULL column => absent property => vacuous
                valids.append(True)
                viols.append([])
                continue
            errors, _ = ev.validate(sub, obj[nm], path=f"/{nm}")
            valids.append(not errors)
            viols.append([e.as_row() for e in errors])
        return pd.DataFrame({"valid": valids, "v": viols})

    return check


def validate_dataframe(
    df: DataFrame,
    rules,
    key_cols: Optional[Sequence[str]] = None,
    extensions: bool = True,
    fallback: str = "auto",
    max_violations_per_row: Optional[int] = None,
    big_number: str = "default",
) -> ValidationResult:
    """Single-pass table validation.

    The whole row is treated as one JSON object (columns = properties) and
    compiled to Column expressions. Catalyst's SimplifyExtractValueOps
    collapses ``struct(cols...).field`` back to the bare column, so wrapping
    the row in a struct costs nothing physically — check .explain().

    fallback: 'auto' first tries PER-COLUMN fallback — a table column whose
    subschema needs the Python evaluator (ECMAScript-only regex, dynamic
    shapes) runs in an Arrow pandas UDF over THAT column only, while every
    other column stays in whole-stage codegen; only root-level constructs
    the compiler can't express at all fall back to the whole-row Arrow
    path. 'never' raises instead.
    """
    if fallback not in ("auto", "never"):
        raise ValueError(f"fallback must be 'auto' or 'never'; got {fallback!r}")
    cs = _compiled(rules)
    key_cols = key_columns(df, key_cols)

    # r7 note: deliberately NO ensure_parallelism here — the validation
    # projection is whole-stage codegen (not interpreted), so the
    # spreading shuffle costs more than it saves on small inputs
    # (paired A/B at sf0.1: 0.64 s with vs 0.49 s without; at sf1.0 the
    # guard bought only ~0.1 s). The interpreted paths (json_typed,
    # Arrow json, gates, classifier, ...) keep their guards.
    data_cols = data_columns(df)
    data_schema = T.StructType([df.schema[c] for c in data_cols])
    row_struct = F.struct(*[F.col(c) for c in data_cols])
    compiler = ColumnCompiler(
        extensions=extensions, collect_field_fallbacks=(fallback != "never"),
        big_number=big_number,
    )
    try:
        from .kernels import COMPACT_ARRAY

        valid, viols = compiler.compile_value(cs, row_struct, data_schema, F.lit(""))
        viols = F.coalesce(viols, F.array().cast(COMPACT_ARRAY))
        cols = {VALID_COL: F.coalesce(valid, F.lit(True))}
        if max_violations_per_row is not None:
            # explicit cap with a truncation marker — no silent loss
            # (SURVEY.md §7.1 M6: violations capped, truncation flagged)
            cols["_jsp_violations_truncated"] = F.size(viols) > max_violations_per_row
            cols[VIOLATIONS_COL] = F.slice(viols, 1, max_violations_per_row)
        else:
            cols[VIOLATIONS_COL] = viols
        annotated = df.withColumns(cols)
        py_viols_col = None
        if compiler.field_fallbacks:
            # per-column Arrow evaluation: one UDF column per offending
            # table column, materialized once (no double UDF eval), then
            # merged into the verdict
            tmp_cols = []
            for i, (nm, sub) in enumerate(compiler.field_fallbacks):
                tmp = f"_jsp_py_{i}"
                annotated = annotated.withColumn(
                    tmp,
                    _column_fallback_udf(sub, nm, extensions, big_number)(
                        F.to_json(F.struct(F.col(nm)))
                    ),
                )
                tmp_cols.append(tmp)
            new_valid = F.col(VALID_COL)
            for t in tmp_cols:
                new_valid = new_valid & F.col(t).getField("valid")
            pieces = [F.col(t).getField("v") for t in tmp_cols]
            py_viols = pieces[0] if len(pieces) == 1 else F.concat(*pieces)
            annotated = (
                annotated.withColumn(VALID_COL, new_valid)
                .withColumn(PY_VIOLS_COL, py_viols)
                .drop(*tmp_cols)
            )
            if max_violations_per_row is not None:
                # the cap applies to the MERGED report: per-column fallback
                # violations get whatever budget the expression-path rows
                # left over (ADVICE r2 low: py_viols were uncapped)
                budget = F.greatest(
                    F.lit(0),
                    F.lit(max_violations_per_row) - F.size(F.col(VIOLATIONS_COL)),
                )
                annotated = annotated.withColumn(
                    "_jsp_violations_truncated",
                    F.col("_jsp_violations_truncated")
                    | F.coalesce(F.size(F.col(PY_VIOLS_COL)) > budget, F.lit(False)),
                ).withColumn(
                    PY_VIOLS_COL, F.slice(F.col(PY_VIOLS_COL), F.lit(1), budget)
                )
            py_viols_col = PY_VIOLS_COL
        return ValidationResult(
            annotated=annotated, key_cols=key_cols, compiled=cs,
            rule_table=compiler.rule_table, py_viols_col=py_viols_col,
        )
    except ExpressionFallback:
        if fallback == "never":
            raise
        from .json_validator import validate_json_rows

        return validate_json_rows(df, cs, key_cols=key_cols, extensions=extensions,
                                  big_number=big_number)


def strict_first_error(result: ValidationResult):
    """``parse()``-style strict mode (parse.js:76-97): return the first
    violation if any. Catalyst CollectLimit early-exits the scan — the
    distributed analog of the reference's throw-on-first-error. It reads
    `annotated`, not an evaluation: a limit over a lazy checkpoint not yet
    materialized computes every partition (NOTES)."""
    rows = result._report(result.annotated).limit(1).collect()
    return rows[0] if rows else None
