"""Arrow-batched JSON validation kernels (the general path).

For payloads whose structure is dynamic — a JSON-string column like
``events.props``, or schema constructs not expressible as Column algebra —
we ship the compiled trie to executors ONCE (Spark broadcasts task closures)
and evaluate per document inside ``mapInPandas`` Arrow batches: the batch is
the chunk, mirroring the reference's StreamParser block writes
(parse.js:318-326) at record-batch granularity. No per-row Python UDF calls —
one Python invocation per Arrow batch (input_hint: "no per-row Python").

Malformed JSON does not fail the job: it yields a violation row with
keyword='syntax' (FIXTURES.md §F7), matching parseInfo's never-throw-on-
invalid contract (test/parseInfo.test.js:33-37) while still *reporting*
syntax errors.
"""

from __future__ import annotations

from functools import partial
from typing import Iterator, Optional, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..api import _position_map, _positioned_syntax_error
from ..idioms import ensure_parallelism
from ..schema.compiler import CompiledSchema
from ..schema.evaluate import Evaluator, check_limits
from ..schema.relaxed_json import BigNumberError, loads_relaxed
from ..schema.strict_json import loads_strict
from .kernels import COMPACT_ARRAY, VIOLATION_ARRAY, ColumnCompiler, ExpressionFallback
from .validator import (
    FLAGGED_COL,
    PY_VIOLS_COL,
    VALID_COL,
    VIOLATIONS_COL,
    ValidationResult,
    _compiled,
    data_columns,
    document_record,
    flagged_counts,
    key_columns,
)


# positioned full-report shape (r5): the 6 report fields + the reference's
# ValidationError.position (0-based line, UTF-16-unit column) per violation
POSITIONED_VIOLATION_STRUCT = T.StructType(
    list(VIOLATION_ARRAY.elementType.fields)
    + [T.StructField("line", T.IntegerType(), True),
       T.StructField("column", T.IntegerType(), True)]
)
POSITIONED_VIOLATION_ARRAY = T.ArrayType(POSITIONED_VIOLATION_STRUCT, True)


def _out_schema(df: DataFrame, key_cols: Sequence[str],
                positioned: bool = False) -> T.StructType:
    fields = [df.schema[c] for c in key_cols]
    fields.append(T.StructField(VALID_COL, T.BooleanType(), False))
    fields.append(T.StructField(
        VIOLATIONS_COL,
        POSITIONED_VIOLATION_ARRAY if positioned else VIOLATION_ARRAY, False))
    return T.StructType(fields)


def _records(errors) -> list[dict]:
    return [e.as_row() for e in errors]


def _check_document(doc, cs: CompiledSchema, evaluator: Evaluator, parse,
                    limits=None, positions: bool = False):
    """(valid, report records) for one JSON document, the per-document step
    of both Python paths. A NULL document is vacuously valid. A document
    that does not parse yields one syntax or bigNumber record; otherwise
    the evaluator's errors, plus the resource-limit rows when `limits` is
    set. `positions` adds (line, column) to every record: a syntax record
    carries the positioned SyntaxError itself, message included, and the
    anchor-map re-parse runs ONLY for documents with errors (the
    O(flagged) trickle; clean documents pay nothing extra)."""
    if doc is None:
        return True, []
    try:
        value = parse(doc)
    except BigNumberError as e:
        # positions rejects the relaxed parsers, so `at` only keeps a
        # positioned record schema-complete
        return False, [document_record(cs.id, "bigNumber", str(e),
                                       at={} if positions else None)]
    except (ValueError, TypeError) as e:
        if not positions:
            return False, [document_record(cs.id, "syntax", f"Syntax error: {e}")]
        # re-parse for the reference-position syntax error; the REAL
        # scanner error keeps parser-disagreement docs descriptive
        err = _positioned_syntax_error(doc, e)
        return False, [document_record(cs.id, "syntax", str(err),
                                       at=getattr(err, "position", None) or {})]
    errors, _ = evaluator.validate(cs, value)
    if limits is not None:
        errors = errors + check_limits(value, limits)
    if not (positions and errors):
        return not errors, _records(errors)
    try:
        pos = _position_map(doc)
    except ValueError:
        pos = {}
    recs = []
    for e in errors:
        at = pos.get(e.path) or {}
        recs.append({**e.as_row(), "line": at.get("line"), "column": at.get("column")})
    return False, recs


def _permissive_parse(json_col: str, struct: T.StructType) -> Column:
    """PERMISSIVE from_json of `json_col` into `struct`, plus the
    `_jsp_corrupt` side channel: a malformed document is detectable
    without FAILFAST (never fail the job — parseInfo contract)."""
    parse_schema = T.StructType(
        list(struct.fields) + [T.StructField("_jsp_corrupt", T.StringType(), True)]
    )
    return F.from_json(
        F.col(json_col), parse_schema,
        {"columnNameOfCorruptRecord": "_jsp_corrupt"},
    )


def _is_unconstrained(cs: CompiledSchema) -> bool:
    """True for a `{}`/`true` schema node: validates everything, so BOTH
    engine paths are vacuous regardless of how the value parses."""
    return (
        len(cs.allowed_types) == 6
        and cs.allow_fraction  # ['integer', ...five others] is NOT vacuous
        and not cs.properties and not cs.pattern_properties
        and cs.additional_properties is None and cs.unevaluated_properties is None
        and cs.unevaluated_items is None
        and cs.property_names is None and cs.required is None
        and cs.min_properties is None and cs.max_properties is None
        and cs.items_all is None and cs.items_tuple is None
        and cs.additional_items is None and cs.contains is None
        and not cs.unique_items and cs.min_items is None and cs.max_items is None
        and cs.enum_literals is None and not cs.enum_schemas and cs.const_type is None
        and cs.minimum is None and cs.maximum is None
        and cs.exclusive_minimum is None and cs.exclusive_maximum is None
        and cs.multiple_of is None and cs.min_length is None
        and cs.max_length is None and cs.pattern is None
        and not cs.all_of and not cs.any_of and not cs.one_of
        and cs.not_ is None and cs.if_ is None
        and cs.ref is None and cs.recursive_ref is None
        and not cs.dependent_required and not cs.dependent_schemas
    )


def _typed_route_schema(cs: CompiledSchema, depth: int = 0):
    """Spark DataType for the from_json JVM fast path IF this rule tree is
    provably verdict-equivalent between the typed path and the Python
    evaluator; None when routing is unsafe (VERDICT r1 fix #2: auto-route).

    Conservative gate — routing requires:
    - no combinators/$refs (branch shapes can diverge from one struct);
    - no keywords that observe UNKNOWN keys (additional/pattern/unevaluated
      Properties, propertyNames, min/maxProperties, structural enum/const):
      from_json drops keys not in the struct;
    - `required` ⊆ `properties` (a required key outside the struct would be
      invisible to the typed path but visible to the evaluator);
    - every constrained leaf has ONE explicit type, and that type is
      integer/number/boolean. Numbers parse as DOUBLE so `1.0` stays a valid
      integer (suite semantics, reference binary64 value model) and the
      expression-level fraction check applies. STRING leaves are unsafe:
      Jackson coerces numbers/objects into string fields, silently passing
      type checks the evaluator fails. Unconstrained subschemas parse as
      string (raw JSON text) — nothing fires on either path.
    Known residual divergence (documented, verdict-compatible on anything
    in range): type-mismatched fields surface keyword='syntax' instead of
    the evaluator's 'type', and lone-surrogate escapes / >1e308 numbers
    follow Jackson rather than loads_strict.
    """
    if depth > 12:
        return None
    if _is_unconstrained(cs):
        return T.StringType()
    if (cs.any_of or cs.one_of or cs.all_of or cs.not_ is not None
            or cs.if_ is not None or cs.ref is not None
            or cs.recursive_ref is not None):
        return None
    if (cs.pattern_properties or cs.additional_properties is not None
            or cs.unevaluated_properties is not None
            or cs.unevaluated_items is not None
            or cs.property_names is not None
            or cs.min_properties is not None or cs.max_properties is not None
            or cs.dependent_schemas or cs.dependent_required):
        return None
    if cs.enum_schemas or cs.const_type in ("object", "array"):
        return None
    allowed = cs.allowed_types
    if len(allowed) != 1:
        return None
    t = allowed[0]
    if t == "object":
        if depth > 0:
            # nested objects would need recursive explicit-null detection
            # (JSON null vs absent is invisible post-from_json) — route only
            # flat top-level-property schemas; the hybrid adds a
            # json_object_keys null-flag per constrained TOP-LEVEL field
            return None
        if not cs.properties:
            return None
        if cs.required is not None and not set(cs.required) <= set(cs.properties):
            return None
        fields = []
        for name, sub in cs.properties.items():
            ft = _typed_route_schema(sub, depth + 1)
            if ft is None:
                return None
            fields.append(T.StructField(name, ft, True))
        return T.StructType(fields)
    if t == "array":
        if cs.items_tuple is not None or cs.additional_items is not None:
            return None
        if cs.items_all is None:
            # size-only checks are safe on raw-text elements; contains/
            # uniqueItems compare VALUES ('1.0' vs '1') — unsafe
            if cs.contains is not None or cs.unique_items:
                return None
            return T.ArrayType(T.StringType(), True)
        et = _typed_route_schema(cs.items_all, depth + 1)
        if et is None or isinstance(et, T.ArrayType):
            return None  # no nested arrays (element null detection is 1-level)
        if isinstance(et, T.StringType) and (cs.contains is not None or cs.unique_items):
            return None  # value-based checks on raw-text elements are unsafe
        return T.ArrayType(et, True)
    if t == "number":
        return T.DoubleType()
    if t == "boolean":
        return T.BooleanType()
    return None  # string/null leaves: coercion makes them unsafe


def validate_json_column(
    df: DataFrame,
    json_col: str,
    rules,
    key_cols: Optional[Sequence[str]] = None,
    extensions: bool = False,
    limits=None,
    syntax=None,
    big_number: str = "default",
    interoperable: bool = False,
    engine: str = "auto",
    keep_flag_col: Optional[str] = None,
    positions: bool = False,
) -> ValidationResult:
    """Validate a JSON-string column against rules, Arrow batch at a time.

    Returns key cols + _jsp_valid + _jsp_violations. extensions=False gives
    strict reference parity (contains/propertyNames/uniqueItems vacuous).
    limits: optional ResourceLimits -> extra 'resourceLimit' violation rows
    (parser caps of parse.js:146-150, table-scope semantics).
    syntax/big_number/interoperable: the reference's StreamParser option
    families (README.md:100-137) — relaxed dialects and bigNumber policies
    apply per document inside the Arrow batch.

    engine='auto' (default) routes verdict-equivalent rule trees to the
    from_json JVM fast path (zero Python — ~3x faster, see
    _typed_route_schema for the safety gate); 'arrow' forces the Python
    evaluator (exact report parity); 'typed' forces validate_json_typed.

    positions (r5, VERDICT r4 #5): when True the violation structs gain
    the reference's ValidationError.position as (line, column) fields —
    0-based lines, UTF-16-unit columns, the executed-reference anchor
    convention (error.js:21-32; see IncrementalJSONParser.positions).
    Position capture needs the Python parser's anchor map, so this forces
    the Arrow engine; the anchor-map re-parse runs ONLY for documents
    that produced violations (O(flagged) on top of the Arrow baseline).
    Incompatible with engine='typed' (no Python stage) and with the
    relaxed dialects (anchors are pinned for strict JSON). Syntax-error
    rows carry the positioned SyntaxError itself, message included.
    `.violations()` on a positioned result appends line/column columns —
    identical to validate_json_positions, which is now this path.

    keep_flag_col: when set, `annotated` carries a boolean column with
    that name marking rows routed to the Python rescue stage — per-GROUP
    flagged counts (e.g. per input file for the checkpoint typed-skip)
    without relying on the run-wide Observation. Semantics per engine:
    hybrid = the actual needs_py flag; typed = always False (no Python
    stage exists); arrow = always True (every row goes through Python).
    """
    if engine not in ("auto", "arrow", "typed"):
        raise ValueError(
            f"engine must be one of 'auto', 'arrow', 'typed'; got {engine!r}"
        )
    relaxed = syntax is not None or big_number != "default" or interoperable
    if positions:
        if engine == "typed":
            raise ValueError(
                "positions=True needs the Arrow engine's parser; "
                "engine='typed' has no Python stage")
        if relaxed:
            raise ValueError(
                "positions=True is only supported for strict JSON "
                "(no syntax/big_number/interoperable options)")

    cs = _compiled(rules)

    def _with_flag(res: ValidationResult, flag_value: bool) -> ValidationResult:
        if keep_flag_col is not None:
            res.annotated = res.annotated.withColumn(keep_flag_col, F.lit(flag_value))
        return res

    if engine == "typed":
        return _with_flag(
            validate_json_typed(df, json_col, cs, key_cols=key_cols,
                                extensions=extensions), False)
    if engine == "auto" and not relaxed and limits is None and not positions:
        route = _typed_route_schema(cs)
        if isinstance(route, T.StructType):
            try:
                return validate_json_hybrid(df, json_col, cs, route,
                                            key_cols=key_cols, extensions=extensions,
                                            keep_flag_col=keep_flag_col)
            except ExpressionFallback:
                pass  # constructs the Column compiler can't express: Arrow path
    key_cols = key_columns(df, key_cols)
    out_schema = _out_schema(df, key_cols, positioned=positions)
    narrowed = df.select(*key_cols, json_col)
    # Arrow kernels are CPU-bound per batch: if the input has fewer splits
    # than cores (single parquet file), spread it so every core validates
    narrowed = ensure_parallelism(narrowed)
    evaluator = Evaluator(extensions=extensions)
    parse = (
        partial(loads_relaxed, syntax=syntax, big_number=big_number,
                interoperable=interoperable)
        if relaxed else loads_strict
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # cs/evaluator arrive via the pickled task closure — one deserialize
        # per task, shared across all its Arrow batches.
        for pdf in batches:
            checked = [
                _check_document(doc, cs, evaluator, parse, limits, positions)
                for doc in pdf[json_col]
            ]
            out = pdf[key_cols].copy()
            out[VALID_COL] = [valid for valid, _ in checked]
            out[VIOLATIONS_COL] = [recs for _, recs in checked]
            yield out

    annotated = narrowed.mapInPandas(run, schema=out_schema)
    return _with_flag(ValidationResult(annotated=annotated, key_cols=key_cols), True)


def _flagged_docs_udf(cs: CompiledSchema, extensions: bool):
    """Arrow-batched pandas UDF re-evaluating only the NON-NULL docs it
    receives (the hybrid path nulls out clean rows, so Arrow ships a
    column of mostly-nulls and Python cost is O(flagged rows)).
    Returns struct<valid boolean, v array<full violation>>: the strict
    case of validate_json_column's per-document check (no limits, no
    positions)."""
    out_type = T.StructType([
        T.StructField("valid", T.BooleanType(), False),
        T.StructField("v", VIOLATION_ARRAY, False),
    ])

    @F.pandas_udf(out_type)
    def check(docs: pd.Series) -> pd.DataFrame:
        ev = Evaluator(extensions=extensions)
        n = len(docs)
        valids = [True] * n
        viols: list[list[dict]] = [[]] * n  # slots replaced, never mutated
        arr = docs.to_numpy()
        for i in np.flatnonzero(docs.notna().to_numpy()):
            valids[i], viols[i] = _check_document(arr[i], cs, ev, loads_strict)
        return pd.DataFrame({"valid": valids, "v": viols})

    return check


def validate_json_hybrid(
    df: DataFrame,
    json_col: str,
    rules,
    route_schema: T.StructType,
    key_cols: Optional[Sequence[str]] = None,
    extensions: bool = False,
    keep_flag_col: Optional[str] = None,
) -> ValidationResult:
    """JVM-fast JSON validation with EXACT report parity (VERDICT r1 fix #2).

    Stage 1 (JVM, whole-stage codegen): from_json decodes to the routed
    struct; the Column kernels compute verdict + COMPACT violations (kept
    JVM-side — the broadcast rule table reconstructs reports as usual).
    Rows from_json could not coerce (malformed JSON or a type-mismatched
    field) are flagged — at web scale the trickle, not the stream.
    Stage 2: ONE pandas UDF receives the doc column NULLED for clean rows
    (Arrow ships mostly-nulls) and re-runs the Python evaluator for flagged
    rows only, distinguishing real syntax errors from type mismatches with
    the reference's exact keyword/message. Python cost is O(flagged docs);
    clean rows never leave the JVM.

    Report parity is exact across paths since r3: both the Column kernels
    and the evaluator emit the reference's TWO `required` rows per failing
    object (endObject count, schema.js:810, + missing-key list,
    schema.js:1322-1324) with byte-identical expected strings; the
    randomized hybrid-vs-arrow differential asserts full message parity
    (test_differential, multiplicity assertion un-relaxed).
    """
    key_cols = key_columns(df, key_cols)
    cs = _compiled(rules)
    parse_expr = _permissive_parse(json_col, route_schema)
    # Materialize the parse ONCE per row behind a Generate barrier:
    # JsonToStructs is CodegenFallback and common-subexpression elimination
    # does not reliably dedupe it, so the dozens of field references below
    # would each RE-PARSE the document (measured 4-7x slowdown on a
    # 30-field schema). CollapseProject cannot cross Generate, and
    # explode(array(e)) is a 1:1 row mapping.
    narrowed = ensure_parallelism(df.select(*key_cols, json_col))
    mat = narrowed.select(
        *key_cols,
        F.col(json_col),
        # json_object_keys rides in the same single-eval struct
        F.explode(F.array(F.struct(
            parse_expr.alias("p"),
            F.json_object_keys(F.col(json_col)).alias("keys"),
        ))).alias("_jsp_mat"),
    )
    parsed = F.col("_jsp_mat").getField("p")
    compiler = ColumnCompiler(extensions=extensions)
    valid, cviols = compiler.compile_value(cs, parsed, route_schema, F.lit(""))
    flagged = parsed.isNull() | parsed.getField("_jsp_corrupt").isNotNull()
    # EXPLICIT JSON null is invisible post-from_json (null field == absent
    # field), but the evaluator rejects null where a type is constrained —
    # flag those rows for Python re-evaluation. json_object_keys
    # distinguishes present-with-null from absent: some constrained field
    # is explicit-null exactly when MORE constrained keys are present in
    # the doc than are non-null in the parsed struct (one array_intersect,
    # O(fields) per row — per-field array_contains was O(fields^2) string
    # scans and dominated wide schemas). Null ARRAY ELEMENTS show directly
    # as null entries in the typed array.
    keys_arr = F.col("_jsp_mat").getField("keys")
    constrained = []
    # REQUIRED keys join the null-detection list even when their subschema
    # is unconstrained ({}): post-from_json an explicit null on such a key
    # is indistinguishable from absence, so the Column required check would
    # fire where the evaluator (key present, {} passes) accepts — the row
    # must route to Python (ADVICE r2 high: required + {} + explicit null).
    required_keys = set(cs.required or ())
    for fld in route_schema.fields:
        sub = cs.properties.get(fld.name)
        sub_constrained = sub is not None and not _is_unconstrained(sub)
        if not sub_constrained and fld.name not in required_keys:
            continue
        constrained.append(fld.name)
        if sub_constrained and isinstance(fld.dataType, T.ArrayType) and not isinstance(
            fld.dataType.elementType, T.StringType
        ):
            flagged = flagged | F.coalesce(
                F.exists(parsed.getField(fld.name), lambda x: x.isNull()),
                F.lit(False),
            )
    if constrained:
        present = F.size(
            F.array_intersect(keys_arr, F.array(*[F.lit(n) for n in constrained]))
        )
        nonnull = None
        for n in constrained:
            term = F.when(parsed.getField(n).isNotNull(), 1).otherwise(0)
            nonnull = term if nonnull is None else (nonnull + term)
        flagged = flagged | F.coalesce(present > nonnull, F.lit(False))
    needs_py = F.col(json_col).isNotNull() & flagged
    udf = _flagged_docs_udf(cs, extensions)
    # flagged-count observation (VERDICT r2 stretch #9): piggybacks on
    # whatever action consumes the result — no extra job. A rerun that saw
    # jsp_flagged == 0 can switch to engine='typed' and skip the UDF stage.
    from pyspark.sql import Observation

    obs = Observation()
    mat = mat.observe(obs, *flagged_counts(needs_py))
    base = mat.select(
        *key_cols,
        F.when(needs_py, F.lit(True)).otherwise(F.lit(False)).alias(FLAGGED_COL),
        F.when(needs_py, F.array().cast(COMPACT_ARRAY))
        .otherwise(F.coalesce(cviols, F.array().cast(COMPACT_ARRAY)))
        .alias(VIOLATIONS_COL),
        F.coalesce(valid, F.lit(True)).alias("_jsp_expr_valid"),
        udf(F.when(needs_py, F.col(json_col))).alias("_jsp_py"),
    )
    flag_cols = [F.col(FLAGGED_COL).alias(keep_flag_col)] if keep_flag_col else []
    annotated = base.select(
        *key_cols,
        F.when(F.col(FLAGGED_COL), F.col("_jsp_py").getField("valid"))
        .otherwise(F.col("_jsp_expr_valid"))
        .alias(VALID_COL),
        F.col(VIOLATIONS_COL),
        F.col("_jsp_py").getField("v").alias(PY_VIOLS_COL),
        F.col(FLAGGED_COL),  # the evaluation counts the flags again (NOTES)
        *flag_cols,
    )
    return ValidationResult(
        annotated=annotated, key_cols=key_cols, compiled=cs,
        rule_table=compiler.rule_table, py_viols_col=PY_VIOLS_COL,
        flagged_observation=obs,
    )


def schema_for_rules(rules, default=T.StringType()) -> T.DataType:
    """Infer the Spark read schema implied by a rule document, so the
    from_json fast path needs no hand-written struct. Mapping follows
    SURVEY.md §1.2 (integer->long, number->double, object->struct from
    `properties`, array->array of items). Unconstrained shapes fall back
    to `default` (string)."""
    cs: CompiledSchema = _compiled(rules)

    def infer(node: CompiledSchema, depth: int = 0) -> T.DataType:
        if depth > 12:
            return default
        if node.ref is not None:
            return infer(node.resolve_ref(), depth + 1)
        allowed = node.allowed_types
        if node.properties or (len(allowed) == 1 and allowed[0] == "object"):
            fields = [
                T.StructField(name, infer(sub, depth + 1), True)
                for name, sub in node.properties.items()
            ]
            return T.StructType(fields) if fields else T.MapType(T.StringType(), default)
        if node.items_all is not None or (len(allowed) == 1 and allowed[0] == "array"):
            elem = infer(node.items_all, depth + 1) if node.items_all is not None else default
            return T.ArrayType(elem, True)
        if len(allowed) == 1:
            t = allowed[0]
            if t == "string":
                return T.StringType()
            if t == "boolean":
                return T.BooleanType()
            if t == "number":
                return T.LongType() if not node.allow_fraction else T.DoubleType()
        # no explicit type: infer from the keyword family present
        has_numeric = any(
            v is not None
            for v in (node.minimum, node.maximum, node.exclusive_minimum,
                      node.exclusive_maximum, node.multiple_of)
        )
        has_string = node.min_length is not None or node.max_length is not None \
            or node.pattern is not None
        if has_numeric and not has_string:
            return T.DoubleType()
        return default

    return infer(cs)


def validate_json_typed(
    df: DataFrame,
    json_col: str,
    rules,
    spark_schema=None,
    key_cols: Optional[Sequence[str]] = None,
    extensions: bool = True,
) -> ValidationResult:
    """FAST JSON path for payloads with a KNOWN shape: from_json (Spark's
    Jackson parser — the JVM replacement for the reference's byte FSM,
    SURVEY.md §2.1 'block scanner' row) decodes to a typed struct, then the
    regular Column kernels validate it — zero Python, one projection.

    Use validate_json_column (Arrow/Python) only when the shape is dynamic.
    Corrupt JSON yields a NULL struct -> reported as a 'syntax' violation.
    """
    cs = _compiled(rules)
    key_cols = key_columns(df, key_cols)
    if spark_schema is None:
        spark_schema = schema_for_rules(cs)  # inferred from the rules
    if isinstance(spark_schema, str):
        spark_schema = T._parse_datatype_string(spark_schema)
    # r7: JsonToStructs is CodegenFallback (interpreted), so a few-split
    # input serializes the parse onto the split count — spread it like
    # the Arrow path does (pass-through on multi-split inputs)
    df = ensure_parallelism(df)
    parse_expr = _permissive_parse(json_col, spark_schema)
    # single-eval barrier: JsonToStructs is CodegenFallback and CSE does not
    # reliably dedupe it across the per-field references (see
    # validate_json_hybrid); Generate materializes the parse once per row
    mat = df.select(
        *df.columns, F.explode(F.array(parse_expr)).alias("_jsp_parsed")
    )
    parsed = F.col("_jsp_parsed")
    compiler = ColumnCompiler(extensions=extensions)
    # compile against the ORIGINAL schema: _jsp_corrupt is not a property
    valid, viols = compiler.compile_value(cs, parsed, spark_schema, F.lit(""))
    syntax_bad = F.col(json_col).isNotNull() & (
        parsed.isNull() | parsed.getField("_jsp_corrupt").isNotNull()
    )
    syntax_rule = compiler.register_rule(
        cs.id, "syntax", None, "Syntax error: malformed JSON"
    )
    syntax_piece = F.struct(
        F.lit(syntax_rule).alias("rule_id"),
        F.lit("").alias("path"),
        F.col(json_col).cast("string").alias("actual"),
        F.lit(None).cast("string").alias("exp"),
    )
    annotated = mat.select(
        *key_cols,
        F.when(syntax_bad, F.lit(False)).otherwise(F.coalesce(valid, F.lit(True))).alias(VALID_COL),
        F.when(syntax_bad, F.array(syntax_piece))
        .otherwise(F.coalesce(viols, F.array().cast(COMPACT_ARRAY)))
        .alias(VIOLATIONS_COL),
    )
    return ValidationResult(
        annotated=annotated, key_cols=key_cols, compiled=cs,
        rule_table=compiler.rule_table,
    )


def validate_json_rows(
    df: DataFrame,
    rules,
    key_cols: Optional[Sequence[str]] = None,
    extensions: bool = False,
    big_number: str = "default",
) -> ValidationResult:
    """Whole-row fallback: serialize each row to a JSON object (JVM-side
    to_json — cheap, columnar) and validate with the Python evaluator.
    Used when ColumnCompiler raises ExpressionFallback."""
    key_cols = key_columns(df, key_cols)
    data_cols = data_columns(df)
    with_doc = df.select(
        *key_cols, F.to_json(F.struct(*[F.col(c) for c in data_cols])).alias("_jsp_doc")
    )
    return validate_json_column(with_doc, "_jsp_doc", rules, key_cols=key_cols,
                                extensions=extensions, big_number=big_number)


def validate_json_positions(
    df: DataFrame,
    json_col: str,
    rules,
    key_cols: Optional[Sequence[str]] = None,
    extensions: bool = False,
) -> DataFrame:
    """TABLE-scope positioned violation report: (key..., constraint_id,
    path, keyword, expected, actual, message, line, column) — the
    reference's ValidationError.position surfaced per row (north-star
    'structured violation rows'; anchors = the executed-reference
    convention, see IncrementalJSONParser.positions).

    Cost model: the FSM anchor-map re-parse runs ONLY for documents that
    produced errors (the trickle); clean documents pay one loads_strict.
    Rows for syntax errors carry the SyntaxError position itself.

    r5 (VERDICT r4 #5): now a thin explode over
    validate_json_column(positions=True).violations() — the standard
    report rows themselves carry positions; this surface is kept for its
    report-per-row shape and exact historical schema."""
    res = validate_json_column(
        df, json_col, rules, key_cols=key_cols, extensions=extensions,
        positions=True,
    )
    return res.violations()
