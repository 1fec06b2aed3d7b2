"""M1/M2 tests: table-scope validation pass on driver testdata."""

import pytest

from pyspark.sql import functions as F

from jsonschemaparse_spark.plans import (
    VALID_COL,
    VIOLATIONS_COL,
    validate_dataframe,
    validate_json_column,
    strict_first_error,
)

# FIXTURES.md §F2 flagship rule, adapted to the shipped documents analog
DOC_RULES = {
    "$id": "https://fixtures.local/webpage",
    "type": "object",
    "required": ["doc_id", "text", "lang"],
    "properties": {
        "doc_id": {"type": "integer", "minimum": 0},
        "text": {"type": "string", "minLength": 1},
        "lang": {"enum": ["en", "de", "fr", "es", "zh", "ja", "ru", "pt", "it", "nl"]},
        "source": {"type": "string", "pattern": "^[a-z]"},
        # max 500 is deliberately tighter than the data (sf0.001 max is 558)
        # so violation rows deterministically exist
        "n_chars": {"type": "integer", "minimum": 0, "maximum": 500},
    },
}


@pytest.fixture(scope="module")
def result(documents):
    return validate_dataframe(documents, DOC_RULES, key_cols=["doc_id"])


def test_annotated_has_flags(result, documents):
    ann = result.annotated
    assert VALID_COL in ann.columns and VIOLATIONS_COL in ann.columns
    assert ann.count() == documents.count()


def test_n_chars_agreement_with_python(result, documents):
    """Cross-check the Column kernels against the pure-Python evaluator on
    the same rows — two independent implementations, same verdicts."""
    from jsonschemaparse_spark import validate_instance

    rows = documents.limit(200).collect()
    spark_valid = {
        r["doc_id"]: r[VALID_COL]
        for r in result.annotated.select("doc_id", VALID_COL).limit(10**9).collect()
    }
    for r in rows:
        ok, errs = validate_instance(DOC_RULES, {k: v for k, v in r.asDict().items() if v is not None})
        assert ok == spark_valid[r["doc_id"]], (r.asDict(), [e.message for e in errs])


def test_violations_df_shape(result):
    v = result.violations()
    assert v.columns == ["doc_id", "constraint_id", "path", "keyword", "expected", "actual", "message"]
    # driver testdata has lang values outside our enum -> violations exist
    kws = {r["keyword"] for r in v.select("keyword").distinct().collect()}
    assert kws  # at least one kind of violation in synthetic data


def test_verdicts_partition_rollup(result):
    verd = result.verdicts()
    rows = verd.collect()
    assert sum(r["n_rows"] for r in rows) == result.annotated.count()
    for r in rows:
        assert r["pass"] == (r["n_failed_rows"] == 0)


def test_explain_stays_in_codegen(result):
    """The validation projection must not introduce a shuffle or a Python
    UDF: plan contains no Exchange and no [Arrow]EvalPython stage."""
    plan = result.annotated._sc._jvm.PythonSQLUtils.explainString(
        result.annotated._jdf.queryExecution(), "formatted"
    ) if hasattr(result.annotated._sc._jvm, "PythonSQLUtils") else ""
    if not plan:
        import io
        from contextlib import redirect_stdout

        buf = io.StringIO()
        with redirect_stdout(buf):
            result.annotated.explain("formatted")
        plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_strict_mode_first_error(spark):
    df = spark.createDataFrame([(1, "en"), (2, "xx")], ["doc_id", "lang"])
    res = validate_dataframe(df, {"properties": {"lang": {"enum": ["en"]}}}, key_cols=["doc_id"])
    err = strict_first_error(res)
    assert err is not None and err["keyword"] == "enum"

    ok_res = validate_dataframe(df.filter("lang = 'en'"), {"properties": {"lang": {"enum": ["en"]}}})
    assert strict_first_error(ok_res) is None


def test_required_null_column(spark):
    df = spark.createDataFrame([(1, "x"), (2, None)], ["id", "text"])
    res = validate_dataframe(df, {"required": ["text"]}, key_cols=["id"])
    bad = res.violations().collect()
    # r3: the reference emits BOTH rows per failing object — the endObject
    # count (schema.js:810) and the missing-key list (schema.js:1322-1324)
    assert len(bad) == 2 and all(b["keyword"] == "required" and b["id"] == 2
                                 for b in bad)
    by_msg = {b["message"]: b for b in bad}
    assert by_msg["Required property missing"]["actual"] == "1"
    assert by_msg["Required properties missing"]["expected"] == '["text"]'  # json.dumps form, both paths


def test_message_parity_table_path(spark):
    df = spark.createDataFrame([(1, "a"), (2, "abc")], ["id", "s"])
    res = validate_dataframe(
        df, {"properties": {"s": {"minLength": 2, "maxLength": 2}}}, key_cols=["id"]
    )
    msgs = {r["id"]: r["message"] for r in res.violations().collect()}
    assert msgs == {1: "String too short", 2: "String too long"}


def test_combinators_table_path(spark):
    df = spark.createDataFrame([(1, 1.0), (2, 2.5), (3, 3.0), (4, 1.5)], ["id", "x"])
    # oneOf: integer-valued XOR >= 2
    rules = {"properties": {"x": {"oneOf": [{"multipleOf": 1}, {"minimum": 2}]}}}
    res = validate_dataframe(df, rules, key_cols=["id"])
    got = {r["id"]: r[VALID_COL] for r in res.annotated.select("id", VALID_COL).collect()}
    assert got == {1: True, 2: True, 3: False, 4: False}


def test_array_column_items(spark):
    df = spark.createDataFrame([(1, [1, 2, 3]), (2, [1, -5]), (3, [])], ["id", "xs"])
    rules = {"properties": {"xs": {"items": {"minimum": 0}, "minItems": 1}}}
    res = validate_dataframe(df, rules, key_cols=["id"])
    v = {r["id"]: (r["keyword"], r["path"]) for r in res.violations().collect()}
    assert v[2] == ("minimum", "/xs/1")
    assert v[3] == ("minItems", "/xs")


def test_struct_column_properties(spark):
    df = spark.createDataFrame(
        [(1, {"a": 5, "b": "x"}), (2, {"a": -1, "b": "y"})],
        "id int, o struct<a:int, b:string>",
    )
    rules = {"properties": {"o": {"properties": {"a": {"minimum": 0}}, "required": ["a"]}}}
    res = validate_dataframe(df, rules, key_cols=["id"])
    bad = res.violations().collect()
    assert len(bad) == 1 and bad[0]["path"] == "/o/a" and bad[0]["id"] == 2


def test_json_payload_column(spark):
    """events.props-style dynamic JSON validated via Arrow batches."""
    df = spark.createDataFrame(
        [(1, '{"k": 1}'), (2, '{"k": "no"}'), (3, "{broken"), (4, None)],
        ["id", "props"],
    )
    rules = {"type": "object", "properties": {"k": {"type": "integer"}}}
    res = validate_json_column(df, "props", rules, key_cols=["id"])
    got = {r["id"]: r[VALID_COL] for r in res.annotated.collect()}
    assert got == {1: True, 2: False, 3: False, 4: True}
    kw = {r["id"]: r["keyword"] for r in res.violations().collect()}
    assert kw[3] == "syntax" and kw[2] == "type"


def test_events_props_at_sf(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    rules = {"type": "object"}
    res = validate_json_column(ev, "props", rules, key_cols=["event_id"])
    s = res.summary()
    assert s["n_rows"] == ev.count()


def test_ecmascript_regex_falls_back(spark):
    df = spark.createDataFrame([(1, "abc")], ["id", "s"])
    rules = {"properties": {"s": {"pattern": "\\p{L}+"}}}
    res = validate_dataframe(df, rules, key_cols=["id"])  # auto fallback
    assert res.annotated.collect()[0][VALID_COL] is True


def test_heavy_ruleset_stays_in_codegen(spark):
    """Regression guard for the compact-encoding fix: a realistic-size rule
    document (a dozen constraints incl. several regexes) must keep the
    validation Project inside whole-stage codegen. Before the rule-table
    refactor this silently fell out of codegen (~100x slower)."""
    import io
    from contextlib import redirect_stdout

    df = spark.createDataFrame(
        [(1, "https://host1.example/p/1", "some text here", "en", 10)],
        ["id", "url", "text", "lang", "n"],
    )
    heavy = {
        "type": "object",
        "required": ["url", "text", "lang", "n"],
        "properties": {
            "url": {"type": "string", "minLength": 10, "maxLength": 2048,
                    "pattern": "^https://", "allOf": [{"pattern": "/p/[0-9]+$"}]},
            "text": {"type": "string", "minLength": 1, "maxLength": 100000,
                     "allOf": [{"pattern": "[a-z]"}, {"not": {"pattern": "\\x00"}}]},
            "lang": {"enum": ["en", "de", "fr", "es", "zh"], "pattern": "^[a-z]{2}$",
                     "minLength": 2, "maxLength": 2},
            "n": {"type": "integer", "minimum": 0, "maximum": 10**9, "multipleOf": 1},
        },
    }
    res = validate_dataframe(df, heavy, key_cols=["id"], fallback="never")
    buf = io.StringIO()
    with redirect_stdout(buf):
        res.annotated.explain("formatted")
    plan = buf.getvalue()
    assert "codegen id" in plan, "validation Project fell out of whole-stage codegen"
    assert "EvalPython" not in plan
    assert res.annotated.collect()[0][VALID_COL] is True


def test_fallback_param_validated(documents):
    with pytest.raises(ValueError, match="fallback"):
        validate_dataframe(documents, DOC_RULES, fallback="nevr")


# =========================================================================
# moved from test_round4_fixes.py (round-fix regression pins, split by
# topic per VERDICT r5 #8)
# =========================================================================
import pytest  # noqa: E402,F811,F401
from pyspark.sql import functions as F  # noqa: E402,F811,F401
from conftest import SF01_DIR  # noqa: E402,F811,F401

def test_verdict_documents_merges_fallback_encoding(spark, documents):
    """The driver verdict query must count violations through _n_viols()
    so per-column Arrow-fallback rows (py_viols_col) are not dropped."""
    import __spark_entry__ as entry
    from jsonschemaparse_spark.plans import validate_dataframe

    row = entry.q_verdict_documents(spark, "/root/testdata/sf0.001").first()
    res = validate_dataframe(documents, entry.DOC_RULES, key_cols=["doc_id"])
    assert row["n_rows"] == documents.count()
    assert row["n_violations"] == res.violations().count()
    assert row["n_failed_rows"] == res.annotated.filter(~F.col("_jsp_valid")).count()


def test_verdict_query_counts_py_fallback_rows(spark):
    """Synthetic fallback: a ValidationResult whose violations live ONLY in
    the py_viols_col array still contributes to _n_viols()-based totals —
    the exact trap the old F.size(VIOLATIONS_COL) query fell into."""
    from jsonschemaparse_spark.plans.validator import ValidationResult

    viol_t = (
        "array<struct<constraint_id:string,path:string,keyword:string,"
        "expected:string,actual:string,message:string>>"
    )
    df = spark.createDataFrame(
        [(1, True, [], []), (2, False, [], [("c1", "/x", "type", "string", "1", "m")])],
        f"doc_id long, _jsp_valid boolean, _jsp_violations {viol_t}, _py {viol_t}",
    )
    res = ValidationResult(annotated=df, key_cols=["doc_id"], py_viols_col="_py")
    total = df.select(F.sum(res._n_viols()).alias("n")).first()["n"]
    assert total == 1  # F.size("_jsp_violations") alone would report 0

