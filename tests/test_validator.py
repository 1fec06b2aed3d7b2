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



# =========================================================================
# one evaluation per result: summary(), violations() and verdicts() read
# one lazily checkpointed pass of the row kernel
# =========================================================================
def _pages(spark, path, n, bad_every):
    """n rows in 4 parquet files; every `bad_every`-th lang breaks the enum."""
    spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % bad_every == 0, "xx").otherwise("en").alias("lang"),
    ).repartition(4).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


LANG_RULES = {"properties": {"lang": {"enum": ["en"]}}}


def test_reports_read_the_input_once(spark, tmp_path):
    """After evaluation(), the three reports of one result scan the input
    files once between them (three times when each re-ran the kernel)."""
    from conftest import file_scan_rows

    df = _pages(spark, str(tmp_path / "in"), 2000, 7)
    assert len(df.inputFiles()) == 4
    res = validate_dataframe(df, LANG_RULES, key_cols=["doc_id"])
    res.evaluation()
    _, first = file_scan_rows(spark)
    s = res.summary()
    viols = res.violations().collect()
    verdicts = res.verdicts().collect()
    scanned, _ = file_scan_rows(spark, first)
    assert scanned == 2000, scanned
    assert s == {"n_rows": 2000, "n_failed_rows": 286, "n_violations": 286, "pass": False}
    assert sorted(r["doc_id"] for r in viols) == list(range(0, 2000, 7))
    assert sum(r["n_rows"] for r in verdicts) == 2000
    assert sum(r["n_failed_rows"] for r in verdicts) == 286
    # the partition ids were taken before the checkpoint: one verdict row
    # per partition of the validated frame
    assert len(verdicts) == df.rdd.getNumPartitions()


def test_a_single_report_stores_nothing(spark, tmp_path):
    """Without evaluation(), a report is a plan over `annotated`: a caller
    that takes one report keeps no copy of the rows."""
    from conftest import stored_rdds

    df = _pages(spark, str(tmp_path / "in"), 2000, 7)
    before = stored_rdds(spark)
    verdicts = validate_dataframe(df, LANG_RULES, key_cols=["doc_id"]).verdicts().collect()
    assert sum(r["n_failed_rows"] for r in verdicts) == 286
    assert stored_rdds(spark) <= before


def test_strict_first_error_keeps_its_early_exit(spark, tmp_path):
    """strict_first_error reads `annotated`: a limit over the lazy
    evaluation would compute every partition before returning one row."""
    from conftest import file_scan_rows

    df = _pages(spark, str(tmp_path / "in"), 4000, 1)  # every row fails
    res = validate_dataframe(df, LANG_RULES, key_cols=["doc_id"])
    res.evaluation()
    _, first = file_scan_rows(spark)
    err = strict_first_error(res)
    scanned, _ = file_scan_rows(spark, first)
    assert err is not None and err["keyword"] == "enum"
    assert scanned < 4000, scanned


def test_results_over_a_rewritten_path_report_their_own_rows(spark, tmp_path):
    """Two results over one path, its files rewritten in between: each
    reports the rows it validated (with persist(), the write recaches the
    first result's plan and hands it the second one's rows)."""
    path = str(tmp_path / "in")
    first = validate_dataframe(_pages(spark, path, 70, 7), LANG_RULES, key_cols=["doc_id"])
    first.evaluation()
    assert first.summary()["n_failed_rows"] == 10
    assert first.violations().count() == 10
    second = validate_dataframe(_pages(spark, path, 30, 3), LANG_RULES, key_cols=["doc_id"])
    second.evaluation()
    assert second.summary() == {"n_rows": 30, "n_failed_rows": 10,
                                "n_violations": 10, "pass": False}
    assert sorted(r["doc_id"] for r in second.violations().collect()) == list(range(0, 30, 3))
    assert sorted(r["doc_id"] for r in first.violations().collect()) == list(range(0, 70, 7))
    assert sum(r["n_rows"] for r in first.verdicts().collect()) == 70


def test_release_frees_the_evaluation_blocks(spark, tmp_path):
    """A result's reports share one checkpointed evaluation until
    release() frees its blocks; later reports read `annotated` again."""
    from conftest import stored_rdds

    df = _pages(spark, str(tmp_path / "in"), 70, 7)
    res = validate_dataframe(df, LANG_RULES, key_cols=["doc_id"])
    res.evaluation()
    before = stored_rdds(spark)
    assert res.summary()["n_failed_rows"] == 10
    kept = stored_rdds(spark) - before
    assert kept == {res._blocks.id()}
    res.release()
    assert not kept & stored_rdds(spark)
    assert res.violations().count() == 10
    assert not kept & stored_rdds(spark)


def test_streaming_result_reports_run_under_write_stream(spark, tmp_path):
    """A streaming result's reports are plans that run under writeStream
    (a stream cannot be checkpointed)."""
    df = _pages(spark, str(tmp_path / "in"), 70, 7)
    stream = spark.readStream.schema(df.schema).parquet(str(tmp_path / "in"))
    res = validate_dataframe(stream, LANG_RULES, key_cols=["doc_id"])
    q = (res.violations().writeStream.format("memory").queryName("stream_viols")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(r["doc_id"] for r in spark.table("stream_viols").collect())
    assert got == list(range(0, 70, 7))
