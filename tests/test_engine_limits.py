"""Rule-suite engine, resource limits, and Spark end-to-end suite parity."""

import pytest

from pyspark.sql import functions as F

from conftest import jobs_of
from jsonschemaparse_spark import SchemaError
from jsonschemaparse_spark.engine import compile_rule_suite, run_rule_suite

SF = "/root/testdata/sf0.001"


def test_rule_suite_compile_validation():
    with pytest.raises(SchemaError):
        compile_rule_suite({"schma": {}})
    with pytest.raises(SchemaError):
        compile_rule_suite({"unique": [{"keys": []}]})
    with pytest.raises(SchemaError):
        compile_rule_suite({"referential": [{"child_key": "x"}]})
    with pytest.raises(SchemaError):
        compile_rule_suite({"drift": [{"column": "x", "test": "anova", "against": "t"}]})
    suite = compile_rule_suite(
        {"schema": {"type": "object"}, "unique": [{"keys": ["a"]}]}
    )
    assert suite.schema is not None and len(suite.unique) == 1


def test_rule_suite_end_to_end(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    customer = spark.read.parquet(f"{SF}/customer.parquet")
    shifted = docs.withColumn("n_chars", F.col("n_chars") + 300)

    report = run_rule_suite(
        docs,
        {
            "schema": {
                "type": "object",
                "required": ["doc_id", "text"],
                "properties": {"text": {"minLength": 1}},
            },
            "unique": [{"keys": ["doc_id"]}],
            "drift": [
                {"column": "n_chars", "test": "ks", "against": "same"},
                {"column": "lang", "test": "chi2", "against": "same"},
            ],
        },
        tables={"same": docs},
        key_cols=["doc_id"],
    )
    s = report.summary()
    assert s["pass"] is True
    assert s["rows"]["n_rows"] == docs.count()
    assert all(c["pass"] for c in s["table_checks"])

    # failing suite: duplicates + drift + orphaned referential
    dup = docs.union(docs.limit(3))
    report2 = run_rule_suite(
        dup.withColumnRenamed("doc_id", "o_custkey") if False else orders,
        {
            "referential": [
                {"child_key": "o_custkey", "parent": "customer_half",
                 "parent_key": "c_custkey"}
            ]
        },
        tables={"customer_half": customer.filter(F.col("c_custkey") % 2 == 0)},
    )
    assert report2.passed is False
    assert report2.table_checks[0].details["n_orphans"] > 0
    cid = report2.table_checks[0].constraint_id
    assert report2.table_violations[cid].count() > 0

    report3 = run_rule_suite(
        docs, {"drift": [{"column": "n_chars", "test": "ks", "against": "prev"}]},
        tables={"prev": shifted},
    )
    assert report3.passed is False


def test_rule_suite_summary_runs_the_row_kernel_once(spark):
    """summary() derives "pass" from the rows summary it already holds,
    and the rows summary is observed on the one job that materializes the
    result's evaluation; a repeated summary() runs no job."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    report = run_rule_suite(
        docs,
        {"schema": {"type": "object", "properties": {"text": {"minLength": 1}}},
         "unique": [{"keys": ["doc_id"]}]},
        key_cols=["doc_id"],
    )
    s, suite_jobs = jobs_of(spark, "suite-summary", report.summary)
    _, row_jobs = jobs_of(spark, "rows-summary", report.row_result.summary)
    again, again_jobs = jobs_of(spark, "suite-summary-again", report.summary)
    assert s["pass"] is True and s["rows"]["n_rows"] == docs.count()
    # one job over the row kernel (an aggregate was 2 with AQE: map stage
    # + result; deriving "pass" from a second summary() made it 4)
    assert suite_jobs == 1, suite_jobs
    assert row_jobs == again_jobs == 0, (row_jobs, again_jobs)
    assert again == s and report.passed is True
    # the row reports read the evaluation the summary materialized: no
    # file is scanned again
    from conftest import file_scan_rows

    _, first = file_scan_rows(spark)
    report.row_result.violations().collect()
    verdicts = report.row_result.verdicts().collect()
    assert sum(r["n_rows"] for r in verdicts) == s["rows"]["n_rows"]
    assert file_scan_rows(spark, first)[0] == 0


def _within(seconds, fn):
    """fn()'s result, or a test failure (not a hung session) after `seconds`."""
    import threading

    out = {}

    def call():
        try:
            out["v"] = fn()
        except BaseException as e:  # re-raised in the test's own thread
            out["e"] = e

    worker = threading.Thread(target=call, daemon=True)
    worker.start()
    worker.join(seconds)
    assert not worker.is_alive(), f"no result after {seconds} s"
    if "e" in out:
        raise out["e"]
    return out["v"]


@pytest.mark.parametrize("case", ["passing", "empty", "failing"])
def test_table_checks_count_passing_failing_and_empty_tables(spark, case):
    """A passing unique/referential check (its rows empty after a shuffle,
    which AQE propagates) and an empty input table count 0 without
    hanging. The rows stay a plan that no job has stored: a caller that
    reads only the counts (the CLI) keeps no copy of them."""
    from conftest import stored_rdds

    rows = [(i, i % 5) for i in range(40)]
    if case == "failing":
        rows += [(3, 7), (4, 9)]  # two duplicate ids, two orphan parents
    df = spark.createDataFrame([] if case == "empty" else rows, "id long, p long")
    parents = spark.createDataFrame([(i,) for i in range(5)], "p long")
    before = stored_rdds(spark)
    report = _within(120, lambda: run_rule_suite(
        df,
        {"schema": {"properties": {"p": {"maximum": 4}}},
         "unique": [{"keys": ["id"]}],
         "referential": [{"child_key": "p", "parent": "parents", "parent_key": "p"}]},
        tables={"parents": parents}, key_cols=["id"]))
    assert stored_rdds(spark) <= before  # no check stored its rows
    counts = {c.kind: next(iter(c.details.values())) for c in report.table_checks}
    n = 2 if case == "failing" else 0
    assert counts == {"unique": n, "referential": n}
    assert report.summary()["rows"]["n_rows"] == {"failing": 42, "passing": 40, "empty": 0}[case]
    for bad in report.table_violations.values():
        assert bad.count() == n
    assert len(report.table_violations) == (2 if case == "failing" else 0)


def test_rule_suite_uniqueness_violation(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    dup = docs.union(docs.limit(4))
    report = run_rule_suite(dup, {"unique": [{"keys": ["doc_id"]}]})
    assert not report.passed
    assert report.table_checks[0].details["n_duplicate_keys"] == 4


# ---------------- resource limits -------------------------------------------
def test_limits_api():
    from jsonschemaparse_spark import ResourceLimitError
    from jsonschemaparse_spark.api import parse, parse_info
    from jsonschemaparse_spark.schema.evaluate import ResourceLimits

    lim = ResourceLimits(max_string_length=3, max_items=2, max_properties=2,
                         max_key_length=4, max_depth=3)
    assert parse('"abc"', limits=lim) == "abc"
    with pytest.raises(ResourceLimitError):
        parse('"abcd"', limits=lim)
    with pytest.raises(ResourceLimitError):
        parse("[1, 2, 3]", limits=lim)
    with pytest.raises(ResourceLimitError):
        parse('{"a":1,"b":2,"c":3}', limits=lim)
    with pytest.raises(ResourceLimitError):
        parse('{"toolongkey": 1}', limits=lim)
    with pytest.raises(ResourceLimitError):
        parse('[[[[1]]]]', limits=lim)

    info = parse_info('"abcd"', limits=lim)
    assert not info.valid and info.errors[0].keyword == "resourceLimit"


def test_limits_table_path(spark):
    from jsonschemaparse_spark.plans import validate_json_column
    from jsonschemaparse_spark.schema.evaluate import ResourceLimits

    df = spark.createDataFrame(
        [(1, '{"k": "short"}'), (2, '{"k": "' + "x" * 100 + '"}')],
        ["id", "props"],
    )
    res = validate_json_column(
        df, "props", {"type": "object"}, key_cols=["id"],
        limits=ResourceLimits(max_string_length=50),
    )
    got = {r["id"]: r["_jsp_valid"] for r in res.annotated.collect()}
    assert got == {1: True, 2: False}
    v = res.violations().collect()
    assert v[0]["keyword"] == "resourceLimit" and v[0]["path"] == "/k"


# ---------------- Spark end-to-end keyword parity -----------------------------
def test_suite_cases_through_spark(spark):
    """Every embedded 2019-09 case flows through the Spark Arrow path
    (validate_json_column) in ONE job — the distributed twin of T1."""
    import json as _json

    from cases_2019_09 import CASES
    from jsonschemaparse_spark.plans import validate_json_column

    rows = []
    case_id = 0
    groups = []
    for g, group in enumerate(CASES):
        for t in group["tests"]:
            rows.append((case_id, g, _json.dumps(t["data"]), t["valid"]))
            case_id += 1
        groups.append(group["schema"])

    df = spark.createDataFrame(rows, "case_id int, group int, doc string, want boolean")
    mismatches = []
    for g, schema in enumerate(groups):
        part = df.filter(F.col("group") == g)
        res = validate_json_column(part, "doc", schema, key_cols=["case_id", "group", "want"])
        bad = res.annotated.filter(F.col("_jsp_valid") != F.col("want"))
        mismatches.extend(bad.collect())
    assert not mismatches, mismatches[:5]
