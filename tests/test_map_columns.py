"""MapType columns = JSON objects with dynamic keys (SURVEY.md §1.2 row:
patternProperties/additionalProperties -> MapType + map HOFs)."""

import pytest

from pyspark.sql import functions as F

from jsonschemaparse_spark.plans import VALID_COL, validate_dataframe


@pytest.fixture(scope="module")
def mdf(spark):
    return spark.createDataFrame(
        [
            (1, {"alpha": 5, "beta": 7}),
            (2, {"alpha": -3}),
            (3, {}),
            (4, {"x1": 2, "x2": 4, "x3": 6, "junk": 1}),
        ],
        "id int, m map<string,int>",
    )


def _valids(res):
    return {r["id"]: r[VALID_COL] for r in res.annotated.collect()}


def test_map_required_and_counts(spark, mdf):
    rules = {"properties": {"m": {"required": ["alpha"], "minProperties": 1,
                                  "maxProperties": 3}}}
    res = validate_dataframe(mdf, rules, key_cols=["id"], fallback="never")
    assert _valids(res) == {1: True, 2: True, 3: False, 4: False}
    kws = {(r["id"], r["keyword"]) for r in res.violations().collect()}
    assert (3, "required") in kws and (3, "minProperties") in kws
    assert (4, "required") in kws and (4, "maxProperties") in kws


def test_map_properties_routing(spark, mdf):
    rules = {"properties": {"m": {"properties": {"alpha": {"minimum": 0}}}}}
    res = validate_dataframe(mdf, rules, key_cols=["id"], fallback="never")
    assert _valids(res) == {1: True, 2: False, 3: True, 4: True}
    v = res.violations().collect()
    assert v[0]["path"] == "/m/alpha" and v[0]["keyword"] == "minimum"


def test_map_pattern_and_additional(spark, mdf):
    rules = {"properties": {"m": {
        "patternProperties": {"^x": {"multipleOf": 2}},
        "additionalProperties": {"minimum": 0},
    }}}
    res = validate_dataframe(mdf, rules, key_cols=["id"], fallback="never")
    # row2: alpha=-3 is additional (no ^x match) and < 0 -> invalid
    # row4: x1/x2/x3 all even, junk=1 >= 0 -> valid
    assert _valids(res) == {1: True, 2: False, 3: True, 4: True}


def test_map_property_names(spark, mdf):
    rules = {"properties": {"m": {"propertyNames": {"maxLength": 4}}}}
    res = validate_dataframe(mdf, rules, key_cols=["id"], fallback="never")
    # 'alpha' (5 chars) fails; x1/x2/x3/junk all <= 4
    assert _valids(res) == {1: False, 2: False, 3: True, 4: True}


def test_map_dependent_required(spark, mdf):
    rules = {"properties": {"m": {"dependentRequired": {"alpha": ["beta"]}}}}
    res = validate_dataframe(mdf, rules, key_cols=["id"], fallback="never")
    assert _valids(res) == {1: True, 2: False, 3: True, 4: True}


def test_map_agrees_with_evaluator(spark, mdf):
    from jsonschemaparse_spark import validate_instance

    rules_m = {
        "required": ["alpha"], "minProperties": 1, "maxProperties": 3,
        "properties": {"alpha": {"minimum": 0}},
        "patternProperties": {"^x": {"multipleOf": 2}},
    }
    res = validate_dataframe(
        mdf, {"properties": {"m": rules_m}}, key_cols=["id"], fallback="never"
    )
    got = _valids(res)
    for r in mdf.collect():
        want, _ = validate_instance(rules_m, dict(r["m"]), extensions=True)
        assert got[r["id"]] == want, (r["id"], dict(r["m"]))


def test_struct_and_map_objects_report_the_same_rows(spark):
    """Struct and map columns share one copy of the object keywords: the
    same objects report the same rows under either column type, also for
    a required key the struct has no field for."""
    objects = [
        {"alpha": 1, "beta": 2},
        {"alpha": 1},
        {},
        {"alpha": 1, "beta": 2, "gamma": 3},
    ]
    rules = {"properties": {"o": {
        "required": ["alpha", "zeta"], "minProperties": 2, "maxProperties": 2,
        "dependentRequired": {"alpha": ["beta"], "gamma": ["zeta"]},
    }}}
    as_struct = spark.createDataFrame(
        [(i, (o.get("alpha"), o.get("beta"), o.get("gamma")))
         for i, o in enumerate(objects)],
        "id int, o struct<alpha:int,beta:int,gamma:int>")
    as_map = spark.createDataFrame(list(enumerate(objects)), "id int, o map<string,int>")

    def report(df):
        res = validate_dataframe(df, rules, key_cols=["id"], fallback="never")
        rows = {}
        for r in res.violations().collect():
            rows.setdefault(r["id"], []).append(
                (r["keyword"], r["path"], r["expected"], r["actual"], r["message"]))
        return _valids(res), {i: sorted(v) for i, v in rows.items()}

    struct_valids, struct_rows = report(as_struct)
    map_valids, map_rows = report(as_map)
    assert struct_valids == map_valids == {0: False, 1: False, 2: False, 3: False}
    assert struct_rows == map_rows
    assert {kw for rows in map_rows.values() for kw, *_ in rows} == {
        "required", "minProperties", "maxProperties", "dependentRequired"}
    assert ("required", "/o", '["zeta"]', None, "Required properties missing") \
        in map_rows[0]
