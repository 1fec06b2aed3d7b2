"""JSON-column validation engine tests (hybrid/typed routing, bigNumber
policies, report parity) — consolidated from the round-fix files."""


# =========================================================================
# moved from test_round2_fixes.py (round-fix regression pins, split by
# topic per VERDICT r5 #8)
# =========================================================================
import pytest  # noqa: E402,F811,F401
from pyspark.sql import functions as F  # noqa: E402,F811,F401

def test_typed_route_gate():
    from pyspark.sql import types as T
    from jsonschemaparse_spark.plans.json_validator import _typed_route_schema

    safe = {"type": "object", "required": ["k"],
            "properties": {"k": {"type": "integer", "minimum": 0}}}
    route = _typed_route_schema(compile_rules(safe))
    assert isinstance(route, T.StructType)
    assert isinstance(route["k"].dataType, T.DoubleType)  # 1.0 is a valid integer

    for unsafe in (
        {"properties": {"k": {"type": "integer"}}},             # no root type
        {"type": "object", "properties": {"k": {"type": "string"}}},  # string coercion
        {"type": "object", "properties": {"k": {"minimum": 0}}},      # untyped leaf
        {"type": "object", "additionalProperties": False,
         "properties": {"k": {"type": "integer"}}},             # unknown-key observer
        {"type": "object", "required": ["z"],
         "properties": {"k": {"type": "integer"}}},             # required outside struct
        {"type": "object", "properties": {"k": {"type": "integer"}},
         "anyOf": [{"required": ["k"]}]},                       # combinator
    ):
        assert _typed_route_schema(compile_rules(unsafe)) is None, unsafe


def test_hybrid_report_parity_vs_arrow(spark):
    """The auto (hybrid) path must emit the SAME violation rows as the
    Arrow evaluator path — including 'type' (not 'syntax') for coercion
    failures and exact messages."""
    from jsonschemaparse_spark.plans import validate_json_column

    rules = {"type": "object", "required": ["k"],
             "properties": {"k": {"type": "integer", "minimum": 0, "maximum": 50},
                            "tags": {"type": "array", "minItems": 1}}}
    docs = [
        (1, '{"k": 1}'),
        (2, '{"k": "no"}'),        # type mismatch -> keyword 'type'
        (3, "{broken"),            # syntax
        (4, None),
        (5, '{"k": -3}'),          # minimum
        (6, '{"k": 1.0}'),         # 1.0 IS a valid integer (suite semantics)
        (7, '{"k": 1.5}'),         # fraction -> invalid
        (8, '{"k": 1, "tags": []}'),
        (9, '{"k": 99, "extra": true}'),  # extra key ignored; maximum fires
        (10, '[1,2]'),             # root type mismatch
    ]
    df = spark.createDataFrame(docs, ["id", "props"])

    def rows(engine):
        res = validate_json_column(df, "props", rules, key_cols=["id"], engine=engine)
        got = {r["id"]: r["_jsp_valid"] for r in res.annotated.collect()}
        v = sorted(
            (r["id"], r["path"], r["keyword"], r["message"])
            for r in res.violations().collect()
        )
        return got, v

    arrow = rows("arrow")
    auto = rows("auto")
    assert auto[0] == arrow[0] == {1: True, 2: False, 3: False, 4: True, 5: False,
                                   6: True, 7: False, 8: False, 9: False, 10: False}
    assert auto[1] == arrow[1]


def test_hybrid_explicit_null_matches_arrow(spark):
    """JSON null is NOT an absent property: the routed path must agree with
    the evaluator on explicit-null fields (review finding #1)."""
    from jsonschemaparse_spark.plans import validate_json_column

    rules = {"type": "object",
             "properties": {"k": {"type": "integer", "minimum": 0},
                            "a": {"type": "array", "items": {"type": "integer"}}}}
    df = spark.createDataFrame(
        [(1, '{"k": 1}'), (2, '{"k": null}'), (3, '{}'),
         (4, '{"a": [1, null]}'), (5, '{"a": null}')],
        ["id", "props"],
    )
    def verdicts(engine):
        res = validate_json_column(df, "props", rules, key_cols=["id"], engine=engine)
        return {r["id"]: r["_jsp_valid"] for r in res.annotated.collect()}
    arrow = verdicts("arrow")
    auto = verdicts("auto")
    assert arrow == auto == {1: True, 2: False, 3: True, 4: False, 5: False}


def test_route_gate_rejects_unsafe_shapes():
    from pyspark.sql import types as T
    from jsonschemaparse_spark.plans.json_validator import _typed_route_schema

    # integer hidden in a 6-type list is NOT unconstrained (finding #5)
    six = {"type": "object", "properties": {
        "a": {"type": ["integer", "string", "boolean", "null", "object", "array"]}}}
    assert _typed_route_schema(compile_rules(six)) is None
    # uniqueItems/contains over unconstrained (raw-text) items (finding #2)
    uniq = {"type": "object", "properties": {
        "a": {"type": "array", "items": {}, "uniqueItems": True}}}
    assert _typed_route_schema(compile_rules(uniq)) is None
    # nested objects need recursive null detection -> not routed (finding #1)
    nested = {"type": "object", "properties": {
        "o": {"type": "object", "properties": {"k": {"type": "integer"}}}}}
    assert _typed_route_schema(compile_rules(nested)) is None
    # flat numeric shape still routes
    ok = {"type": "object", "properties": {"k": {"type": "integer"}}}
    assert isinstance(_typed_route_schema(compile_rules(ok)), T.StructType)


# =========================================================================
# moved from test_round3_fixes.py (round-fix regression pins, split by
# topic per VERDICT r5 #8)
# =========================================================================
import pytest  # noqa: E402,F811,F401
from pyspark.sql import functions as F  # noqa: E402,F811,F401
import json  # noqa: E402,F811,F401
import random  # noqa: E402,F811,F401
from pyspark.sql import types as T  # noqa: E402,F811,F401
from jsonschemaparse_spark import compile_rules, validate_instance  # noqa: E402,F811,F401
from jsonschemaparse_spark.plans import VALID_COL, validate_dataframe  # noqa: E402,F811,F401
from jsonschemaparse_spark.plans import validate_json_column  # noqa: E402,F811,F401

def test_hybrid_required_unconstrained_explicit_null(spark):
    rules = {
        "type": "object",
        "properties": {"a": {}, "b": {"type": "integer"}},
        "required": ["a"],
    }
    df = spark.createDataFrame(
        [
            (1, '{"a": null, "b": 2}'),   # a present (null) -> required OK
            (2, '{"b": 2}'),               # a absent -> required fires
            (3, '{"a": 1, "b": 2}'),       # a present -> OK
            (4, '{"a": null, "b": "x"}'),  # a OK but b wrong type
        ],
        ["id", "props"],
    )

    def verdicts(engine):
        res = validate_json_column(df, "props", rules, key_cols=["id"], engine=engine)
        return {r["id"]: r[VALID_COL] for r in res.annotated.collect()}

    arrow = verdicts("arrow")
    auto = verdicts("auto")
    assert arrow == {1: True, 2: False, 3: True, 4: False}
    assert auto == arrow


def test_hybrid_required_unconstrained_differential_random(spark):
    """Randomized docs over the exact ADVICE shape: required keys with {}
    subschemas mixed with typed ones; every verdict must match arrow."""
    rules = {
        "type": "object",
        "properties": {"a": {}, "b": {"type": "integer"}, "c": {}},
        "required": ["a", "c"],
    }
    rnd = random.Random(20260816)
    docs = []
    for i in range(60):
        obj = {}
        for k in ("a", "b", "c"):
            r = rnd.random()
            if r < 0.3:
                continue
            obj[k] = rnd.choice([None, 1, "s", True, [1], {"x": 1}, 2.5])
        docs.append((i, json.dumps(obj)))
    df = spark.createDataFrame(docs, ["id", "props"])

    def verdicts(engine):
        res = validate_json_column(df, "props", rules, key_cols=["id"], engine=engine)
        return {r["id"]: r[VALID_COL] for r in res.annotated.collect()}

    assert verdicts("auto") == verdicts("arrow")


def test_engine_param_validated(spark):
    df = spark.createDataFrame([(1, "{}")], ["id", "props"])
    with pytest.raises(ValueError, match="engine"):
        validate_json_column(df, "props", {"type": "object"}, engine="hybrid")


def test_violation_cap_includes_fallback_rows(spark):
    """max_violations_per_row bounds the MERGED report, not just the
    expression-path rows: a per-column Arrow fallback cannot exceed the
    remaining budget, and overflow sets the truncation flag."""
    rules = {
        "properties": {
            # lookbehind is ECMAScript-divergent -> per-column Python fallback
            "s": {"type": "string", "pattern": "(?<=a)b", "minLength": 10,
                  "maxLength": 0, "enum": ["zzz"]},
            "n": {"type": "integer", "minimum": 100, "multipleOf": 7},
        }
    }
    df = spark.createDataFrame([(1, "b", 3)], ["id", "s", "n"])
    res = validate_dataframe(df, rules, key_cols=["id"], max_violations_per_row=2)
    row = res.annotated.collect()[0]
    n_compact = len(row["_jsp_violations"])
    n_py = len(row["_jsp_violations_py"])
    assert n_compact + n_py <= 2, (n_compact, n_py)
    assert row["_jsp_violations_truncated"] is True
    # and without a cap the same row reports more than 2 total
    res_full = validate_dataframe(df, rules, key_cols=["id"])
    assert len(res_full.violations().collect()) > 2


def test_hybrid_flagged_observation(spark):
    """VERDICT r2 stretch #9: the hybrid path observes how many rows were
    routed to the Python rescue UDF in the same action — zero extra jobs.
    jsp_flagged == 0 licenses engine='typed' on checkpoint/resume reruns."""
    from pyspark.sql import functions as F

    from jsonschemaparse_spark.plans import validate_json_column

    rules = {"type": "object",
             "properties": {"k": {"type": "integer", "minimum": 0}}}

    clean = spark.createDataFrame([(i, '{"k": %d}' % i) for i in range(10)],
                                  ["id", "props"])
    res = validate_json_column(clean, "props", rules, key_cols=["id"],
                               engine="auto")
    assert res.flagged_observation is not None
    assert res.annotated.filter(~F.col("_jsp_valid")).count() == 0
    m = res.flagged_observation.get
    assert m["jsp_flagged"] == 0 and m["jsp_rows"] == 10

    dirty = spark.createDataFrame(
        [(1, '{"k": 1}'), (2, "{not json"), (3, '{"k": -4}')], ["id", "props"])
    res2 = validate_json_column(dirty, "props", rules, key_cols=["id"],
                                engine="auto")
    got = {r["id"]: r["_jsp_valid"] for r in res2.annotated.collect()}
    assert got == {1: True, 2: False, 3: False}
    m2 = res2.flagged_observation.get
    assert m2["jsp_flagged"] == 1 and m2["jsp_rows"] == 3  # only the corrupt row

    # after evaluation(), the evaluation's first full action fills it
    # (the checkpoint call fills the one below it with zeros)
    res3 = validate_json_column(dirty, "props", rules, key_cols=["id"],
                                engine="auto")
    res3.evaluation()
    assert res3.summary()["n_failed_rows"] == 2
    m3 = res3.flagged_observation.get
    assert m3["jsp_flagged"] == 1 and m3["jsp_rows"] == 3


# =========================================================================
# moved from test_round4_fixes.py (round-fix regression pins, split by
# topic per VERDICT r5 #8)
# =========================================================================
import pytest  # noqa: E402,F811,F401
from pyspark.sql import functions as F  # noqa: E402,F811,F401

BIGNUM_MSG = "Number too precise"  # parse.js:1183 ResourceLimitError string


def test_bignumber_error_decimal_column(spark):
    from decimal import Decimal

    from jsonschemaparse_spark.plans import validate_dataframe

    df = spark.createDataFrame(
        [(1, Decimal("42")), (2, Decimal("12345678901234567890123")), (3, None)],
        "id long, n decimal(38,0)",
    )
    rules = {"properties": {"n": {"type": "number"}}}
    res = validate_dataframe(df, rules, key_cols=["id"], big_number="error")
    rows = res.violations().collect()
    assert [(r["id"], r["keyword"], r["message"]) for r in rows] == [
        (2, "bigNumber", BIGNUM_MSG)
    ]
    assert rows[0]["path"] == "/n"
    got = {r["id"]: r["_jsp_valid"] for r in res.annotated.collect()}
    assert got == {1: True, 2: False, 3: True}  # NULL stays vacuous


def test_bignumber_error_long_column_exact_roundtrip(spark):
    """Lossiness = exact binary64 round-trip (relaxed_json._is_lossy rule):
    2^53 is representable, 2^53+1 and Long.MaxValue are not."""
    from jsonschemaparse_spark.plans import validate_dataframe

    df = spark.createDataFrame(
        [(1, 1 << 53), (2, (1 << 53) + 1), (3, 9223372036854775807)],
        "id long, n long",
    )
    rules = {"properties": {"n": {"type": "integer"}}}
    res = validate_dataframe(df, rules, key_cols=["id"], big_number="error")
    flagged = sorted(r["id"] for r in res.violations().collect())
    assert flagged == [2, 3]


def test_bignumber_default_unchanged(spark):
    """Policy 'default' (and absent) leaves high-precision columns alone —
    the pre-r4 behavior, and the oracle-gated queries' configuration."""
    from decimal import Decimal

    from jsonschemaparse_spark.plans import validate_dataframe

    df = spark.createDataFrame(
        [(1, Decimal("12345678901234567890123"))], "id long, n decimal(38,0)"
    )
    rules = {"properties": {"n": {"type": "number"}}}
    assert validate_dataframe(df, rules, key_cols=["id"]).violations().count() == 0
    assert (
        validate_dataframe(df, rules, key_cols=["id"], big_number="default")
        .violations().count() == 0
    )


def test_bignumber_unknown_policy_rejected(spark):
    import pytest as _pytest

    from jsonschemaparse_spark.plans import validate_dataframe

    df = spark.createDataFrame([(1, 2)], "id long, n long")
    with _pytest.raises(ValueError, match="bigNumber"):
        validate_dataframe(df, {"properties": {"n": {}}}, key_cols=["id"],
                           big_number="bogus")


def test_bignumber_error_json_path_parity(spark):
    """The SAME lossy literal through validate_json_column(big_number=
    'error') produces the same keyword + message (the parse aborts at the
    number, so the row is document-scoped there — path '' vs the Column
    path's '/n')."""
    from jsonschemaparse_spark.plans import validate_json_column

    j = spark.createDataFrame(
        [(1, '{"n": 42}'), (2, '{"n": 12345678901234567890123}')],
        "id long, doc string",
    )
    rules = {"properties": {"n": {"type": "number"}}}
    res = validate_json_column(j, "doc", rules, key_cols=["id"], big_number="error")
    rows = res.violations().collect()
    assert [(r["id"], r["keyword"], r["message"], r["path"]) for r in rows] == [
        (2, "bigNumber", BIGNUM_MSG, "")
    ]


def test_bignumber_error_differential_vs_node():
    """Executed-reference differential for the bigNumber 'error' policy:
    each literal through node StreamParser({bigNumber:'error'}) vs
    api.parse_info(big_number='error').

    Known divergence class (documented, not copied): the reference's
    plain-integer digit count does `buf.indexOf('.') ? 1 : 0` — indexOf
    returns -1 (truthy) when there is NO decimal point, so every integer
    gets one free digit and 16-digit lossy integers (e.g. 2^53+1) slip
    through (parse.js:1174-1176). Our rule is the exact binary64
    round-trip, so we flag them. Second divergence class, found by
    EXECUTING the reference: exponent-form literals crash it with a
    TypeError under any non-default bigNumber policy — parse.js:1146 does
    `value.split(/e\\+?/i)` on `value`, which was already JSON.parsed to a
    NUMBER two lines earlier (the intended receiver is `buf`). We
    implement the intended semantics (exponent > 307 or precision >= 16
    flags). The assertion: whenever the reference flags, we flag too;
    where the heuristics agree the verdicts match; crash-class literals
    get pinned intended-semantics verdicts."""
    import json
    import shutil
    import subprocess
    from pathlib import Path

    if shutil.which("node") is None or not Path("/root/reference").exists():
        pytest.skip("node or reference unavailable")

    literals = [
        "42", "-7", "0", "3.25", "-0.5",
        "9007199254740992",          # 2^53: exactly representable
        "9007199254740993",          # 2^53+1: lossy, 16 digits (quirk class)
        "12345678901234567890123",   # 23 digits: both flag
        "1.2345678901234567890123",  # long fraction: both flag
        "0.1", "0.5",
        "123456789.123456789",       # 18 digits: both flag
        "99999999999999999999",      # 20 digits: both flag
        # exponent forms: reference crash class (TypeError, parse.js:1146)
        "1e3", "2.5e-3", "1e400",
    ]
    crash_class = {"1e3", "2.5e-3", "1e400"}
    intended = {"1e3": False, "2.5e-3": False, "1e400": True}
    driver = (
        "const lib = require('/root/reference/index.js');\n"
        "const lits = JSON.parse(process.argv[1]);\n"
        "const out = [];\n"
        "for (const t of lits) {\n"
        "  try {\n"
        "    const p = new lib.StreamParser({schema: new lib.Schema('http://x/',"
        " {type:['number','integer']}), parseValue:true, bigNumber:'error'});\n"
        "    p.parse(t);\n"
        "    out.push(false);\n"
        "  } catch (e) {\n"
        "    if (e.constructor.name === 'ResourceLimitError') out.push(true);\n"
        "    else if (e.constructor.name === 'TypeError') out.push('crash');\n"
        "    else throw e;\n"
        "  }\n"
        "}\n"
        "console.log(JSON.stringify(out));\n"
    )
    ref_flags = json.loads(subprocess.run(
        ["node", "-e", driver, json.dumps(literals)],
        capture_output=True, text=True, check=True,
    ).stdout)

    from jsonschemaparse_spark.api import parse_info

    for lit, ref_flagged in zip(literals, ref_flags):
        info = parse_info(lit, {"type": ["number", "integer"]}, big_number="error")
        ours = any(e.keyword == "bigNumber" for e in info.errors)
        if lit in crash_class:
            assert ref_flagged == "crash", f"reference no longer crashes on {lit!r}"
            assert ours == intended[lit], f"intended-semantics verdict on {lit!r}"
        elif ref_flagged is True:
            assert ours, f"reference flags {lit!r}, we do not"
        elif lit == "9007199254740993":
            assert ours, "the quirk-class literal must still be flagged by our exact rule"
        else:
            assert ours == ref_flagged, f"verdict mismatch on {lit!r}"


def test_bignumber_exact_representable_longs_not_flagged(spark):
    """r4 review finding #2: 2^60 is exactly binary64-representable (and
    _is_lossy agrees) — the earlier double->decimal comparison was
    string-rounded by Spark and false-flagged it. Long.MaxValue and the
    non-representable top-edge interval still flag."""
    from jsonschemaparse_spark.plans import validate_dataframe

    rules = {"properties": {"n": {"type": "integer"}}}
    df = spark.createDataFrame(
        [(1, 1 << 60),                    # representable: 2^60
         (2, (1 << 60) + 1),              # lossy: needs 61 bits
         (3, 9223372036854774784),        # representable: 2^63 - 1024
         (4, 9223372036854775807),        # lossy: Long.MaxValue (top edge)
         (5, 9223372036854775295),        # lossy: inside (2^63-1024, 2^63)
         (6, -(1 << 61))],                # representable: -2^61
        "id long, n long",
    )
    res = validate_dataframe(df, rules, key_cols=["id"], big_number="error")
    flagged = sorted(r["id"] for r in res.violations().collect())
    assert flagged == [2, 4, 5]
    # cross-path agreement with the exact Python rule
    from jsonschemaparse_spark.schema.relaxed_json import _is_lossy

    for rid, v in [(1, 1 << 60), (2, (1 << 60) + 1), (3, 9223372036854774784),
                   (4, 9223372036854775807), (5, 9223372036854775295),
                   (6, -(1 << 61))]:
        assert _is_lossy(str(v)) == (rid in (2, 4, 5)), v


def test_bignumber_decimal_routes_to_exact_fallback(spark):
    """DecimalType under big_number='error' goes through the Arrow
    fallback (no exact in-codegen test exists — Spark double casts are
    string-rounded): 2^60 as a decimal must NOT be flagged, a 23-digit
    value must."""
    from decimal import Decimal

    from pyspark.sql import functions as F  # noqa: F811

    from jsonschemaparse_spark.plans import validate_dataframe

    rules = {"properties": {"n": {"type": "number"}}}
    df = spark.createDataFrame(
        [(1, Decimal(1 << 60)), (2, Decimal("12345678901234567890123")), (3, None)],
        "id long, n decimal(38,0)",
    )
    res = validate_dataframe(df, rules, key_cols=["id"], big_number="error")
    rows = res.violations().collect()
    assert [(r["id"], r["keyword"], r["message"]) for r in rows] == [
        (2, "bigNumber", BIGNUM_MSG)
    ]
    got = {r["id"]: r["_jsp_valid"] for r in res.annotated.collect()}
    assert got == {1: True, 2: False, 3: True}

