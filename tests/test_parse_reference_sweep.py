"""Line-by-line sweep of /root/reference/test/parse.test.js (260 lines) and
parseInfo.test.js (117 lines) — VERDICT r4 #6. One pinned case per upstream
assertion, or a documented N/A. Ambiguous semantics were pinned by EXECUTING
the reference under node (r5 probes): lineNumber/characters conventions,
resource-limit messages ('String too long' covers over-length KEYS too,
'Too many items in array', 'Too many properties in object'), and the
ResourceLimitError type for every bigNumber/cap throw.

Deliberate divergences (documented in api.py, re-asserted here):
- bare rule dicts are accepted as schemas (the reference demands a Schema
  instance and errors with 'Use the "schema" option'); the options-dict
  form is supported for drop-in parity, so nothing is lost;
- maxNumberLength emits 'Number too long (maxNumberLength)' — upstream
  emits 'String too long' via a shared code path and its own test TODO
  (parse.test.js:192-206) says it should be 'Number too long'; both match
  the upstream /too long/ assertion.
"""

import math

import pytest

from jsonschemaparse_spark.api import (
    ParseSyntaxError,
    ParseValidationError,
    StreamParser,
    parse,
    parse_info,
)
from jsonschemaparse_spark.errors import ResourceLimitError
from jsonschemaparse_spark.schema.compiler import SchemaError


# ---------------------------------------------------------------------------
# parse(text) — parse.test.js:6-50
# ---------------------------------------------------------------------------
def test_parse_literals():  # parse.test.js:7-15
    assert parse("true") is True
    assert parse("false") is False
    assert parse("null") is None


def test_parse_numbers():  # parse.test.js:17-40
    for text, want in [
        ("0", 0), ("0E-0", 0), ("0E0", 0), ("0E+0", 0), ("0e-0", 0),
        ("0e0", 0), ("0e+0", 0), ("1.5e0", 1.5), ("0.000000", 0),
        ("10000000", 10000000), ("1000.000", 1000),
    ]:
        assert parse(text) == want
        assert parse("-" + text) == -want
    # the reference's strictEqual(-0) sign: float forms keep the sign bit
    assert math.copysign(1, parse("-0.0")) == -1.0
    assert math.copysign(1, parse("-0e0")) == -1.0
    # integer '-0' is exact int 0 in our value model (ints stay Python
    # ints — documented as strictly more precise than JSON.parse)
    assert parse("-0") == 0


def test_parse_escape_characters():  # parse.test.js:42-45
    assert parse('"\\"\\\\\\/\\b\\f\\t\\r\\n"') == "\"\\/\b\f\t\r\n"


def test_parse_invalid():  # parse.test.js:46-49
    with pytest.raises(ParseSyntaxError):
        parse("tru")


# parse(text, reviver) — parse.test.js:52-54 is an UNIMPLEMENTED upstream
# stub ("it('parse valid')" with no body); our reviver support is pinned
# in test_api_skew (callable-in-schema-position + options form).


# ---------------------------------------------------------------------------
# parse(text, schema) — parse.test.js:56-81
# ---------------------------------------------------------------------------
SCHEMA_STRING = {"type": "string"}


def test_parse_schema_valid():  # parse.test.js:58-61
    assert parse('""', SCHEMA_STRING) == ""


def test_parse_schema_well_formed_invalid():  # parse.test.js:62-69
    with pytest.raises(ParseValidationError, match="xpected"):
        parse("[]", SCHEMA_STRING)


def test_parse_schema_non_well_formed():  # parse.test.js:70-80
    with pytest.raises(ParseSyntaxError, match="xpected") as ei:
        parse("[", SCHEMA_STRING)
    # err.position.line === 0, err.position.column === 1 (0-based,
    # reference convention)
    assert ei.value.position == {"line": 0, "column": 1}


# ---------------------------------------------------------------------------
# parse(text, options) — parse.test.js:83-161
# ---------------------------------------------------------------------------
def test_parse_options_schema_forms():  # parse.test.js:84-110
    assert parse('""', {"schema": SCHEMA_STRING}) == ""
    with pytest.raises(ParseValidationError):
        parse("{}", {"schema": SCHEMA_STRING})
    # {schema: obj} accepts a bare rule dict (vs the reference's Schema
    # instance requirement — compile_rules handles both)
    assert parse('""', {"schema": {"type": "string"}}) == ""
    with pytest.raises(ParseValidationError):
        parse("{}", {"schema": {"type": "string"}})


def test_parse_options_invalid():  # parse.test.js:111-116
    # the reference throws on parse(text, {type:'string'}) because a dict
    # without option keys is an INVALID options object; ours treats it as
    # a bare schema (documented divergence) — the call still throws, as a
    # validation error
    with pytest.raises(ParseValidationError):
        parse("{}", {"type": "string"})


def test_parse_charset_ascii_native_string():  # parse.test.js:118-121
    # a native string is already decoded: charset gate does not apply
    assert parse('"\U0001F432"', {"charset": "ASCII"}) == "\U0001F432"


def test_parse_charset_ascii_ascii_input():  # parse.test.js:122-127
    text = '"\\uD83D\\uDC32"'.encode("utf-8")
    assert parse(text, {"charset": "ASCII"}) == "\U0001F432"


def test_parse_charset_ascii_utf8_input():  # parse.test.js:128-134
    with pytest.raises(ParseSyntaxError):
        parse('"\U0001F432"'.encode("utf-8"), {"charset": "ASCII"})


def test_parse_charset_utf8_utf8_input():  # parse.test.js:135-140
    assert parse('"\U0001F432"'.encode("utf-8"), {"charset": "UTF-8"}) \
        == "\U0001F432"


def test_parse_charset_utf8_invalid_bytes():  # parse.test.js:141-148
    with pytest.raises(ParseSyntaxError):
        parse(bytes([0x22, 0xB2, 0x90, 0x9F, 0xF0, 0x22]), {"charset": "UTF-8"})


def test_parse_charset_utf8_string_input():  # parse.test.js:149-154
    assert parse('"\U0001F432"', {"charset": "UTF-8"}) == "\U0001F432"


def test_parse_charset_utf8_invalid_string():  # parse.test.js:155-160
    with pytest.raises(ParseSyntaxError):
        parse('"\U0001F432', {"charset": "UTF-8"})


# ---------------------------------------------------------------------------
# parse options: resource caps — parse.test.js:163-232
# ---------------------------------------------------------------------------
def test_parse_max_key_length():  # parse.test.js:164-176
    opts = {"maxKeyLength": 4, "maxStringLength": 1000}
    assert parse('{"0123": true}', opts) == {"0123": True}
    # node-pinned: an over-length KEY reports 'String too long'
    with pytest.raises(ResourceLimitError, match="String too long"):
        parse('{"01234": true}', opts)


def test_parse_max_string_length():  # parse.test.js:177-189
    opts = {"maxKeyLength": 1000, "maxStringLength": 5}
    assert parse('{"key": "short"}', opts) == {"key": "short"}
    with pytest.raises(ResourceLimitError, match="String too long"):
        parse('{"key": "long45"}', opts)


def test_parse_max_number_length():  # parse.test.js:190-206
    opts = {"maxKeyLength": 1000, "maxStringLength": 1000,
            "maxNumberLength": 10}
    # upstream asserts ResourceLimitError + /too long/
    with pytest.raises(ResourceLimitError, match="too long"):
        parse('{"key": 123456781234.0123}', opts)


def test_parse_max_items():  # parse.test.js:207-219
    opts = {"maxItems": 4}
    assert parse('{ "a": [0, 1, 2, 3] }', opts) == {"a": [0, 1, 2, 3]}
    with pytest.raises(ResourceLimitError, match="Too many items in array"):
        parse('{ "a": [0, 1, 2, 3, 4] }', opts)


def test_parse_max_properties():  # parse.test.js:220-232
    opts = {"maxProperties": 2}
    assert parse('[ { "a":1 } ]', opts) == [{"a": 1}]
    with pytest.raises(ResourceLimitError,
                       match="Too many properties in object"):
        parse('[ { "a":1, "b":2, "c":3 } ]', opts)


# parse({maxUniqueItems}) — parse.test.js:233 is an unimplemented upstream
# stub (no body, and the option is absent from parse.js); N/A.
# parse({interoperable}) — parse.test.js:234 is an upstream stub; our
# interoperable surface is pinned in test_relaxed_json/test_positions.


def test_parse_bignumber_json():  # parse.test.js:235-243
    text = "123456789012345678"
    assert parse(text, {"bigNumber": "json"}) == text


def test_parse_bignumber_error():  # parse.test.js:244-256
    with pytest.raises(ResourceLimitError, match="Number too precise"):
        parse("123456789012345678", {"bigNumber": "error"})


# parse({bigNumber:function}) / parse({bigNumber:fraction}) /
# parse({niceNumber}) — parse.test.js:257-259 are upstream stubs; our
# fraction/properfraction/niceNumber policies are pinned in
# test_relaxed_json + test_positions (StreamParser options).


# ---------------------------------------------------------------------------
# parseInfo(text) — parseInfo.test.js:6-24
# ---------------------------------------------------------------------------
def test_parseinfo_basic_fields():  # parseInfo.test.js:7-12
    ret = parse_info('"string"')
    assert ret.value == "string"
    assert ret.lineNumber == 0
    assert ret.characters == 8


def test_parseinfo_field_conventions_node_pinned():
    # r5 node probes: characters counts UTF-16 units incl. trailing
    # whitespace; line_number counts consumed newlines
    assert (parse_info("[1,\n 2,\n 3]").line_number,
            parse_info("[1,\n 2,\n 3]").characters) == (2, 11)
    assert parse_info('"\U0001F432"').characters == 4
    assert (parse_info("  true  ").line_number,
            parse_info("  true  ").characters) == (0, 8)
    assert (parse_info('{"a": 1}\n').line_number,
            parse_info('{"a": 1}\n').characters) == (1, 9)


def test_parseinfo_parse_value_toggle():  # parseInfo.test.js:15-23
    assert parse_info('"string"', {"parseValue": False}).value is None
    assert parse_info('"string"', {"parseValue": True}).value == "string"


# ---------------------------------------------------------------------------
# parseInfo(text, schema) — parseInfo.test.js:26-61
# ---------------------------------------------------------------------------
def test_parseinfo_schema_valid():  # parseInfo.test.js:28-32
    res = parse_info('""', SCHEMA_STRING)
    assert res.value == "" and len(res.errors) == 0


def test_parseinfo_schema_well_formed_invalid():  # parseInfo.test.js:33-37
    res = parse_info("true", SCHEMA_STRING)
    assert res.value is True and len(res.errors) == 1


def test_parseinfo_schema_non_well_formed():  # parseInfo.test.js:38-46
    with pytest.raises(ParseSyntaxError, match="Unexpected end of document"):
        parse_info('"', SCHEMA_STRING)


def test_parseinfo_bare_dict_divergence():  # parseInfo.test.js:47-60
    # the reference rejects bare dicts ('Use the "schema" option...');
    # ours accepts them as schemas — the documented convenience divergence.
    # Both upstream probes therefore VALIDATE here instead of raising:
    res = parse_info("true", {"type": "string"})
    assert len(res.errors) == 1
    # minLength is vacuous on booleans and $id is an identifier: passes
    res = parse_info("true", {"$id": "http://example.com/x", "minLength": 0})
    assert res.errors == []


# ---------------------------------------------------------------------------
# parseInfo(text, {parseAnnotations}) — parseInfo.test.js:63-79
# ---------------------------------------------------------------------------
def test_parseinfo_annotations_toggle():
    schema = {"type": "string", "title": "Label"}
    off = parse_info('"string"', {"parseAnnotations": False, "schema": schema})
    assert off.errors == [] and off.annotations == []
    on = parse_info('"string"', {"parseAnnotations": True, "schema": schema})
    assert on.errors == []
    assert len(on.annotations) == 1
    assert on.annotations[0].keyword == "title"
    assert on.annotations[0].value == "Label"


# ---------------------------------------------------------------------------
# parseInfo(text, {schema}) — parseInfo.test.js:81-112
# ---------------------------------------------------------------------------
ARRAY_SCHEMA = {
    "type": "array",
    "items": {"type": "object", "properties": {"_id": {"type": "string"}}},
}


@pytest.mark.parametrize("surface", [
    lambda opts: parse_info('[ { "_id": "1" } ]', opts),
    StreamParser,
], ids=["parse_info", "StreamParser"])
def test_parseinfo_schema_must_be_schema(surface):  # parseInfo.test.js:92-99
    with pytest.raises(SchemaError, match="schema must be instance of Schema"):
        surface({"schema": []})


def test_parseinfo_schema_pass_fail():  # parseInfo.test.js:100-111
    ok = parse_info('[ { "_id": "1" } ]',
                    {"parseAnnotations": True, "schema": ARRAY_SCHEMA})
    assert len(ok.errors) == 0
    bad = parse_info('[ { "_id": 1 } ]',
                     {"parseAnnotations": True, "schema": ARRAY_SCHEMA})
    assert len(bad.errors) == 1


# parseInfo(text, {parseInfo}) — parseInfo.test.js:114-117 are upstream
# stubs (no bodies); the parseInfo-tree surface (instance_info/links) is
# pinned in test_api_skew.


# ---------------------------------------------------------------------------
# parse() force-overrides parse* options — lib/parse.js:85-90 Object.assigns
# {parseValue: true, parseAnnotations: false, parseInfo: false} OVER the
# caller's options, so parse(text, {parseValue: false}) still returns the
# value (node-verified, r5 ADVICE; parseInfo honors the caller's flags).
# ---------------------------------------------------------------------------
def test_parse_overrides_parse_value_option():
    assert parse('{"a": 1}', {"parseValue": False}) == {"a": 1}
    assert parse("[1, 2]", {"parseValue": False, "parseAnnotations": True}) == [1, 2]
    # parseInfo keeps honoring the caller's parseValue (parseInfo.test.js)
    assert parse_info('{"a": 1}', {"parseValue": False}).value is None


# =========================================================================
# moved from test_round5_fixes.py (round-fix regression pins, split by
# topic per VERDICT r5 #8)
# =========================================================================
import pytest  # noqa: E402,F811,F401
from pyspark.sql import functions as F  # noqa: E402,F811,F401

def test_options_routing_not_greedy_on_schema_keywords():
    """maxItems/maxProperties are real JSON-Schema keywords: a compound
    rule dict keeps full validation; an options-only dict still routes as
    the reference options form (review #1)."""
    from jsonschemaparse_spark.api import parse, parse_info
    from jsonschemaparse_spark.errors import ResourceLimitError

    r = parse_info('[1, "x", 2]',
                   {"type": "array", "items": {"type": "integer"},
                    "maxItems": 5})
    assert [e.keyword for e in r.errors] == ["type"]
    with pytest.raises(ResourceLimitError, match="Too many items in array"):
        parse('{ "a": [0,1,2,3,4] }', {"maxItems": 4})


def test_stream_parser_options_routing_matches_parse():
    """Schema-less option dicts mean the same thing on both drop-in
    surfaces (review #3); StreamParser's never-throws contract surfaces
    the cap as a resourceLimit row."""
    from jsonschemaparse_spark.api import StreamParser

    sp = StreamParser({"maxItems": 2})
    sp.write("[1,2,3]")
    info = sp.end()
    assert [e.keyword for e in info.errors] == ["resourceLimit"]
    assert "Too many items in array" in info.errors[0].message


def test_nice_number_routed_through_options():
    from jsonschemaparse_spark.api import parse, parse_info

    assert parse("1.5", {"niceNumber": "string"}) == "1.5"
    assert parse_info("1.5", {"niceNumber": "string"}).value == "1.5"
    # upstream stubs accepted and ignored
    assert parse("[1]", {"maxUniqueItems": 1}) == [1]


def test_explicit_schema_of_ambiguous_keys_not_resplit():
    """{'schema': {'maxItems': 3}} — an EXPLICIT schema made only of
    ambiguous keys — must stay a schema on BOTH parse and parse_info
    (second review #1: parse() used to re-route it as caps)."""
    from jsonschemaparse_spark.api import (
        ParseValidationError,
        parse,
        parse_info,
    )

    assert parse_info('{"a": [1,2,3,4]}', {"schema": {"maxItems": 3}}).errors == []
    assert parse('{"a": [1,2,3,4]}', {"schema": {"maxItems": 3}}) == {"a": [1, 2, 3, 4]}
    with pytest.raises(ParseValidationError) as ei:
        parse("[1,2,3,4]", {"schema": {"maxItems": 3}})
    assert ei.value.keyword == "maxItems"

