"""Reference-parity convenience API (mirrors index.js exports).

The reference exports parse / parseInfo / StreamParser / Schema /
SchemaRegistry (/root/reference/index.js:1-10). Driver-side equivalents:

- parse(text, schema)      strict one-shot: raises the FIRST error
                           (parse.js:76-97 throw-on-first semantics)
- parse_info(text, opts)   reporting one-shot: returns value + errors +
                           annotations, never raises on *validation* errors
                           (parse.js:99-117; test/parseInfo.test.js:33-46)
- compile_rules            ≈ new Schema(...)
- SchemaRegistry           ≈ SchemaRegistry

Table-scope equivalents live in plans/ (validate_dataframe) and
streaming/ (validate_stream) — those are the engine's real surface; this
module exists so single-document semantics are directly testable against
the reference's unit tests.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any, Optional

from .errors import AnnotationRecord, ValidationRecord
from .schema.compiler import CompiledSchema, SchemaRegistry, compile_rules
from .schema.evaluate import Evaluator


class ParseValidationError(ValueError):
    """Raised by strict parse() for the first violation; carries the
    reference ValidationError fields (error.js:21-32)."""

    def __init__(self, record: ValidationRecord):
        super().__init__(record.message)
        self.record = record
        self.keyword = record.keyword
        self.path = record.path
        self.expected = record.expected
        self.actual = record.actual


class ParseSyntaxError(ValueError):
    """Malformed JSON input (reference SyntaxError, error.js:1-10).

    `position` — when available — is {'line', 'column'} in the reference's
    convention (err.position, test/SyntaxError.test.js:12-15): 0-based
    line, column anchored on the offending character. None when the error
    came from a layer with no position tracking (UTF-8 decode, relaxed
    dialects)."""

    def __init__(self, message: str, position: "dict | None" = None):
        super().__init__(message)
        self.position = position


def _charset_gate(data: "bytes | bytearray", charset: "str | None") -> None:
    """Byte-input charset gate (parse.js parseBlock, messages pinned by
    execution). Native strings are already decoded — callers only gate
    bytes. Shared by parse_info and StreamParser (review #10)."""
    if charset is None:
        return
    if charset == "string":
        raise ParseSyntaxError("Expected arguments[0] `block` to be a string")
    if charset == "ASCII":
        if any(b >= 0x80 for b in bytes(data)):
            raise ParseSyntaxError("Unexpected high-byte character")
    elif charset != "UTF-8":
        raise ParseSyntaxError('Unknown `charset`, expected "ASCII" or "UTF-8"')


def _positioned_syntax_error(text: str, original: Exception) -> ParseSyntaxError:
    """Re-parse a known-bad document with the incremental FSM to recover
    the reference-convention (line, column) — error-path only, so the
    strict fast path (json.loads C scanner) stays untaxed. If the two
    parsers disagree on acceptance, keep the ORIGINAL scanner's message
    (position-less) rather than a generic one — the disagreement case is
    exactly where the descriptive message matters (r4 review #6)."""
    from .schema.incremental import IncrementalJSONParser, IncrementalSyntaxError

    p = IncrementalJSONParser()
    try:
        p.write(text)
        p.end()
    except IncrementalSyntaxError as ie:
        return ParseSyntaxError(str(ie), position=ie.position)
    return ParseSyntaxError(str(original))


def _position_map(text: str) -> dict:
    """path -> {'line','column'} for every value in `text` (incremental
    parser anchor map; see IncrementalJSONParser.positions)."""
    from .schema.incremental import IncrementalJSONParser

    p = IncrementalJSONParser(track_positions=True)
    p.write(text)
    p.end()
    return {
        k: {"line": line, "column": col} for k, (line, col) in p.positions.items()
    }


def _attach_from_map(pos: dict, errors, anns):
    """Rebuild records with .position looked up by path (frozen
    dataclasses). Unknown paths (reference_quirks item-0 drops, limit
    rows above containers) keep position=None."""
    from dataclasses import replace

    return (
        [replace(e, position=pos.get(e.path)) for e in errors],
        [replace(a, position=pos.get(a.path)) for a in anns],
    )


def _attach_positions(text: str, errors, anns):
    try:
        pos = _position_map(text)
    except ValueError:
        return errors, anns  # value came from a path the FSM rejects
    return _attach_from_map(pos, errors, anns)


@dataclass
class ParseInfo:
    value: Any
    errors: list[ValidationRecord] = field(default_factory=list)
    annotations: list[AnnotationRecord] = field(default_factory=list)
    # parseInfo.test.js:10-11 surface: characters = UTF-16 length of the
    # parsed text (astral chars count 2), line_number = 0-based final line
    # = '\n's consumed, trailing whitespace included (node-pinned r5)
    line_number: int = 0
    characters: int = 0

    @property
    def valid(self) -> bool:
        return not self.errors

    @property
    def lineNumber(self) -> int:  # noqa: N802 - reference drop-in alias
        return self.line_number


def _as_schema(schema) -> Optional[CompiledSchema]:
    if schema is None:
        return None
    if isinstance(schema, CompiledSchema):
        return schema
    return compile_rules(schema)


def _apply_reviver(value: Any, reviver) -> Any:
    """ECMAScript JSON.parse reviver semantics: bottom-up, key+value,
    returning undefined (None here means delete per JS; we treat None
    return as the new value since Python lacks undefined) — reference
    accepts a function in place of the schema (parse.js:77-81)."""

    def walk(holder, key):
        val = holder[key]
        if isinstance(val, dict):
            for k in list(val):
                val[k] = walk(val, k)
        elif isinstance(val, list):
            for i in range(len(val)):
                val[i] = walk(val, i)
        return reviver(key, val)

    root = {"": value}
    return walk(root, "")


# Keys that mark a dict as the reference's OPTIONS form. The UNAMBIGUOUS
# set contains no JSON-Schema keyword; maxItems/maxProperties ARE schema
# keywords (r5 review #1), so they only flip a dict into options when the
# dict contains nothing BUT option keys (the upstream parse(text,
# {maxItems:4}) shape) — a compound rule dict like {'type': 'array',
# 'maxItems': 5} stays a schema with full validation.
_UNAMBIGUOUS_OPTION_KEYS = frozenset((
    "schema", "reviver", "charset", "bigNumber", "niceNumber",
    "interoperable", "parseValue", "parseAnnotations", "parseInfo",
    "maxStringLength", "maxKeyLength", "maxNumberLength", "maxUniqueItems",
))
_AMBIGUOUS_OPTION_KEYS = frozenset(("maxItems", "maxProperties"))
_OPTION_KEYS = _UNAMBIGUOUS_OPTION_KEYS | _AMBIGUOUS_OPTION_KEYS


def _is_options_dict(schema) -> bool:
    if not isinstance(schema, dict) or not schema:
        return False
    keys = set(schema)
    if keys & _UNAMBIGUOUS_OPTION_KEYS:
        return True
    return keys <= _OPTION_KEYS


def _split_options(schema):
    """Reference options-dict form (parse.js:77-97; test/parse.test.js
    'parse(text, options)'): a dict containing a 'schema' key — or any
    other reference option key (r5: {parseValue: false} has no schema,
    parseInfo.test.js:17) — is an options object, not a schema. Returns
    (schema, option-kwargs for parse_info, reviver). Bare rule dicts stay
    schemas — a deliberate convenience divergence (the reference rejects
    them with 'Use the "schema" option'); the options form is supported
    for drop-in parity."""
    if not _is_options_dict(schema):
        return schema, {}, None
    opts = schema
    kw = {}
    if "bigNumber" in opts:
        kw["big_number"] = opts["bigNumber"]
    if "interoperable" in opts:
        kw["interoperable"] = bool(opts["interoperable"])
    if "maxNumberLength" in opts:
        kw["max_number_length"] = opts["maxNumberLength"]
    if "charset" in opts:
        kw["charset"] = opts["charset"]
    if "schema" in opts and opts["schema"] is not None and not isinstance(
            opts["schema"], (dict, bool, CompiledSchema)):
        # reference message for a non-schema options value, e.g.
        # {schema: []} (parseInfo.test.js:92-99)
        from .schema.compiler import SchemaError

        raise SchemaError("schema must be instance of Schema")
    if "parseValue" in opts:
        kw["parse_value"] = bool(opts["parseValue"])
    if "parseAnnotations" in opts:
        kw["annotations"] = bool(opts["parseAnnotations"])
    if "niceNumber" in opts:
        kw["nice_number"] = opts["niceNumber"]
    # 'parseInfo' and 'maxUniqueItems' are accepted and IGNORED on
    # purpose: both are documented-but-unimplemented upstream stubs
    # (parse.test.js:233, parseInfo.test.js:114-117; parse.js has no code
    # for either) — matching the reference means taking no action.
    caps = {"maxStringLength": "max_string_length", "maxKeyLength": "max_key_length",
            "maxItems": "max_items", "maxProperties": "max_properties"}
    if any(c in opts for c in caps):
        # the reference's parser resource caps (parse.js:146-150) map onto
        # ResourceLimits (r4 review: these were silently dropped)
        from .schema.evaluate import ResourceLimits

        kw["limits"] = ResourceLimits(
            **{py: opts[js] for js, py in caps.items() if js in opts})
    return opts.get("schema"), kw, opts.get("reviver")


def parse(text: str | bytes, schema=None, extensions: bool = False, limits=None) -> Any:
    """Strict one-shot parse+validate: returns the native value or raises
    the first error (ValidationError analog) / ParseSyntaxError /
    ResourceLimitError (parse.js resource caps).

    Like the reference (parse.js:77-81), a CALLABLE in the schema position
    is a JSON.parse-style reviver, not a schema; a dict containing a
    'schema' key is the reference's options form."""
    from .errors import ResourceLimitError

    reviver = None
    if callable(schema) and not isinstance(schema, (dict, bool)):
        reviver = schema
        schema = None
    schema, opt_kw, opt_reviver = _split_options(schema)
    reviver = reviver or opt_reviver
    limits = opt_kw.pop("limits", limits)
    # The reference's parse() force-overrides the three parse* options
    # AFTER copying the caller's (lib/parse.js:85-90: Object.assign({},
    # options, {parseValue: true, parseAnnotations: false, parseInfo:
    # false})) — so parse(text, {parseValue: false}) still returns the
    # value (node-verified, r5 ADVICE). Mirror that here.
    opt_kw["parse_value"] = True
    opt_kw["annotations"] = False
    # compile the unwrapped schema HERE so parse_info cannot re-run the
    # options detection on it (r5 second review #1: {'schema':
    # {'maxItems': 3}} — an EXPLICIT schema made only of ambiguous keys —
    # was re-routed as resource-limit options on the inner call)
    if schema is not None:
        schema = _as_schema(schema)
    info = parse_info(text, schema, extensions=extensions, limits=limits, **opt_kw)
    for e in info.errors:
        # bigNumber policy errors are ResourceLimitError throws in the
        # reference too (node-pinned r5: parse({bigNumber:'error'}) and
        # parse({maxNumberLength}) both raise ResourceLimitError)
        if e.keyword in ("resourceLimit", "bigNumber"):
            raise ResourceLimitError(e.message)
    if info.errors:
        raise ParseValidationError(info.errors[0])
    if reviver is not None:
        return _apply_reviver(info.value, reviver)
    return info.value


def parse_info(text: str | bytes, schema=None, annotations: bool = True,
               extensions: bool = False, limits=None, syntax=None,
               big_number: str = "default", interoperable: bool = False,
               max_number_length=None, reference_quirks: bool = False,
               charset: "str | None" = None,
               parse_value: bool = True,
               nice_number: str = "default") -> ParseInfo:
    """Reporting one-shot: syntax errors raise; validation errors are
    RETURNED, matching parseInfo (test/parseInfo.test.js:33-46).

    syntax/big_number/interoperable/max_number_length mirror the
    reference's StreamParser options (README.md:100-137) via
    schema/relaxed_json.py. reference_quirks=True reproduces the
    reference's report BUG-FOR-BUG (item-0 path drop, finish-cascade
    duplication — Evaluator docstring); annotations are then empty, and
    positions on quirk-mode rows are BEST-EFFORT (the dropped item-0 path
    segment makes some rows alias a shallower map entry — combine
    positions with the default report shape when you need both exact).

    An options dict in the schema position (the reference's options form)
    is translated by _split_options; its keys override the keywords."""
    schema, opt_kw, reviver = _split_options(schema)
    kw = dict(annotations=annotations, extensions=extensions, limits=limits,
              syntax=syntax, big_number=big_number,
              interoperable=interoperable, max_number_length=max_number_length,
              reference_quirks=reference_quirks, charset=charset,
              parse_value=parse_value, nice_number=nice_number)
    return _parse_info(text, schema, reviver, **(kw | opt_kw))


def _parse_info(text, schema, reviver, *, annotations, extensions, limits,
                syntax, big_number, interoperable, max_number_length,
                reference_quirks, charset, parse_value,
                nice_number) -> ParseInfo:
    if isinstance(text, (bytes, bytearray)):
        _charset_gate(text, charset)
        try:
            text = bytes(text).decode("utf-8", errors="strict")
        except UnicodeDecodeError as e:
            raise ParseSyntaxError(f"Invalid UTF-8: {e}") from e
    from .errors import ValidationRecord as _VR
    from .schema.incremental import _u16len
    from .schema.relaxed_json import BigNumberError, loads_relaxed
    from .schema.strict_json import loads_strict

    # parseInfo.test.js:10-11 (node-pinned r5): characters counts UTF-16
    # units of the full parsed text, line_number counts consumed newlines
    n_chars = _u16len(text)
    n_lines = text.count("\n")

    try:
        if (syntax is not None or big_number != "default" or interoperable
                or max_number_length or nice_number != "default"):
            value = loads_relaxed(text, syntax=syntax, big_number=big_number,
                                  max_number_length=max_number_length,
                                  interoperable=interoperable,
                                  nice_number=nice_number)
        else:
            value = loads_strict(text)
    except BigNumberError as e:
        # bigNumber 'error' policy: a VALIDATION error, not a syntax error
        # (README.md:130 'error: Treat as a validation error')
        return ParseInfo(value=None, errors=[
            _VR(str(e), "", "bigNumber", "", None, None)
        ], line_number=n_lines, characters=n_chars)
    except ValueError as e:
        if syntax is None and big_number == "default" and not interoperable \
                and not max_number_length and nice_number == "default":
            # strict path: recover reference-convention position via the FSM
            raise _positioned_syntax_error(text, e) from e
        raise ParseSyntaxError(str(e)) from e
    limit_errors: list[ValidationRecord] = []
    if limits is not None:
        from .schema.evaluate import check_limits

        limit_errors = check_limits(value, limits)
    cs = _as_schema(schema)
    if cs is None:
        return ParseInfo(value=value if parse_value else None,
                         errors=limit_errors,
                         line_number=n_lines, characters=n_chars)
    errors, anns = Evaluator(
        extensions=extensions, annotations=annotations,
        reference_quirks=reference_quirks,
    ).validate(cs, value)
    errors = limit_errors + errors
    if (errors or anns) and syntax is None:
        # attach reference positions (ValidationError.position /
        # Annotation.position) by re-parsing for the value-anchor map —
        # ERROR/ANNOTATION path only, so clean validations never pay the
        # FSM re-parse; relaxed dialects have no position contract
        # (interoperable docs DO get positions: the plain FSM accepts a
        # superset, and StreamParser attaches them — review #6 alignment)
        errors, anns = _attach_positions(text, errors, anns)
    if reviver is not None:
        # reference parseInfo({reviver}): validation sees the RAW parsed
        # value; the reviver shapes only the returned value (review #5)
        value = _apply_reviver(value, reviver)
    return ParseInfo(value=value if parse_value else None,
                     errors=errors, annotations=anns,
                     line_number=n_lines, characters=n_chars)


class StreamParser:
    """Incremental parse+validate with state across ARBITRARY chunk
    boundaries (reference StreamParser, parse.js:121-192, 318-326; the
    syntax suite's one-byte-per-write replay is the contract,
    test/syntax-suite.test.js:43-56).

    write() str/bytes chunks (split multi-byte UTF-8 sequences and split
    tokens are fine), then end(): syntax errors raise ParseSyntaxError;
    validation errors accumulate in .errors like the reference's
    parser.errors[] (never throws on invalid — parseInfo contract).
    SAX callbacks via .on(name, fn) use the same event names/arities as
    api.iter_events."""

    def __init__(self, schema=None, extensions: bool = False, limits=None,
                 big_number: str = "default", nice_number: str = "default",
                 max_number_length=None, strict_limits: bool = False,
                 interoperable: bool = False, charset: "str | None" = None,
                 syntax=None, reviver=None):
        from .schema.incremental import IncrementalJSONParser

        if _is_options_dict(schema):
            # reference options-dict form, translated by the same
            # _split_options as parse/parse_info. Its keys override the
            # keywords, except that an explicit `limits` wins over the caps;
            # parseValue and parseAnnotations have no meaning here
            schema, opt_kw, opt_reviver = _split_options(schema)
            big_number = opt_kw.get("big_number", big_number)
            nice_number = opt_kw.get("nice_number", nice_number)
            max_number_length = opt_kw.get("max_number_length", max_number_length)
            interoperable = opt_kw.get("interoperable", interoperable)
            charset = opt_kw.get("charset", charset)
            reviver = opt_reviver or reviver
            if limits is None:
                limits = opt_kw.get("limits")

        self._charset = charset
        # source-side counters for the transcoded (relaxed-syntax) path,
        # where the tokenizer only ever sees rewritten strict JSON
        self._src_chars = 0
        self._src_lines = 0
        hooks = None
        if interoperable and big_number == "default":
            big_number = "error"  # I-JSON default (loads_relaxed parity)
        if (big_number != "default" or nice_number != "default"
                or max_number_length is not None):
            # reference StreamParser({bigNumber}/{niceNumber}/
            # {maxNumberLength}) — policies run per complete number token;
            # BigNumberError surfaces from write()/end() as
            # ResourceLimitError, the reference's throw
            # (parse.js:1183 badCase; probed under node, r4)
            from .schema.relaxed_json import make_number_hooks

            hooks = make_number_hooks(big_number, max_number_length, nice_number)
        # anchor map only when something will read it (errors/annotations
        # need a schema; bare tokenizer/SAX use stays map-free)
        # strict_limits=True enforces `limits` DURING the parse with the
        # reference's ResourceLimitError throw (parse.js caps) and keeps
        # memory O(cap) on unbounded tokens; the default keeps the table
        # contract (limit violations are reported rows at end())
        # syntax=SyntaxOptions(...): the reference's relaxed-dialect family
        # on the incremental surface — a chunk-resumable transcoder
        # (relaxed_json.IncrementalTranscoder) rewrites each chunk to
        # strict JSON before the tokenizer; positions are not tracked for
        # relaxed dialects (transcoded offsets differ from the source)
        self._transcoder = None
        self._syntax_decoder = None
        if syntax is not None:
            import codecs as _codecs

            from .schema.relaxed_json import IncrementalTranscoder

            self._transcoder = IncrementalTranscoder(syntax)
            self._syntax_decoder = _codecs.getincrementaldecoder("utf-8")(
                errors="strict")
        self._parser = IncrementalJSONParser(
            track_positions=(schema is not None and syntax is None),
            number_hooks=hooks,
            limits=limits if strict_limits else None,
            interoperable=interoperable,
            allow_inf=bool(syntax is not None and syntax.inf),
            allow_nan=bool(syntax is not None and syntax.nan))
        self._schema = _as_schema(schema)
        self._extensions = extensions
        self._limits = limits
        self._reviver = reviver  # JSON.parse-style, applied at end()
        self._info: "ParseInfo | None" = None  # end() idempotence cache
        self.value: Any = None
        self.errors: list[ValidationRecord] = []
        self.annotations: list[AnnotationRecord] = []

    def on(self, name: str, fn) -> "StreamParser":
        self._parser.on(name, fn)
        return self

    def write(self, chunk: str | bytes) -> "StreamParser":
        from .schema.incremental import IncrementalSyntaxError

        from .errors import ResourceLimitError
        from .schema.relaxed_json import BigNumberError

        if isinstance(chunk, (bytes, bytearray)):
            _charset_gate(chunk, self._charset)
        if self._transcoder is not None:
            if isinstance(chunk, (bytes, bytearray)):
                try:
                    chunk = self._syntax_decoder.decode(bytes(chunk))
                except UnicodeDecodeError as e:
                    raise ParseSyntaxError(f"Invalid UTF-8: {e.reason}") from None
            # count the SOURCE text (r5 second review #2): the transcoder
            # rewrites relaxed dialects to strict JSON, so the tokenizer's
            # own counters would measure the rewritten stream, not what
            # the caller wrote — parse_info counts the source
            from .schema.incremental import _u16len

            self._src_chars += _u16len(chunk)
            self._src_lines += chunk.count("\n")
            try:
                chunk = self._transcoder.feed(chunk)
            except ValueError as e:
                raise ParseSyntaxError(str(e)) from None
            if not chunk:
                return self
        try:
            self._parser.write(chunk)
        except IncrementalSyntaxError as e:
            raise ParseSyntaxError(str(e), position=e.position) from None
        except BigNumberError as e:
            raise ResourceLimitError(str(e)) from None
        return self

    def end(self) -> ParseInfo:
        from .schema.evaluate import check_limits
        from .schema.incremental import IncrementalSyntaxError

        from .errors import ResourceLimitError
        from .schema.relaxed_json import BigNumberError

        if self._transcoder is not None:
            try:
                tail = self._syntax_decoder.decode(b"", final=True)
                if tail:
                    from .schema.incremental import _u16len

                    self._src_chars += _u16len(tail)
                    self._src_lines += tail.count("\n")
                tail = self._transcoder.feed(tail) if tail else ""
                tail += self._transcoder.finish()
            except ValueError as e:
                raise ParseSyntaxError(str(e)) from None
            if tail:
                try:
                    self._parser.write(tail)
                except IncrementalSyntaxError as e:
                    raise ParseSyntaxError(str(e), position=e.position) from None
                except BigNumberError as e:
                    raise ResourceLimitError(str(e)) from None
        if self._info is not None:
            return self._info  # idempotent (review #7): no re-revive/re-validate
        try:
            self.value = self._parser.end()
        except IncrementalSyntaxError as e:
            raise ParseSyntaxError(str(e), position=e.position) from None
        except BigNumberError as e:
            raise ResourceLimitError(str(e)) from None
        # validation + limits see the RAW parsed value (reference validates
        # during the parse, pre-reviver — review #3 parity with parse())
        if self._schema is not None:
            ev = Evaluator(extensions=self._extensions, annotations=True)
            self.errors, self.annotations = ev.validate(self._schema, self.value)
        if self._limits is not None:
            self.errors = self.errors + check_limits(self.value, self._limits)
        if (self.errors or self.annotations) and self._transcoder is None:
            # the incremental parser already built the anchor map — attach
            # reference positions without any re-parse. Relaxed dialects
            # attach nothing (untracked map — review #6 alignment with
            # parse_info's no-positions contract for syntax modes)
            pos = {
                k: {"line": line, "column": col}
                for k, (line, col) in self._parser.positions.items()
            }
            self.errors, self.annotations = _attach_from_map(
                pos, self.errors, self.annotations)
        if self._reviver is not None:
            self.value = _apply_reviver(self.value, self._reviver)
        # r5 review #4: surface the node-pinned lineNumber/characters on
        # the streaming result too — the tokenizer already tracks UTF-16
        # units consumed (_abs) and 0-based newline count (_ref_line)
        if self._transcoder is not None:
            line_number, characters = self._src_lines, self._src_chars
        else:
            line_number = getattr(self._parser, "_ref_line", 0)
            characters = getattr(self._parser, "_abs", 0)
        self._info = ParseInfo(
            self.value, self.errors, self.annotations,
            line_number=line_number, characters=characters,
        )
        return self._info


def iter_events(value: Any, _key=None):
    """SAX-style event stream over a parsed value — the reference's
    StreamParser events (parse.js:195-197, 1083-1107: startObject/key/
    endObject/startArray/endArray/string/number/boolean/null/end) replayed
    from the value tree. Top-level call appends a final ('end',)."""
    yield from _events(value)
    yield ("end",)


def _events(value: Any):
    if isinstance(value, dict):
        yield ("startObject",)
        for k, v in value.items():
            yield ("key", k)
            yield from _events(v)
        yield ("endObject",)
    elif isinstance(value, list):
        yield ("startArray",)
        for v in value:
            yield from _events(v)
        yield ("endArray",)
    elif isinstance(value, bool):
        yield ("boolean", value)
    elif isinstance(value, (int, float)):
        yield ("number", value)
    elif isinstance(value, str):
        yield ("string", value)
    elif value is None:
        yield ("null",)
    else:  # pragma: no cover
        raise TypeError(f"not a JSON value: {type(value)}")


@dataclass
class InstanceInfo:
    """parseInfo()'s instance tree (README.md:76-87): type/native plus
    properties (objects), keys (property-name infos), items (arrays), and
    `links` (hyper-schema links; the reference resolves them from a `links`
    table that is null for plain validation schemas — schema.js:694 — so
    this surfaces as an empty list, same observable value)."""

    type: str
    native: Any
    properties: Optional[dict] = None
    keys: Optional[dict] = None
    items: Optional[list] = None
    links: list = field(default_factory=list)

    @property
    def map(self):  # README alias: object as a mapping of infos
        return self.properties


def instance_info(value: Any) -> InstanceInfo:
    from .schema.evaluate import json_type

    t = json_type(value)
    if t == "object":
        return InstanceInfo(
            type=t, native=value,
            properties={k: instance_info(v) for k, v in value.items()},
            keys={k: InstanceInfo(type="string", native=k) for k in value},
        )
    if t == "array":
        return InstanceInfo(type=t, native=value,
                            items=[instance_info(v) for v in value])
    return InstanceInfo(type=t, native=value)


def annotation_table(cs: CompiledSchema) -> list[dict]:
    """Static compile-time metadata table (constraint_id, keyword, value)
    for title/description annotations (SURVEY.md §2.9) — broadcastable."""
    out: list[dict] = []
    seen: set[int] = set()

    def walk(node: CompiledSchema) -> None:
        if id(node) in seen:
            return
        seen.add(id(node))
        for kw in ("title", "description"):
            v = getattr(node, kw)
            if v:
                out.append({"constraint_id": node.id, "keyword": kw, "value": v})
        children = (
            list(node.properties.values())
            + [s for _, _, s in node.pattern_properties]
            + node.all_of + node.any_of + node.one_of
            + [x for x in (node.not_, node.if_, node.then_, node.else_,
                           node.additional_properties, node.items_all,
                           node.additional_items, node.contains,
                           node.property_names, node.unevaluated_properties,
                           node.unevaluated_items) if x]
            + (node.items_tuple or [])
        )
        for c in children:
            walk(c)

    walk(cs)
    return out
