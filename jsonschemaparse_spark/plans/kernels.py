"""Column-expression kernels: CompiledSchema -> Catalyst Column pairs.

The fast path of the engine. Each schema node compiles to
``(valid: Column<boolean>, violations: Column<array<struct>>)`` evaluated in
ONE projection over the table — the columnar re-expression of the reference's
"all validators watch one event stream" design (ValidateLayer fan-out,
/root/reference/lib/schema.js:1023-1131). Branch predicates for
anyOf/oneOf/not/if-then-else are all evaluated speculatively in the same pass
and reduced with boolean algebra, mirroring ValidateLayer.finish
(schema.js:1342-1417) — no extra scan, no shuffle.

CODEGEN-SIZE DESIGN (the 100-TB lesson): the per-row violation payload is
COMPACT — ``struct<rule_id:int, path:string, actual:string>`` — and all
static rule metadata (constraint_id, keyword, expected, message) lives in a
rule table built at compile time and joined back (broadcast) only when the
violations report is materialized. Embedding the 6-field struct with its
string literals per check made realistic rule documents exceed the JVM/
Spark generated-method limits, silently disabling whole-stage codegen
(~100x slower). Compact emission keeps even large rule sets inside codegen.

Subtrees that cannot be expressed as Columns (ECMAScript-only regexes,
map-typed dynamic objects with complex subschemas, ...) raise
``ExpressionFallback``; plans/validator.py routes those through the
Arrow-batched evaluator kernel instead.
"""

from __future__ import annotations

import json
from typing import Optional, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import expected_type
from ..schema.compiler import CompiledSchema

# full report shape (violations DataFrame and the Arrow path)
VIOLATION_FIELDS = ["constraint_id", "path", "keyword", "expected", "actual", "message"]
VIOLATION_STRUCT = T.StructType([T.StructField(f, T.StringType(), True) for f in VIOLATION_FIELDS])
VIOLATION_ARRAY = T.ArrayType(VIOLATION_STRUCT, True)

# compact per-row shape (expression path; joined to the rule table on report)
COMPACT_STRUCT = T.StructType(
    [
        T.StructField("rule_id", T.IntegerType(), False),
        T.StructField("path", T.StringType(), True),
        T.StructField("actual", T.StringType(), True),
        # per-row expected override for rules whose expected value is
        # dynamic (e.g. required's missing-key list); NULL means use the
        # rule table's static expected
        T.StructField("exp", T.StringType(), True),
    ]
)
COMPACT_ARRAY = T.ArrayType(COMPACT_STRUCT, True)

RULE_TABLE_SCHEMA = (
    "rule_id int, constraint_id string, keyword string, expected string, message string"
)

_MAX_DEPTH = 16


class ExpressionFallback(Exception):
    """Raised when a schema subtree is not expressible as Column algebra;
    the caller falls back to the Arrow-batched evaluator for that column."""


def empty_violations() -> Column:
    return F.array().cast(COMPACT_ARRAY)


class _Node:
    """The checks of one schema node: leaf checks become struct-or-null
    pieces, subtrees add their (valid, violations) pair, and `done`
    gathers the pieces and ANDs the validity columns in emission order."""

    def __init__(self, cc: "ColumnCompiler", sid: str, path: Column):
        self.cc, self.sid, self.path = cc, sid, path
        self.spieces: list[Column] = []  # leaf struct-or-null pieces
        self.pieces: list[Column] = []   # composite ARRAY pieces (subtrees)
        self.valids: list[Column] = []

    def leaf(self, cond_bad: Column, keyword: str, expected, actual: Column,
             message: str, path: Optional[Column] = None,
             exp: Optional[Column] = None) -> None:
        rid = self.cc.register_rule(self.sid, keyword, expected, message)
        self.spieces.append(self.cc.emit(
            rid, cond_bad, self.path if path is None else path, actual, exp))
        self.valids.append(~cond_bad)

    def add(self, valid: Column, pieces: Column) -> None:
        self.valids.append(valid)
        self.pieces.append(pieces)

    def done(self) -> Tuple[Column, Column]:
        """Leaf pieces gather into one array_compact, concatenated with the
        subtree arrays. NOTE: leaf checks of a node order before its
        subtree pieces — intra-row violation ORDER is unspecified and has
        never been a cross-engine contract (the Python evaluator's emission
        order differs from the Column path's anyway); consumers must match
        on content, as the report-parity suites do."""
        arrays = [F.array_compact(F.array(*self.spieces))] if self.spieces else []
        arrays += self.pieces
        if not arrays:
            viols = empty_violations()
        else:
            viols = arrays[0] if len(arrays) == 1 else F.concat(*arrays)
        valid = self.valids[0] if self.valids else F.lit(True)
        for v in self.valids[1:]:
            valid = valid & v
        return valid, viols


def _in_place(cs: CompiledSchema) -> list[CompiledSchema]:
    """The in-place applicators that always apply: allOf members and a
    resolved $ref."""
    return list(cs.all_of) + ([cs.resolve_ref()] if cs.ref is not None else [])


def spark_json_type(dtype: T.DataType) -> Optional[str]:
    """Map a Spark column type onto the six JSON types (SURVEY.md §1.2)."""
    if isinstance(dtype, T.StringType):
        return "string"
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "integer"
    if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "number"
    if isinstance(dtype, T.BooleanType):
        return "boolean"
    if isinstance(dtype, (T.StructType, T.MapType)):
        return "object"
    if isinstance(dtype, T.ArrayType):
        return "array"
    if isinstance(dtype, (T.TimestampType, T.DateType)):
        return "string"  # ISO-8601 view for constraint purposes
    return None  # binary & friends: opaque, only presence is checked


# regex constructs whose semantics differ between ECMAScript (reference,
# schema.js:367,477 — 'u' flag) and Java (rlike). Conservative deny-list;
# anything hit routes to the Python `re` Arrow kernel (SURVEY.md §4.3-1).
_UNSAFE_REGEX = ("\\p", "\\P", "\\u{", "(?<", "\\c", "\\x{", "\\0", "\\A", "\\z", "\\Z")


def rlike_safe(pattern: str) -> bool:
    return not any(tok in pattern for tok in _UNSAFE_REGEX)


def rlike_pattern(pattern: str) -> str:
    """Translate an ECMAScript pattern for Java rlike.

    Java '$' (no MULTILINE) also matches before a FINAL line terminator, so
    /a$/ would accept 'a\\n' where ECMAScript RegExp (and the reference,
    schema.js:884) rejects it. Rewrite every unescaped '$' outside a
    character class to '\\z' (end of input — the ECMAScript meaning).
    Escaped \\$ and [$] are literal in both dialects and left alone.
    """
    out: list[str] = []
    in_class = esc = False
    for ch in pattern:
        if esc:
            out.append(ch)
            esc = False
        elif ch == "\\":
            out.append(ch)
            esc = True
        elif in_class:
            out.append(ch)
            in_class = ch != "]"
        elif ch == "[":
            out.append(ch)
            in_class = True
        elif ch == "$":
            out.append("\\z")
        else:
            out.append(ch)
    return "".join(out)


class ColumnCompiler:
    """Compile a CompiledSchema against a concrete Spark value (column +
    dtype). Produces (valid, violations) Column pairs plus a static rule
    table for report reconstruction."""

    def __init__(self, extensions: bool = True, enforce_formats: bool = False,
                 collect_field_fallbacks: bool = False,
                 big_number: str = "default"):
        self.extensions = extensions
        # bigNumber policy surface for high-precision columns (reference
        # README.md:128-137, parse.js:1135-1205). On a TYPED DataFrame only
        # 'error' has validation semantics: long/decimal columns already
        # hold exact values (there is no parse step producing a binary64),
        # so the value-transforming policies (string/json/intstr/fraction/
        # properfraction/float64) are no-ops here — they shape the PARSED
        # value on the api.parse / validate_json_column paths
        # (schema/relaxed_json.make_number_hooks).
        if big_number not in ("default", "float64", "error", "json", "string",
                              "intstr", "fraction", "properfraction"):
            raise ValueError(f"Unknown bigNumber policy: {big_number}")
        self.big_number = big_number
        # format is annotation-only in the reference (schema.js:691, no
        # exportRules entry); enforcement is an opt-in extension
        self.enforce_formats = enforce_formats
        # static metadata per emitted check: joined back on report
        self.rule_table: list[dict] = []
        # per-column fallback: at the ROOT object (depth 0 = table columns),
        # an ExpressionFallback in one column's subschema is RECORDED here
        # instead of aborting the whole-row compile — the validator then
        # runs the Arrow evaluator on just those columns, keeping Python
        # off every other column (VERDICT r1 stretch #9)
        self.collect_field_fallbacks = collect_field_fallbacks
        self.field_fallbacks: list[tuple[str, CompiledSchema]] = []
        # dynamic-scope $recursiveAnchor base (schema.js:1060-1072);
        # compilation is a single-threaded DFS, so save/restore around the
        # recursion gives exactly the reference's dynamic scoping
        self._recursive_base: Optional[CompiledSchema] = None

    # ------------------------------------------------------------------
    def register_rule(self, constraint_id: str, keyword: str, expected, message: str) -> int:
        from ..errors import _show

        rule_id = len(self.rule_table)
        self.rule_table.append(
            {
                "rule_id": rule_id,
                "constraint_id": constraint_id,
                "keyword": keyword,
                # same serialization as the evaluator's as_row (_show =
                # json.dumps) so a report that mixes compact and Arrow
                # fallback rows formats `expected` identically (r3)
                "expected": None if expected is None else _show(expected),
                "message": message,
            }
        )
        return rule_id

    def valid_only(self, cs: CompiledSchema, col: Column, dtype: T.DataType,
                   path, depth: int) -> Column:
        """Compile a subschema for its PASS/FAIL column only. The violation
        pieces are discarded, so their rule registrations go to a scratch
        table instead of permanently inflating the broadcast rule table
        (speculative branch evaluation: anyOf/oneOf/not/enum members and
        evaluated-set gating all need only the boolean)."""
        saved = self.rule_table
        self.rule_table = []
        try:
            return self.compile_value(cs, col, dtype, path, depth)[0]
        finally:
            self.rule_table = saved

    def emit(self, rule_id: int, cond_bad: Column, path: Column, actual: Column,
             exp: Optional[Column] = None) -> Column:
        """Compact violation piece as STRUCT-OR-NULL: leaf pieces collect
        into ONE array_compact(array(...)) per schema node instead of a
        concat of N single-element arrays — fewer allocations, smaller
        codegen. Same array CONTENTS; intra-row order is unspecified
        (see _Node.done). `exp` optionally overrides the rule table's static
        expected with a per-row dynamic value."""
        v = F.struct(
            F.lit(rule_id).alias("rule_id"),
            path.cast("string").alias("path"),
            actual.cast("string").alias("actual"),
            (exp if exp is not None else F.lit(None)).cast("string").alias("exp"),
        )
        return F.when(cond_bad, v)

    # ------------------------------------------------------------------
    def compile_value(
        self,
        cs: CompiledSchema,
        col: Column,
        dtype: T.DataType,
        path: Column,
        depth: int = 0,
    ) -> Tuple[Column, Column]:
        """(valid, violations) for `col` of static type `dtype` under `cs`.

        NULL values validate vacuously (absent property semantics); presence
        is enforced by the parent's `required` handling.
        """
        if depth > _MAX_DEPTH:
            raise ExpressionFallback(f"schema recursion deeper than {_MAX_DEPTH} at <{cs.id}>")

        prev_rbase = self._recursive_base
        if cs.recursive_anchor and self._recursive_base is None:
            # same dynamic-base rule as the evaluator: first anchor in
            # scope donates its resource ROOT (schema.js:1066, 1125-1127)
            self._recursive_base = cs.recursive_anchor_root()
        try:
            return self._compile_value_inner(cs, col, dtype, path, depth)
        finally:
            self._recursive_base = prev_rbase

    def _compile_value_inner(
        self,
        cs: CompiledSchema,
        col: Column,
        dtype: T.DataType,
        path: Column,
        depth: int,
    ) -> Tuple[Column, Column]:
        jtype = spark_json_type(dtype)
        node = _Node(self, cs.id, path)
        leaf = node.leaf

        # ---- type / const-type start checks --------------------------------
        if jtype is not None:
            base = "number" if jtype == "integer" else jtype
            allowed = getattr(cs, "allow_" + ("number" if base == "number" else base))
            if not allowed:
                leaf(
                    F.lit(True), "type", cs.allowed_types,
                    F.lit(base), expected_type(base, cs.allowed_types),
                )
            if cs.const_type is not None and cs.const_type != base and not (
                cs.const_type == "number" and base == "number"
            ):
                leaf(
                    F.lit(True), "const", cs.const_type,
                    F.lit(base), expected_type(base, [cs.const_type]),
                )
            # integer keyword on a fractional column
            if base == "number" and jtype == "number" and cs.allow_number and not cs.allow_fraction:
                frac = (col.cast("double") % F.lit(1.0)) != F.lit(0.0)
                leaf(frac, "type",
                     cs.allowed_types[0] if len(cs.allowed_types) == 1
                     else cs.allowed_types, col, "Expected an integer")

        # ---- per-type keyword kernels --------------------------------------
        if jtype in ("integer", "number"):
            self._number_kernels(cs, col, dtype, leaf)
        elif jtype == "string":
            scol = col.cast("string") if not isinstance(dtype, T.StringType) else col
            self._string_kernels(cs, scol, leaf)
        elif jtype == "boolean":
            self._boolean_kernels(cs, col, leaf)
        elif jtype == "array":
            node.add(*self._array_kernels(cs, col, dtype, path, depth))
        elif jtype == "object":
            node.add(*self._object_kernels(cs, col, dtype, path, depth))

        # ---- combinators -----------------------------------------------------
        for sub in cs.all_of:
            node.add(*self.compile_value(sub, col, dtype, path, depth + 1))

        if cs.ref is not None:
            node.add(*self.compile_value(cs.resolve_ref(), col, dtype, path, depth + 1))

        if cs.recursive_ref is not None:
            # static unrolling against the concrete column type: recursion
            # bottoms out when the finite StructType stops descending
            # (SURVEY.md §2.8 $recursiveRef strategy); target = dynamic
            # $recursiveAnchor base when one is in scope
            target = (
                self._recursive_base
                if self._recursive_base is not None
                else cs.registry.lookup(cs.recursive_ref)
            )
            node.add(*self.compile_value(target, col, dtype, path, depth + 1))

        if cs.has_any_of:
            branch_valids = [
                self.valid_only(s, col, dtype, path, depth + 1) for s in cs.any_of
            ] or [F.lit(False)]  # empty anyOf is unsatisfiable (schema.js:1387-1393)
            any_ok = branch_valids[0]
            for b in branch_valids[1:]:
                any_ok = any_ok | b
            leaf(~any_ok, "anyOf", 1, F.lit(0),
                 'Expected "anyOf" to have at least one matching schema')

        if cs.has_one_of:
            branch_valids = [
                self.valid_only(s, col, dtype, path, depth + 1) for s in cs.one_of
            ] or [F.lit(False)]  # empty oneOf: 0 valid branches != 1
            count = branch_valids[0].cast("int")
            for b in branch_valids[1:]:
                count = count + b.cast("int")
            leaf(count != F.lit(1), "oneOf", 1, count,
                 'Expected "oneOf" to have exactly one matching schema')

        if cs.not_ is not None:
            nv = self.valid_only(cs.not_, col, dtype, path, depth + 1)
            leaf(nv, "not", None, F.lit(None), 'Expected "not" to fail')

        if cs.if_ is not None and (cs.then_ is not None or cs.else_ is not None):
            iv, _ = self.compile_value(cs.if_, col, dtype, path, depth + 1)
            tv, tp = (
                self.compile_value(cs.then_, col, dtype, path, depth + 1)
                if cs.then_ is not None
                else (F.lit(True), empty_violations())
            )
            ev, ep = (
                self.compile_value(cs.else_, col, dtype, path, depth + 1)
                if cs.else_ is not None
                else (F.lit(True), empty_violations())
            )
            node.add(F.when(iv, tv).otherwise(ev), F.when(iv, tp).otherwise(ep))

        # ---- enum / const / format -------------------------------------------
        self._enum_const_kernels(cs, col, dtype, jtype, leaf)

        # structural enum members: pass if >= 1 const-subschema matches
        # (EndObject/EndArray testEnum, schema.js:813-820, 851-858)
        if jtype in ("object", "array") and cs.enum_schemas:
            member_valids = [
                self.valid_only(s, col, dtype, path, depth + 1)
                for s in cs.enum_schemas
            ]
            any_member = member_valids[0]
            for b in member_valids[1:]:
                any_member = any_member | b
            leaf(~any_member, "enum", 1, F.lit(0),
                 'Expected "enum" to have one matching value')
        elif jtype in ("object", "array") and cs.enum_literals is not None and not cs.enum_schemas:
            # enum of scalars only: a container value can never match
            leaf(F.lit(True), "enum", 1, F.lit(0),
                 'Expected "enum" to have one matching value')

        valid, viols = node.done()
        # NULL value => vacuous pass (parent handles presence)
        valid = F.when(col.isNull(), F.lit(True)).otherwise(valid)
        viols = F.when(col.isNull(), empty_violations()).otherwise(viols)
        return valid, viols

    # ------------------------------------------------------------------
    def _number_kernels(self, cs: CompiledSchema, col: Column, dtype, leaf) -> None:
        # bigNumber 'error': a long/decimal value that cannot round-trip
        # through binary64 emits the reference's validation row
        # (parse.js:1180-1186 badCase -> ResourceLimitError "Number too
        # precise"; README.md:130 'error: Treat as a validation error').
        # Lossiness test = EXACT double round-trip, the same rule as
        # schema/relaxed_json._is_lossy on the parse/Arrow paths (strictly
        # sharper than the reference's <16-digit heuristic — documented
        # divergence, consistent across all three engine paths).
        # Float/double columns are binary64 already.
        if self.big_number == "error" and isinstance(dtype, T.LongType):
            # LongType stays in codegen: long->double->long is VALUE-exact
            # (the truncating cast never goes through a string). The only
            # blind spot is the top edge: every v in (2^63-1024, 2^63)
            # rounds to 2^63, which clamps back to Long.MaxValue and can
            # equal v — none of those values is representable (the ulp at
            # 2^63 is 1024), so flag the interval explicitly. 2^63-1024
            # itself IS representable and round-trips equal. (r4 review
            # finding #2: the earlier double->decimal(38,0) comparison was
            # string-rounded by Spark — Double.toString shortest repr — and
            # false-flagged exactly-representable values like 2^60.)
            rt = col.cast("double").cast("long")
            lossy = F.coalesce(rt != col, F.lit(True)) | (
                col > F.lit((1 << 63) - 1024)
            )
            leaf(lossy, "bigNumber", None, col, "Number too precise")
        elif self.big_number == "error" and isinstance(dtype, T.DecimalType):
            # No exact in-codegen test exists for decimals: every Spark
            # double->decimal/string cast routes through Double.toString
            # (shortest repr), so comparing in decimal space false-flags
            # representable values. Route THIS COLUMN to the Arrow
            # fallback, whose relaxed loader applies _is_lossy exactly on
            # the full-precision to_json digits; everything else stays in
            # codegen (per-column fallback machinery).
            raise ExpressionFallback(
                "bigNumber 'error' on a DecimalType column needs the exact "
                "Python lossiness check"
            )

        # Compare in the column's own numeric type (Catalyst coerces the
        # literal): keeps full precision for long/decimal columns — the
        # bignum suite cases (optional/bignum.json) would corrupt at the
        # 2^53 boundary if forced through double.
        def lit_bound(v):
            iv = int(v)
            return F.lit(iv if (isinstance(v, int) or v == iv) and abs(iv) < (1 << 63) else float(v))

        if cs.exclusive_minimum is not None:
            leaf(col <= lit_bound(cs.exclusive_minimum), "exclusiveMinimum",
                 cs.exclusive_minimum, col, "Number under minimum")
        if cs.minimum is not None:
            leaf(col < lit_bound(cs.minimum), "minimum", cs.minimum, col,
                 "Number under/equal to minimum")
        if cs.exclusive_maximum is not None:
            leaf(col >= lit_bound(cs.exclusive_maximum), "exclusiveMaximum",
                 cs.exclusive_maximum, col, "Number under maximum")
        if cs.maximum is not None:
            leaf(col > lit_bound(cs.maximum), "maximum", cs.maximum, col,
                 "Number under/equal to maximum")
        if cs.multiple_of is not None:
            # JS `n / k % 1` float semantics (schema.js:937); Spark % on
            # doubles is fmod — bit-identical to the reference
            bad = (col.cast("double") / F.lit(float(cs.multiple_of))) % F.lit(1.0) != F.lit(0.0)
            leaf(bad, "multipleOf", cs.multiple_of, col, "Number not multiple of")

    def _string_kernels(self, cs: CompiledSchema, col: Column, leaf) -> None:
        # F.length counts code points — matches reference surrogate handling
        # (parse.js:1232-1233,1256; SURVEY.md §4.3-2)
        if cs.min_length is not None:
            leaf(F.length(col) < F.lit(int(cs.min_length)), "minLength",
                 cs.min_length, F.length(col), "String too short")
        if cs.max_length is not None:
            leaf(F.length(col) > F.lit(int(cs.max_length)), "maxLength",
                 cs.max_length, F.length(col), "String too long")
        if cs.pattern is not None:
            if not rlike_safe(cs.pattern):
                raise ExpressionFallback(f"ECMAScript-only regex {cs.pattern!r}")
            # search semantics: Java find() == RegExp.test (schema.js:884);
            # '$' rewritten to '\z' for end-of-input parity (rlike_pattern)
            leaf(~col.rlike(rlike_pattern(cs.pattern)), "pattern", cs.pattern, col,
                 "String does not match /" + cs.pattern + "/")

    def _boolean_kernels(self, cs: CompiledSchema, col: Column, leaf) -> None:
        if cs.const_type == "boolean":
            leaf(col != F.lit(bool(cs.const_value)), "const", cs.const_value,
                 col, "const mismatch")

    # ------------------------------------------------------------------
    def _enum_const_kernels(self, cs, col, dtype, jtype, leaf) -> None:
        if (
            self.enforce_formats
            and cs.format is not None
            and jtype == "string"
        ):
            from ..functions.formats import FORMAT_PATTERNS

            pat = FORMAT_PATTERNS.get(cs.format)
            if pat is not None:
                scol = col.cast("string") if not isinstance(dtype, T.StringType) else col
                leaf(
                    ~scol.rlike(pat), "format", cs.format, col,
                    f"String does not match format {cs.format!r}",
                )

        if cs.enum_literals is not None and jtype in ("string", "integer", "number", "boolean"):
            if jtype in ("integer", "number"):
                lits = [v for (k, v) in ((x[0], x[1]) for x in cs.enum_literals if len(x) > 1) if k == "n"]
                msg = "Number does not match one of the enumerated values"
                test_col = col.cast("double")
                lits = [float(v) for v in lits]
            elif jtype == "string":
                lits = [v for (k, v) in ((x[0], x[1]) for x in cs.enum_literals if len(x) > 1) if k == "s"]
                msg = "String does not match one of the enumerated values"
                test_col = col.cast("string") if not isinstance(dtype, T.StringType) else col
            else:
                lits = [v for (k, v) in ((x[0], x[1]) for x in cs.enum_literals if len(x) > 1) if k == "b"]
                msg = "Boolean does not match one of the enumerated values"
                test_col = col
            if lits:
                # Catalyst OptimizeIn turns this into an InSet hash probe
                leaf(~test_col.isin(lits), "enum", cs.enum_scalars, col, msg)
            else:
                leaf(F.lit(True), "enum", cs.enum_scalars, col, msg)

        if cs.const_type is not None:
            if cs.const_type == "string" and jtype == "string":
                leaf(col != F.lit(cs.const_value), "const", cs.const_value, col,
                     "String does not match constant")
            elif cs.const_type == "number" and jtype in ("integer", "number"):
                leaf(col.cast("double") != F.lit(float(cs.const_value)), "const",
                     cs.const_value, col, "const number mismatch")
            elif (
                jtype in ("string", "integer", "number", "boolean")
                and cs.const_type != jtype
                and not (cs.const_type == "number" and jtype == "integer")
            ):
                # TYPE-MISMATCHED const only (same-type string/number are
                # the two branches above; same-type boolean lives in
                # _boolean_kernels): the reference still runs the
                # end-event value check (JS !== is type-strict, so it
                # always fires — schema.js:892/910/962) with the
                # INSTANCE-type message; mirrors the evaluator (r3)
                end_msg = {
                    "string": "String does not match constant",
                    "integer": "const number mismatch",
                    "number": "const number mismatch",
                    "boolean": "const mismatch",
                }[jtype]
                leaf(F.lit(True), "const", cs.const_value, col, end_msg)
            # boolean same-type handled in _boolean_kernels; object/array via
            # const_length + const_properties/const_items in container kernels

    # ------------------------------------------------------------------
    def _array_kernels(self, cs, col: Column, dtype: T.ArrayType, path, depth):
        node = _Node(self, cs.id, path)
        n = F.size(col)
        if cs.min_items is not None:
            node.leaf(n < F.lit(int(cs.min_items)), "minItems", cs.min_items, n, "Too few items")
        if cs.max_items is not None:
            node.leaf(n > F.lit(int(cs.max_items)), "maxItems", cs.max_items, n, "Too many items")
        if cs.const_length is not None:  # any const type incl. string length (schema.js:833-838)
            node.leaf(n != F.lit(int(cs.const_length)), "const", cs.const_length, n,
                      "Incorrect number of items")

        elem_type = dtype.elementType

        if cs.items_all is not None:
            node.add(*self._each(col, cs.items_all, elem_type, path, depth))
        elif cs.items_tuple is not None:
            for idx, sub in enumerate(cs.items_tuple):
                ipath = F.concat(path.cast("string"), F.lit(f"/{idx}"))
                item = F.when(n > idx, F.element_at(col, idx + 1))
                node.add(*self.compile_value(sub, item, elem_type, ipath, depth + 1))
            if cs.additional_items is not None:
                start = len(cs.items_tuple)
                rest = F.slice(col, start + 1, F.greatest(n - start, F.lit(0)))
                node.add(*self._each(rest, cs.additional_items, elem_type, path, depth,
                                     start=start))

        if self.extensions and cs.contains is not None:
            sub = cs.contains
            hits = F.size(F.filter(col, lambda x: self.valid_only(
                sub, x, elem_type, path, depth + 1)))
            lo = int(cs.min_contains) if cs.min_contains is not None else 1
            node.leaf(hits < F.lit(lo), "contains", lo, hits,
                      'Expected "contains" to match at least one item')
            if cs.max_contains is not None:
                node.leaf(hits > F.lit(int(cs.max_contains)), "maxContains",
                          cs.max_contains, hits,
                          'Expected "contains" to match at most maxContains items')

        if self.extensions and cs.unique_items:
            node.leaf(F.size(F.array_distinct(col)) != n, "uniqueItems", True, n,
                      "Array items are not unique")

        if self.extensions and cs.unevaluated_items is not None:
            prefix = self._items_prefix_col(cs, col, dtype, path, depth)
            if prefix is not None:  # None => everything evaluated statically
                node.add(*self._each(col, cs.unevaluated_items, elem_type, path, depth,
                                     prefix=prefix))

        return node.done()

    def _each(self, arr: Column, sub: CompiledSchema, elem_type: T.DataType, path,
              depth: int, start: Optional[int] = None,
              prefix: Optional[Column] = None) -> Tuple[Column, Column]:
        """(valid, violations) of `sub` over every element of `arr`: items,
        additionalItems (`start` = the index of the first element) and
        unevaluatedItems (elements below `prefix` pass). `sub` compiles ONCE
        per element: both struct fields bind the same (ok, v) pair — halves
        the codegen tree and avoids duplicate rule_table registration
        (VERDICT r1 fix #3)."""
        def _elem(x, i):
            idx = i if start is None else i + start
            ipath = F.concat(path.cast("string"), F.lit("/"), idx.cast("string"))
            ok, v = self.compile_value(sub, x, elem_type, ipath, depth + 1)
            if prefix is not None:
                guard = i >= prefix
                ok = F.when(guard, ok).otherwise(F.lit(True))
                v = F.when(guard, v).otherwise(empty_violations())
            return F.struct(ok.alias("ok"), v.alias("v"))

        per_elem = F.transform(arr, _elem)
        return (F.forall(per_elem, lambda s: s["ok"]),
                F.flatten(F.transform(per_elem, lambda s: s["v"])))

    def _items_prefix_col(
        self, cs: CompiledSchema, col: Column, dtype: T.DataType, path, depth: int
    ) -> Optional[Column]:
        """Evaluated-prefix length for unevaluatedItems as an int Column
        (None = statically everything). In-place applicator branches donate
        their prefix only when they PASS, mirroring _conditionally_evaluated
        (schema.js evaluated-set union, 1373-1403)."""
        if depth > _MAX_DEPTH:
            return F.lit(0)
        if cs.items_all is not None or (
            cs.items_tuple is not None and cs.additional_items is not None
        ):
            return None
        p: Column = F.lit(len(cs.items_tuple) if cs.items_tuple is not None else 0)
        for s in _in_place(cs):
            sp = self._items_prefix_col(s, col, dtype, path, depth + 1)
            if sp is None:
                return None  # an unconditional applicator evaluates all
            p = F.greatest(p, sp)
        cond: list[tuple[Column, CompiledSchema]] = []
        for s in list(cs.any_of) + list(cs.one_of):
            cond.append((self.valid_only(s, col, dtype, path, depth + 1), s))
        if cs.if_ is not None:
            iv = self.valid_only(cs.if_, col, dtype, path, depth + 1)
            cond.append((iv, cs.if_))
            if cs.then_ is not None:
                # then/else donate only when they VALIDATE the value
                tv = self.valid_only(cs.then_, col, dtype, path, depth + 1)
                cond.append((iv & tv, cs.then_))
            if cs.else_ is not None:
                ev = self.valid_only(cs.else_, col, dtype, path, depth + 1)
                cond.append(((~iv) & ev, cs.else_))
        big = F.lit(2_147_483_647)
        for ok, s in cond:
            sp = self._items_prefix_col(s, col, dtype, path, depth + 1)
            spc = big if sp is None else sp
            p = F.greatest(p, F.when(ok, spc).otherwise(F.lit(0)))
        return p

    def _statically_evaluated(self, cs: CompiledSchema, name: str, depth: int = 0) -> bool:
        """Would `name` be evaluated by this schema or its in-place
        applicators (allOf/$ref)? Static twin of evaluatedPropertiesSet
        (schema.js:1153-1160, 1373-1377)."""
        if depth > _MAX_DEPTH:
            return False
        if name in cs.properties:
            return True
        if any(rx.search(name) for _, rx, _ in cs.pattern_properties):
            return True
        if cs.additional_properties is not None:
            return True
        return any(self._statically_evaluated(s, name, depth + 1) for s in _in_place(cs))

    def _branch_valid(self, s: CompiledSchema, col: Column, dtype: T.DataType,
                      path, depth: int, cache: dict) -> Column:
        """Validity column of an in-place applicator branch, memoized per
        (branch, value) so per-key evaluated-set gating does not recompile
        the same branch for every unevaluated struct key (O(K*B) codegen
        blowup otherwise); compiled valid-only so no orphan rules land in
        the broadcast rule table."""
        key = id(s)
        if key not in cache:
            cache[key] = self.valid_only(s, col, dtype, path, depth)
        return cache[key]

    def _conditionally_evaluated(
        self, cs: CompiledSchema, nm: str, col: Column, dtype: T.DataType,
        path, depth: int, cache: Optional[dict] = None,
    ) -> Optional[Column]:
        """Boolean Column: TRUE when a PASSING conditional in-place applicator
        branch (anyOf/oneOf/if-then-else) evaluates key `nm` — the dynamic
        half of the reference's evaluated-set union at finish
        (schema.js:1373-1403: only zero-error subvalidators donate their
        evaluatedPropertiesSet). Returns None when no conditional branch can
        ever cover `nm`, keeping the common-case plan free of re-evaluation."""
        if depth > _MAX_DEPTH:
            return None
        if cache is None:
            cache = {}

        def coverage(s: CompiledSchema):
            """Coverage of `nm` INSIDE branch `s`: True (python bool) when
            statically evaluated; else a Column from s's own nested
            conditionals (ADVICE r2 medium: a conditional nested inside a
            passing conditional branch also donates — mirrors the
            evaluator's recursive in-place evaluated-set union); else
            None."""
            if self._statically_evaluated(s, nm, depth + 1):
                return True
            return self._conditionally_evaluated(
                s, nm, col, dtype, path, depth + 1, cache
            )

        def gated(base: Column, cov) -> Column:
            return base if cov is True else base & cov

        conds: list[Column] = []
        for s in list(cs.any_of) + list(cs.one_of):
            cov = coverage(s)
            if cov is not None:
                conds.append(
                    gated(self._branch_valid(s, col, dtype, path, depth + 1, cache), cov)
                )
        if cs.if_ is not None:
            if_cov = coverage(cs.if_)
            then_cov = coverage(cs.then_) if cs.then_ is not None else None
            else_cov = coverage(cs.else_) if cs.else_ is not None else None
            if if_cov is not None or then_cov is not None or else_cov is not None:
                iv = self._branch_valid(cs.if_, col, dtype, path, depth + 1, cache)
                if if_cov is not None:
                    conds.append(gated(iv, if_cov))
                if then_cov is not None:
                    # then donates only when it VALIDATES the value itself
                    # (schema.js finish: zero-error subvalidators donate)
                    tv = self._branch_valid(cs.then_, col, dtype, path, depth + 1, cache)
                    conds.append(gated(iv & tv, then_cov))
                if else_cov is not None:
                    ev = self._branch_valid(cs.else_, col, dtype, path, depth + 1, cache)
                    conds.append(gated((~iv) & ev, else_cov))
        for s in _in_place(cs):
            c = self._conditionally_evaluated(s, nm, col, dtype, path, depth + 1, cache)
            if c is not None:
                conds.append(c)
        if not conds:
            return None
        out = conds[0]
        for c in conds[1:]:
            out = out | c
        return out

    # ------------------------------------------------------------------
    def _object_kernels(self, cs, col: Column, dtype: T.DataType, path, depth):
        """Struct columns: static key routing (properties -> fields).
        Map columns: dynamic keys via map HOFs (scalar subschemas only)."""
        node = _Node(self, cs.id, path)
        if isinstance(dtype, T.StructType):
            names = [f.name for f in dtype.fields]
            types = {f.name: f.dataType for f in dtype.fields}

            def n_present() -> Column:
                present = [F.when(col.getField(nm).isNotNull(), 1).otherwise(0) for nm in names]
                return sum(present[1:], present[0]) if present else F.lit(0)

            def has(k: str) -> Column:
                return col.getField(k).isNotNull() if k in types else F.lit(False)

            def missing(k: str) -> Column:
                return col.getField(k).isNull() if k in types else F.lit(True)

            self._object_keywords(node, cs, n_present, has, missing, missing)
            # const objects: NO missing-key leaf — the reference's
            # constRemain branch (schema.js:1360, "FIXME") is dead code, so
            # only constLength + per-present-key equality apply (absent
            # const keys validate vacuously via the routed subschemas)
            if self.extensions and cs.dependent_schemas:
                for k, dsub in sorted(cs.dependent_schemas.items()):
                    present_k = has(k)
                    dv, dp = self.compile_value(dsub, col, dtype, path, depth + 1)
                    node.add(F.when(present_k, dv).otherwise(F.lit(True)),
                             F.when(present_k, dp).otherwise(empty_violations()))
            # route fields (projection analog of initProperty, schema.js:1195-1224)
            _cond_cache: dict = {}  # branch validity shared across fields
            for nm in names:
                fpath = F.concat(path.cast("string"), F.lit("/" + nm))
                routed_subs = []
                if nm in cs.properties:
                    routed_subs.append(cs.properties[nm])
                for _, rx, psub in cs.pattern_properties:
                    if rx.search(nm):
                        routed_subs.append(psub)
                if not routed_subs and cs.additional_properties is not None:
                    routed_subs.append(cs.additional_properties)
                if cs.const_properties is not None and nm in cs.const_properties:
                    routed_subs.append(cs.const_properties[nm])
                if cs.unevaluated_properties is not None and not routed_subs \
                        and not self._statically_evaluated(cs, nm):
                    # static half of the evaluated-set union resolves at
                    # COMPILE time (struct keys are static); the dynamic half
                    # — anyOf/oneOf/if-then-else branches donate keys only
                    # when they PASS (schema.js:1373-1403) — gates the
                    # unevaluated subschema per row
                    uv, up = self.compile_value(
                        cs.unevaluated_properties, col.getField(nm),
                        types[nm], fpath, depth + 1)
                    dyn = self._conditionally_evaluated(
                        cs, nm, col, dtype, path, depth, _cond_cache)
                    if dyn is not None:
                        uv = F.when(dyn, F.lit(True)).otherwise(uv)
                        up = F.when(dyn, empty_violations()).otherwise(up)
                    node.add(uv, up)
                for sub in routed_subs:
                    try:
                        node.add(*self.compile_value(
                            sub, col.getField(nm), types[nm], fpath, depth + 1))
                    except ExpressionFallback:
                        if not (self.collect_field_fallbacks and depth == 0):
                            raise
                        self.field_fallbacks.append((nm, sub))
                if self.extensions and cs.property_names is not None:
                    # field names are compile-time constants: evaluate the
                    # name subschema NOW; emit a static violation only for
                    # rows where the property is present (field non-null)
                    from ..schema.evaluate import Evaluator as _PyEval

                    name_errors, _ = _PyEval(extensions=True).validate(cs.property_names, nm)
                    if name_errors:
                        node.leaf(col.getField(nm).isNotNull(), "propertyNames", None,
                                  F.lit(nm), "propertyNames mismatch", path=fpath)
        elif isinstance(dtype, T.MapType):
            if not isinstance(dtype.keyType, T.StringType):
                raise ExpressionFallback("map keys must be strings for object semantics")
            keys = F.map_keys(col)
            # `required` keeps its own NULL-safe form of the key test
            self._object_keywords(
                node, cs, lambda: F.size(keys),
                lambda k: F.array_contains(keys, k),
                lambda k: ~F.array_contains(keys, k),
                lambda k: ~F.coalesce(F.array_contains(keys, k), F.lit(False)))
            vtype = dtype.valueType
            for key, sub in cs.properties.items():
                fpath = F.concat(path.cast("string"), F.lit("/" + key))
                node.add(*self.compile_value(
                    sub, F.element_at(col, F.lit(key)), vtype, fpath, depth + 1))
            if cs.const_properties is not None:
                # no missing-key leaf: reference constRemain is dead code
                # (schema.js:1360) — absent keys validate vacuously
                for key, csub in sorted(cs.const_properties.items()):
                    fpath = F.concat(path.cast("string"), F.lit("/" + key))
                    node.add(*self.compile_value(
                        csub, F.element_at(col, F.lit(key)), vtype, fpath, depth + 1))
            for pat, rx, psub in cs.pattern_properties:
                if not rlike_safe(pat):
                    raise ExpressionFallback(f"ECMAScript-only key regex {pat!r}")
                jpat = rlike_pattern(pat)
                matched_vals = F.map_values(
                    F.map_filter(col, lambda k, v: k.rlike(jpat)))
                per_elem = F.transform(matched_vals, lambda x: self.valid_only(
                    psub, x, vtype, path, depth + 1))
                node.leaf(~F.forall(per_elem, lambda ok: ok), "patternProperties",
                          pat, F.lit(None), "patternProperties mismatch")
            if cs.additional_properties is not None:
                known = list(cs.properties.keys())
                apsub = cs.additional_properties

                def is_additional(k: Column) -> Column:
                    cond = ~k.isin(known) if known else F.lit(True)
                    for pat, _, _ in cs.pattern_properties:
                        cond = cond & ~k.rlike(rlike_pattern(pat))
                    return cond

                extra_vals = F.map_values(F.map_filter(col, lambda k, v: is_additional(k)))
                per_elem = F.transform(extra_vals, lambda x: self.valid_only(
                    apsub, x, vtype, path, depth + 1))
                node.leaf(~F.forall(per_elem, lambda ok: ok), "additionalProperties",
                          None, F.lit(None), "additionalProperties mismatch")
            if self.extensions and cs.property_names is not None:
                pn = cs.property_names
                per_key = F.transform(keys, lambda k: self.valid_only(
                    pn, k, T.StringType(), path, depth + 1))
                node.leaf(~F.forall(per_key, lambda ok: ok), "propertyNames",
                          None, F.lit(None), "propertyNames mismatch")
        else:
            raise ExpressionFallback(f"object keywords on {dtype.simpleString()}")
        return node.done()

    def _object_keywords(self, node: _Node, cs, count, has, missing, required_missing) -> None:
        """Property-count, `required` and `dependentRequired` checks of one
        object, shared by struct and map columns. `count()` builds the
        property count, called only when a count keyword is set; `has(k)`
        and `missing(k)` test one key for dependentRequired, and
        `required_missing(k)` tests one key for required."""
        if (cs.min_properties is not None or cs.max_properties is not None
                or cs.const_length is not None):
            n = count()
            if cs.min_properties is not None:
                node.leaf(n < F.lit(int(cs.min_properties)), "minProperties",
                          cs.min_properties, n, "Too few properties")
            if cs.max_properties is not None:
                node.leaf(n > F.lit(int(cs.max_properties)), "maxProperties",
                          cs.max_properties, n, "Too many properties")
            if cs.const_length is not None:
                # any const type incl. string length (schema.js:798-803)
                node.leaf(n != F.lit(int(cs.const_length)), "const",
                          cs.const_length, n, "Incorrect number of properties")
        if cs.required:
            # the reference emits BOTH rows per object (r3): the
            # endObject count check (schema.js:810) and the
            # finish()-time missing-key list in declaration order
            # (schema.js:1322-1324) — the list rides the dynamic-
            # expected slot of the compact encoding
            miss_flags = [required_missing(k) for k in cs.required]
            miss = [F.when(f, 1).otherwise(0) for f in miss_flags]
            n_missing = miss[0]
            for m in miss[1:]:
                n_missing = n_missing + m
            any_missing = n_missing > F.lit(0)
            node.leaf(any_missing, "required", 0, n_missing, "Required property missing")
            # json.dumps-style per-key literals (escaped at compile
            # time — keys are static), so the report string is byte-
            # identical to the evaluator's _show(json.dumps) form
            miss_list = F.concat(
                F.lit("["),
                F.concat_ws(", ", F.array_compact(F.array(*[
                    F.when(f, F.lit(json.dumps(k, ensure_ascii=False)))
                    for f, k in zip(miss_flags, cs.required)
                ]))),
                F.lit("]"),
            )
            node.leaf(any_missing, "required", None, F.lit(None),
                      "Required properties missing", exp=miss_list)
        if self.extensions and cs.dependent_required:
            for k, reqs in sorted(cs.dependent_required.items()):
                present_k = has(k)
                for r in reqs:
                    node.leaf(present_k & missing(r), "dependentRequired", 0, F.lit(1),
                              "Dependent property missing")
