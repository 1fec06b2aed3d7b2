"""Unicode canonicalization for web-text corpora.

Byte-different but canonically-equivalent documents (decomposed vs
composed accents, NBSP vs space, CRLF vs LF crawl sources) defeat exact
dedup and split minhash shingles; every published web-corpus recipe
(C4, Gopher, Dolma, RefinedWeb) canonicalizes before keying. The
reference (a single-document JSON validator) has no counterpart; this
sits in the repo's LLM-training-data tier as the step BEFORE
functions/dedup.py's content keys.

Scale shape (the 100-TB argument): NFC genuinely needs per-character
Unicode table lookups, so it is the one step here that drops to Python —
an Arrow-batched pandas UDF (one ArrowEvalPython node), never row-at-a-
time. Two fast paths keep the Python cost near zero on real crawls:
`str.isascii()` (a C-level scan; ASCII is closed under all four
normalization forms) skips ~95% of English web text, and
`unicodedata.is_normalized` (a quick-check pass that usually answers
without allocating) skips non-ASCII text that is already composed —
UTF-8 sources overwhelmingly emit NFC already. Everything else (control
strip, NBSP, newline canonicalization, horizontal-whitespace collapse)
is a codegen'd `regexp_replace`/`translate` chain that CollapseProject
fuses into ONE Project above the Arrow node — no shuffle, no extra scan.

Pattern portability (same discipline as functions/pii.py): every regex
is alternation-free with explicit character classes so Java regex
(Spark) and RE2 (the DuckDB oracle) match identically; the oracle twins
NFC itself via DuckDB's `nfc_normalize`, verified character-identical
to Python's `unicodedata.normalize('NFC', ...)` over the pinned case
corpus in tests/test_normalize.py.

Step order is part of the contract (the oracle replays it verbatim):
NFC first, then newline canonicalization, NBSP, control strip,
whitespace collapse. A control byte sitting between a base character
and a combining mark therefore blocks composition — pinned in tests as
the documented edge, not a bug.

NULL convention (tests/test_null_conventions.py): REWRITING op —
NULL text stays NULL.
"""

from __future__ import annotations

import unicodedata

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..idioms import ensure_parallelism

# C0 controls except \t \n \r, plus DEL. \x0B/\x0C (VT, FF) are stripped
# here so the collapse step only needs [ \t].
CONTROL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"
_NBSP = " "


def _make_nfc_udf(form: str):
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    @pandas_udf("string")
    def _nfc(s):  # pd.Series -> pd.Series
        def norm(x):
            if x is None:
                return None
            # ASCII is closed under every normalization form.
            if x.isascii():
                return x
            if unicodedata.is_normalized(form, x):
                return x
            return unicodedata.normalize(form, x)

        return s.map(norm)

    return _nfc


def unicode_normalize(text: Column, form: str = "NFC") -> Column:
    """Arrow-batched Unicode normalization of a string column."""
    return _make_nfc_udf(form)(text)


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    output_col: str | None = None,
    *,
    form: str = "NFC",
    normalize_newlines: bool = True,
    nbsp_to_space: bool = True,
    strip_controls: bool = True,
    collapse_whitespace: bool = False,
) -> DataFrame:
    """Canonicalize a text column; returns df with `output_col`
    (default: rewrite `text_col` in place).

    form: Unicode normalization form. 'NFC' (default) is the only form
    the DuckDB oracle can twin (`nfc_normalize`); NFKC/NFD/NFKD are
    available for callers and pinned against `unicodedata` in pytest
    only. Pass form=None to skip the Python step entirely (pure-JVM
    cleanup chain, zero Python at 100 TB).

    normalize_newlines: CRLF / lone CR -> LF.
    nbsp_to_space: U+00A0 -> ' ' (the single most common non-ASCII byte
    in boilerplate HTML; without this, line keys differ across sources).
    strip_controls: drop C0 controls (except tab/newline; CR is handled
    by the newline step first) and DEL.
    collapse_whitespace: runs of [ \\t] -> one space (default off — it
    rewrites prose spacing, which some gates measure).
    """
    # r7: spread few-split inputs so the Arrow normalize batches use
    # every core (pass-through on multi-split corpora). Only when the
    # Python step actually runs: form=None is a pure-codegen regexp
    # chain where the spreading shuffle costs more than it saves (the
    # c4_quality_flags / validate_dataframe measurement).
    if form is not None:
        df = ensure_parallelism(df)
    out_col = output_col or text_col
    col: Column = F.col(text_col)
    if form is not None:
        col = unicode_normalize(col, form)
    if normalize_newlines:
        # \r\n? is greedy-optional: both Java and RE2 take the longest
        # match, so CRLF collapses in one pass and lone CR follows.
        col = F.regexp_replace(col, r"\r\n?", "\n")
    if nbsp_to_space:
        col = F.translate(col, _NBSP, " ")
    if strip_controls:
        col = F.regexp_replace(col, CONTROL_RE, "")
    if collapse_whitespace:
        col = F.regexp_replace(col, r"[ \t]+", " ")
    return df.withColumn(out_col, col)
