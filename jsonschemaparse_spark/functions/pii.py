"""PII detection + redaction for web-text corpora (the Dolma / BigScience
pre-training scrub: emails, phone numbers, IP addresses, SSN-shaped ids
masked with typed placeholder tokens before training).

The reference (a single-document JSON validator) has no counterpart; this
sits in the repo's LLM-training-data tier next to the quality gates
(functions/text.py) and dedup family (functions/dedup.py).

Scale shape (the 100-TB argument): every operator here is a single
codegen'd Project over the corpus scan — `regexp_count` for detection,
a fixed chain of `regexp_replace` for redaction. No shuffle, no Python,
no UDF; the scrub rides whatever scan the pipeline already pays for and
fuses into the same Project as the quality gates (one-scan rule,
NOTES round 6 #1).

Pattern portability: Java regex (Spark) and RE2 (the DuckDB oracle)
disagree on lookaround/backrefs and can disagree on ambiguous
alternations, so every pattern below is alternation-free with greedy
bounded quantifiers — shapes where Java's greedy-backtracking match and
RE2's leftmost-longest match coincide (same discipline as
functions/web.py's canonical_url). Phone matching requires a leading
'+country' to stay deterministic and to keep false positives (dates,
ids) out — the published scrubs accept that recall trade.

NULL convention (tests/test_null_conventions.py): `redact_pii` is a
REWRITING op — NULL text stays NULL (regexp_replace propagates NULL);
`pii_flags` is a METRIC op — NULL scores as empty (zero counts,
has_pii false).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..idioms import ensure_parallelism

# RE2-portable (no lookaround, no backrefs, no ambiguous alternation).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+\d{1,3}[ -]?\d{2,4}[ -]?\d{2,4}[ -]?\d{2,4}"
SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"

EMAIL_TOKEN = "<EMAIL>"
PHONE_TOKEN = "<PHONE>"
IPV4_TOKEN = "<IP>"
SSN_TOKEN = "<ID>"

# Redaction order is part of the contract (the oracle replays it):
# emails first (their local parts may contain digit runs), then the
# dotted/dashed numeric shapes, phone last so a '+cc' prefix never
# swallows part of an already-matched SSN/IP.
REDACTION_ORDER = (
    (EMAIL_RE, EMAIL_TOKEN),
    (SSN_RE, SSN_TOKEN),
    (IPV4_RE, IPV4_TOKEN),
    (PHONE_RE, PHONE_TOKEN),
)


def _count(text: Column, pattern: str) -> Column:
    return F.coalesce(F.regexp_count(text, F.lit(pattern)), F.lit(0))


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-category non-overlapping match counts as named Columns —
    composable into any projection (e.g. alongside text.quality_flags
    so PII detection shares the corpus scan with the quality gates)."""
    return {
        "n_emails": _count(text, EMAIL_RE),
        "n_phones": _count(text, PHONE_RE),
        "n_ipv4": _count(text, IPV4_RE),
        "n_ssn_ids": _count(text, SSN_RE),
    }


def pii_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """df + n_emails/n_phones/n_ipv4/n_ssn_ids + has_pii. One codegen
    Project; NULL text scores zero everywhere.

    r7: few-split inputs are spread first (the interpreted/regex-heavy
    scan otherwise serializes onto the input's split count — measured
    3.0 s -> 0.7 s at sf1.0 on a 2-split input; pass-through on real
    multi-split corpora)."""
    df = ensure_parallelism(df)
    counts = pii_counts(F.col(text_col))
    out = df
    for name, col in counts.items():
        out = out.withColumn(name, col)
    has = None
    for name in counts:
        c = F.col(name) > 0
        has = c if has is None else (has | c)
    return out.withColumn("has_pii", has)


def redact_text(text: Column) -> Column:
    """`text` with every PII match replaced by its typed token, applied
    in REDACTION_ORDER. NULL in -> NULL out."""
    out = text
    for pattern, token in REDACTION_ORDER:
        out = F.regexp_replace(out, pattern, token)
    return out


def redact_pii(df: DataFrame, text_col: str = "text",
               out_col: str | None = None) -> DataFrame:
    """df with `text_col` redacted (in place by default, or into
    `out_col`). Rewriting op: NULL text stays NULL, every row kept."""
    df = ensure_parallelism(df)  # r7: see pii_flags
    return df.withColumn(out_col or text_col, redact_text(F.col(text_col)))


def pii_oracle_sql(text_expr: str) -> tuple[str, str]:
    """(counts_select_fragment, redacted_expr) — the DuckDB twin of
    pii_counts/redact_text over `text_expr`, built from the SAME pattern
    constants so engine and oracle cannot drift. DuckDB single-quoted
    strings keep backslashes literal; patterns contain no quotes."""
    counts = ", ".join(
        f"coalesce(len(regexp_extract_all({text_expr}, '{pat}')), 0) AS {name}"
        for name, pat in (("n_emails", EMAIL_RE), ("n_phones", PHONE_RE),
                          ("n_ipv4", IPV4_RE), ("n_ssn_ids", SSN_RE)))
    redacted = text_expr
    for pattern, token in REDACTION_ORDER:
        redacted = (f"regexp_replace({redacted}, '{pattern}', "
                    f"'{token}', 'g')")
    return counts, redacted
