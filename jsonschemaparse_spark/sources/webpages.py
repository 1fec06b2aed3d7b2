"""Deterministic Common-Crawl-style `webpages` table synthesis + text extraction.

BASELINE.json input_hint table shape:
    (url:string, warc_ts:timestamp, html:binary, text:string, lang:string)

Everything is a pure function of (seed, row id) built from Spark expressions
over ``spark.range(n)`` — no driver-side loops, no RNG state — so the same
table materializes identically at any parallelism and any scale
(FIXTURES.md §F1 "Scale/determinism contract"). At 10^12 rows this is just a
bigger range; generation parallelizes embarrassingly.

Seeded anomalies (fixed, index-addressable):
- ~1% of rows get lang outside the enum ("xx")          -> enum violations
- ~0.5% get invalid UTF-8 appended to html              -> charset violations
  (parity with the reference's UTF-8 rejection, parse.js:1051-1078)
- ~0.2% get empty text                                   -> minLength violations
- host ids are Zipf-skewed                               -> skew-handling tests
- ~2% of warc_ts are late by 1h                          -> watermark tests
"""

from __future__ import annotations

import html as _html
import re as _re
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..idioms import ensure_parallelism

SEED = 42
N_HOSTS = 1000
LANGS = ["en", "de", "fr", "es", "zh", "ja", "ru", "pt", "it", "nl"]
# cumulative Zipf-ish language weights; tail 1% -> "xx" (violation seed)
_LANG_CUM = [0.42, 0.54, 0.64, 0.73, 0.81, 0.87, 0.92, 0.95, 0.97, 0.99]
_WORDS = (
    "the spark data row table scan filter join group sort merge hash window "
    "stream batch query plan shuffle skew salt broadcast sketch drift page "
    "crawl host link text token dragon \U0001F432 schema rule check"
).split(" ")

BASE_TS = "2026-01-01 00:00:00"


def _u(col, salt: int):
    """Deterministic uniform in [0,1) from (id, salt): xxhash64 is a pure
    JVM-side function — keeps generation inside whole-stage codegen."""
    return (F.abs(F.xxhash64(col, F.lit(salt), F.lit(SEED))) % 1000000) / 1000000.0


def synthesize_webpages(spark: SparkSession, n_docs: int, partitions: int | None = None,
                        id_offset: int = 0) -> DataFrame:
    """Build the canonical webpages table. Columns exactly per input_hint.
    id_offset shifts the doc-id range so independent shards are disjoint."""
    df = spark.range(id_offset, id_offset + n_docs, 1,
                     partitions or spark.sparkContext.defaultParallelism)
    i = F.col("id")

    # Zipf-skewed host: u^4 concentrates mass near host 0 (SURVEY.md §2.11 skew)
    host = F.floor(F.pow(_u(i, 1), 4.0) * N_HOSTS).cast("int")

    # language via inverse-CDF thresholds on one uniform
    u_lang = _u(i, 2)
    lang = F.lit("xx")  # the >0.99 tail: enum-violation seed
    for j in range(len(LANGS) - 1, -1, -1):
        lang = F.when(u_lang < _LANG_CUM[j], F.lit(LANGS[j])).otherwise(lang)

    # deterministic text: 20-199 words drawn by per-(id,position) hash
    n_words = (20 + F.abs(F.xxhash64(i, F.lit(3), F.lit(SEED))) % 180).cast("int")
    words_arr = F.array(*[F.lit(w) for w in _WORDS])
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_words),
            lambda j: F.element_at(
                words_arr, (F.abs(F.xxhash64(i, j, F.lit(SEED))) % len(_WORDS) + 1).cast("int")
            ),
        ),
        " ",
    )
    # ~0.2% empty text (minLength violation seed)
    text = F.when(_u(i, 4) < 0.002, F.lit("")).otherwise(text)

    # html: template wrapping the HTML-escaped text. Escape matches Python
    # html.escape(quote=False) so extraction round-trips byte-identically.
    esc = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(text, "&", "&amp;"), "<", "&lt;"), ">", "&gt;"
    )
    title = F.concat(F.lit("Page "), i.cast("string"))
    html_str = F.concat(
        F.lit("<html><head><title>"), title,
        F.lit('</title></head><body class="m"><p>'), esc,
        F.lit("</p><footer>host"), host.cast("string"), F.lit("</footer></body></html>"),
    )
    html_bin = F.encode(html_str, "UTF-8")
    # ~0.5% invalid UTF-8 tail byte (charset-violation seed, parse.js:1051-1078)
    html_bin = F.when(
        _u(i, 5) < 0.005, F.concat(html_bin, F.unhex(F.lit("FF")))
    ).otherwise(html_bin)

    # warc_ts: monotone base + per-row step, ~2% late by 1h (watermark seed)
    ts = F.to_timestamp(F.lit(BASE_TS)) + F.make_dt_interval(
        F.lit(0), F.lit(0), F.lit(0),
        (i % 86400) + F.when(_u(i, 6) < 0.02, -3600.0).otherwise(0.0),
    )

    url = F.concat(
        F.lit("https://host"), host.cast("string"), F.lit(".example/p/"), i.cast("string")
    )

    return df.select(
        url.alias("url"),
        ts.alias("warc_ts"),
        html_bin.alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )


# ---------------------------------------------------------------------------
# text extraction (the reference-parser analog): binary html -> text
# ---------------------------------------------------------------------------
_TAG_RE = _re.compile(r"<[^>]*>")
_P_RE = _re.compile(r"<p>(.*?)</p>", _re.S)


def _extract_one(raw: bytes | None) -> str | None:
    """Strict UTF-8 decode + <p> body extraction + entity unescape.

    Parity contract (BASELINE.md): per-url extracted text must be
    byte-identical to the source text. Invalid UTF-8 -> None (the caller
    emits a charset violation row), mirroring the reference's hard rejection
    of malformed sequences (parse.js:1051-1078) without failing the job.
    """
    if raw is None:
        return None
    try:
        s = bytes(raw).decode("utf-8", errors="strict")
    except UnicodeDecodeError:
        return None
    m = _P_RE.search(s)
    body = m.group(1) if m else _TAG_RE.sub("", s)
    return _html.unescape(body)


def extract_text(df: DataFrame, html_col: str = "html", out_col: str = "extracted_text") -> DataFrame:
    """Arrow-batched extraction over mapInPandas — one Python call per batch,
    vectorized pandas `.map` inside; no per-row UDF dispatch."""
    from pyspark.sql import types as T

    schema = T.StructType(list(df.schema.fields) + [T.StructField(out_col, T.StringType(), True)])
    cols = df.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[cols].copy()
            out[out_col] = pdf[html_col].map(_extract_one)
            yield out

    return ensure_parallelism(df).mapInPandas(run, schema=schema)


def charset_violations(extracted: DataFrame, key_col: str = "url",
                       html_col: str = "html", out_col: str = "extracted_text") -> DataFrame:
    """Rows whose html failed strict UTF-8 decode -> violation rows with
    keyword 'charset' (ResourceLimit/charset analog of parse.js:166,1051-1078)."""
    return (
        extracted.filter(F.col(html_col).isNotNull() & F.col(out_col).isNull())
        .select(
            F.col(key_col),
            F.lit("vnd.rules:#charset").alias("constraint_id"),
            F.lit("/html").alias("path"),
            F.lit("charset").alias("keyword"),
            F.lit("UTF-8").alias("expected"),
            F.lit(None).cast("string").alias("actual"),
            F.lit("Invalid UTF-8 sequence").alias("message"),
        )
    )
