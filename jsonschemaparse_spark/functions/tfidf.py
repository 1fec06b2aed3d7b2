"""TF-IDF term weighting + per-document keyword extraction (the
retrieval/curation signal: which terms characterize a document against
the corpus — used for topic bucketing, domain mixing, and as cheap
keyword metadata on training shards).

The reference (awwright/jsonschemaparse, a single-document JSON
validator) has no counterpart; this sits in the repo's
LLM-training-data tier next to word_counts/vocabulary (corpus-global
frequencies) — TF-IDF is the per-document refinement.

Weighting: the sklearn smooth_idf convention,
    idf(t)   = ln((1 + N) / (1 + df(t))) + 1
    tfidf    = tf * idf
(tf = raw count of t in the doc) — always positive, no division by
zero, and every factor is an exact integer until the one ln(), so a
6dp-rounded DuckDB twin is exact (the lm_perplexity convention).

Scale shape (the 100-TB argument):
- ONE explode of the token array feeds both sides: per-doc term counts
  are a (doc, token) hash aggregate (map-side combined; every shuffle
  key carries the doc id, so no hot-token skew is possible), and
  document frequencies re-aggregate THOSE counts by token (shuffle
  bounded by the vocabulary, never the corpus — df(t) is the count of
  (doc, token) rows, no distinct needed because the first agg already
  collapsed per-doc repeats).
- the df table joins back BROADCAST (explicit hint: it is vocab-sized
  by construction; without it AQE would shuffle-write the corpus-sized
  term-count side first — the r5 lm lesson).
- N (corpus doc count) is one count() action bound as a literal — the
  train-side convention (lm/classifier models also carry driver-side
  scalars); at 100 TB this is a metadata-cheap aggregate, not a scan
  of the text.
- top_keywords ranks within doc partitions only (the window key is the
  doc id — bounded partitions, no global sort).

NULL convention: keyed/metric op — NULL/empty text yields no terms
(and so no keyword rows), matching word_counts."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..idioms import ensure_parallelism
from .dedup import norm_tokens as _tokens


def term_counts(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(doc, token, tf): raw per-document term counts. One explode +
    one map-side-combined hash aggregate keyed on (doc, token).

    r7: few-split inputs are spread first (interpreted tokenize — the
    engine-wide NOTES pitfall #4; measured 3.4 s -> 1.6 s at sf1.0 for
    top_keywords on a 2-split input; pass-through on real corpora)."""
    src = ensure_parallelism(df.select(id_col, text_col))
    return (
        src.select(F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tf_idf(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
           *, min_df: int = 1) -> DataFrame:
    """(doc, token, tf, df, tfidf) with smooth idf. `min_df` prunes
    hapax noise BEFORE the join-back (the df table shrinks, the
    broadcast stays small). tfidf is rounded to 6dp — the oracle-exact
    boundary for the single ln()."""
    n_docs = df.count()
    tc = term_counts(df, id_col, text_col)
    # df(t) counts tc's rows per token — but written as count(*), the
    # optimizer collapses this branch's per-doc aggregate to a DISTINCT
    # (the tf value is unused), its (doc, token) Exchange then differs
    # from tc's own, ReuseExchange no longer fires, and the corpus is
    # TOKENIZED TWICE (plan-audited: 2 Scans + 2 Generates; with the
    # reuse, the second branch reads the shuffle). Referencing tf keeps
    # the partial-count in the branch, making the exchange subtrees
    # identical — tf >= 1 always, so the value is unchanged.
    dfreq = tc.groupBy("token").agg(
        F.count(F.when(F.col("tf") >= 1, 1)).alias("df"))
    if min_df > 1:
        dfreq = dfreq.filter(F.col("df") >= min_df)
    idf = F.log((1.0 + float(n_docs)) / (1.0 + F.col("df"))) + F.lit(1.0)
    return (
        tc.join(F.broadcast(dfreq), "token")
        .select(
            F.col(id_col), "token", "tf", "df",
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )


def top_keywords(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", *, k: int = 5,
                 min_df: int = 1) -> DataFrame:
    """Per-document top-k terms by tfidf with a DETERMINISTIC tie-break
    (tfidf desc, token asc): (doc, rank, token, tfidf), rank from 1.
    The window partitions by doc id — per-partition work is bounded by
    the doc's distinct terms, so the rank never sees corpus-scale
    state."""
    scored = tf_idf(df, id_col, text_col, min_df=min_df)
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("token").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col(id_col), F.col("rank").cast("int").alias("rank"),
                "token", "tfidf")
    )
