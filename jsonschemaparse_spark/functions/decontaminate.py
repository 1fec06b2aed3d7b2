"""Benchmark decontamination: flag/remove training documents that share a
word n-gram with an evaluation set (the GPT-3 appendix-C / Gopher A1.2
recipe — 13-gram exact-overlap decontamination).

The reference (a single-document JSON validator) has no counterpart; this
belongs to the repo's LLM-training-data tier next to the dedup family
(functions/dedup.py) and the Gopher/C4 quality gates (functions/text.py).

Scale shape (the 100-TB argument): the eval side is benchmarks — tiny
relative to the corpus (millions of n-grams at most), so its distinct
n-gram set BROADCASTS. The training side explodes one row per n-gram but
that is per-partition compute feeding a broadcast hash join — no shuffle
of the corpus. The only shuffled data is the matched (doc, n-gram) rows
feeding the contaminated-id distinct (O(contaminated), not O(corpus)),
and the contaminated-id set itself re-broadcasts for the final flag/anti
join. A corpus scan, two broadcasts, zero corpus-sized shuffles.

Tokenization matches the dedup tier (normalized_text: lower + trim +
whitespace collapse) so decontamination and near-dup share one text
convention. Unlike `dedup.shingles`, short documents (< n words) produce
NO n-grams rather than a whole-doc fallback: decontamination semantics
are "shares a full n-gram window", and a shorter text cannot. NULL text
normalizes to '' -> zero words -> zero n-grams -> never contaminated
(keying-op NULL convention, tests/test_null_conventions.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..idioms import bind_once, ensure_parallelism
from .dedup import normalized_text

CONTAMINATED_COL = "contaminated"


def word_ngrams(text: Column, n: int = 13) -> Column:
    """Distinct word n-gram array of `text` (space-joined windows over
    normalized tokens). Empty array when the text has fewer than n words
    (no whole-doc fallback — see module docstring). Pure HOF expression,
    stays in the one corpus-scan Project.

    The token array is bound ONCE as a lambda variable (the repo's
    element_at(transform(array(words), ...), 1) idiom — chunking.py,
    dedup._substring_rows): referencing `words` free inside the window
    transform would re-evaluate the split+filter per emitted n-gram,
    O(words^2) per doc (ADVICE r6, ~100x on 4k-word docs)."""
    words = F.filter(F.split(normalized_text(text), " "),
                     lambda w: w != F.lit(""))

    def _grams(w: Column) -> Column:
        m = F.size(w)
        # concat_ws over n element_at reads — no per-window sub-array
        # allocation (same-value swap as dedup.shingles; measured
        # 1.55 s -> 1.18 s on the bench decontaminate shape at sf1.0)
        return F.when(
            m >= n,
            F.transform(
                F.sequence(F.lit(1), m - (n - 1)),
                lambda j: F.concat_ws(
                    " ", *[F.element_at(w, j + F.lit(i)) for i in range(n)]),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.array_distinct(bind_once(words, _grams))


def eval_ngram_set(eval_df: DataFrame, text_col: str = "text",
                   n: int = 13) -> DataFrame:
    """Global distinct n-gram table of the evaluation set — the small
    side. One column `ngram`. Callers with many benchmarks union them
    first; the distinct collapses shared grams before the broadcast."""
    return (
        eval_df.select(F.explode(word_ngrams(F.col(text_col), n)).alias("ngram"))
        .distinct()
    )


def contaminated_ids(train_df: DataFrame, eval_df: DataFrame, id_col: str,
                     text_col: str = "text", eval_text_col: str = "text",
                     n: int = 13, min_overlap: int = 1) -> DataFrame:
    """Distinct ids of training docs sharing >= min_overlap DISTINCT
    n-grams with the eval set. min_overlap=1 (the published recipe) is a
    plain distinct; higher thresholds count distinct matched grams per
    doc (a groupBy keyed on doc id — map-side combine applies, and only
    matched rows reach it)."""
    grams = eval_ngram_set(eval_df, eval_text_col, n)
    # The n-gram HOF Project is interpreted (CodegenFallback), so a
    # single-split input would serialize the whole corpus scan onto one
    # core (NOTES pitfall #4, measured 4.7 s -> 0.6 s at sf0.1).
    # ensure_parallelism repartitions ONLY when splits < cores/2 — real
    # multi-split corpora pass through shuffle-free, and only the
    # two-column (id, text) projection is ever shuffled.
    matches = (
        ensure_parallelism(train_df.select(id_col, text_col))
        .select(F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("ngram"))
        .join(F.broadcast(grams), "ngram")
    )
    if min_overlap <= 1:
        return matches.select(id_col).distinct()
    return (
        matches.groupBy(id_col)
        .agg(F.count_distinct("ngram").alias("_n_hits"))
        .where(F.col("_n_hits") >= min_overlap)
        .select(id_col)
    )


def contamination_flags(train_df: DataFrame, eval_df: DataFrame, id_col: str,
                        text_col: str = "text", eval_text_col: str = "text",
                        n: int = 13, min_overlap: int = 1) -> DataFrame:
    """train_df + boolean `contaminated` column. The contaminated-id set
    is small (it is bounded by the eval set's reach), so the flag join
    broadcasts it back — the corpus never shuffles."""
    hits = contaminated_ids(train_df, eval_df, id_col, text_col,
                            eval_text_col, n, min_overlap)
    hits = F.broadcast(hits.withColumn(CONTAMINATED_COL, F.lit(True)))
    return (
        train_df.join(hits, id_col, "left")
        .withColumn(CONTAMINATED_COL,
                    F.coalesce(F.col(CONTAMINATED_COL), F.lit(False)))
    )


def decontaminate(train_df: DataFrame, eval_df: DataFrame, id_col: str,
                  text_col: str = "text", eval_text_col: str = "text",
                  n: int = 13, min_overlap: int = 1) -> DataFrame:
    """Training frame with contaminated docs REMOVED (broadcast
    left-anti on the contaminated-id set). Same columns as train_df."""
    hits = contaminated_ids(train_df, eval_df, id_col, text_col,
                            eval_text_col, n, min_overlap)
    return train_df.join(F.broadcast(hits), id_col, "left_anti")
