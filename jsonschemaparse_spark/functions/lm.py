"""N-gram language-model perplexity scoring (the CCNet / GPT-3 era
quality signal: score web documents against an LM trained on a trusted
reference corpus; keep the low-perplexity head or stratify into
head/middle/tail buckets).

The reference (a single-document JSON validator) has no counterpart;
this sits in the repo's LLM-training-data tier next to the hashed
linear classifier (functions/classifier.py) — the classifier is a
discriminative gate, this is the generative one.

Model: word bigrams with add-alpha smoothing over the training vocab,
    P(w2 | w1) = (c(w1 w2) + alpha) / (c(w1) + alpha * V)
so an unseen bigram backs off to alpha / (c(w1) + alpha*V) and an
unseen history to 1/V — every score is finite without a separate
backoff table. Tokens are the _NORM convention (lowercased,
whitespace-split), matching the dedup/stats tier.

Scale shape (the 100-TB argument):
- training is two corpus scans (the bigram-type count, persisted and
  materialized eagerly, and the vocab count), each a map-side-combined
  hash aggregate whose shuffle is bounded by the vocabulary, not the
  corpus; history counts derive from the cached bigram table.
- scoring explodes the doc's bigrams once (the token array bound once
  inside the generator — the r5 CollapseProject/Generate lesson), joins
  the BROADCAST model tables (explicit F.broadcast: the model is the
  small side by construction; without the hint AQE would materialize
  the corpus-side shuffle first — r5 NOTES), and folds back to one row
  per doc with a map-side-combinable sum/count. No corpus-keyed
  shuffle other than the per-doc agg.
- max_bigrams caps the model (keep the most frequent); dropped bigrams
  are NOT silent — they score exactly like unseen bigrams, and
  train_bigram_lm reports how many were dropped in BigramLM.n_dropped
  (the no-silent-caps rule).

DuckDB oracle twin: fully algorithmic (same counts, same smoothing,
same log2); scores are rounded in the driver query so engine log/ulp
differences cannot flip the value hash (the classifier_scores
convention).

NULL convention: metric op over KEYED rows — a doc with fewer than 2
tokens (including NULL/empty text) has no bigrams and scores NULL
(perplexity of nothing is undefined, not 0)."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..idioms import bind_once, ensure_parallelism
from .dedup import norm_tokens as _tokens


def _bigram_rows(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per (doc, w1, w2) bigram occurrence. The token array is
    bound once as a lambda variable; the pair array is built inside the
    generator so CollapseProject cannot re-evaluate the split per
    element.

    r7: few-split inputs are spread first (interpreted generator — the
    engine-wide NOTES pitfall #4; pass-through on real corpora). A doc's
    bigram rows stay within one task either way — the generator emits
    them from one input row — so per-doc float aggregation order in
    scoring is unchanged."""
    df = ensure_parallelism(df.select(id_col, text_col))
    pairs = bind_once(_tokens(F.col(text_col)), lambda w: F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.struct(
                F.element_at(w, i).alias("w1"),
                F.element_at(w, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>")))
    return df.select(
        F.col(id_col).alias("_jsp_doc"),
        F.explode(pairs).alias("_jsp_bg"),
    ).select("_jsp_doc", F.col("_jsp_bg.w1").alias("w1"),
             F.col("_jsp_bg.w2").alias("w2"))


@dataclass
class BigramLM:
    """A trained bigram model: `bigrams` (w1, w2, n), `unigrams`
    (w1, n) — history counts over bigram POSITIONS, i.e. every token
    except each doc's last — `vocab_size`, `alpha`, and `n_dropped`
    (bigram types cut by max_bigrams; they score as unseen)."""

    bigrams: DataFrame
    unigrams: DataFrame
    vocab_size: int
    alpha: float
    n_dropped: int

    def unpersist(self) -> "BigramLM":
        """Release the model's cached executor storage (the
        CleanCorpusResult convention — ADVICE r6: long-lived sessions
        that retrain repeatedly otherwise accumulate storage)."""
        self.bigrams.unpersist()
        self.unigrams.unpersist()
        return self


def train_bigram_lm(
    df: DataFrame, text_col: str = "text", *, alpha: float = 0.5,
    max_bigrams: int | None = None, id_col: str | None = None,
) -> BigramLM:
    """Count bigrams/histories over the training corpus. vocab_size is
    the distinct-token count of the corpus (the smoothing denominator's
    V).

    Exactly TWO corpus scans (r6 review finding #3 — the first cut ran
    three, four with the cap): the bigram-type count — persisted and
    materialized HERE with a count() that doubles as the cap check (an
    unmaterialized model would re-run the training scan per scoring
    query, the r5 IVF-index lesson) — and the vocab count (V includes
    each doc's final token and single-token docs' tokens, so it is NOT
    derivable from the bigram table). Histories ARE derivable:
    c(w1) = sum over w2 of c(w1, w2), a model-sized agg over the cached
    counts, never a corpus scan."""
    key = id_col or "__row__"
    src = df if id_col else df.withColumn(
        key, F.monotonically_increasing_id())
    bg = _bigram_rows(src, key, text_col)
    bg_counts = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("n")).persist()
    n_types = bg_counts.count()  # corpus scan #1; materializes the cache
    unigrams = bg_counts.groupBy("w1").agg(F.sum("n").alias("n")).persist()
    n_dropped = 0
    bigrams = bg_counts
    if max_bigrams is not None and n_types > max_bigrams:
        n_dropped = n_types - max_bigrams
        # deterministic cut: frequency desc, then (w1, w2) asc —
        # histories stay the PRE-cap sums so capped bigrams score
        # exactly like unseen ones
        bigrams = bg_counts.orderBy(
            F.col("n").desc(), "w1", "w2").limit(max_bigrams).persist()
        # materialize the superseding tables (model-sized actions over
        # the cached counts), then release bg_counts — it is otherwise
        # pinned in executor storage for the model's lifetime with no
        # release handle (ADVICE r6)
        bigrams.count()
        unigrams.count()
        bg_counts.unpersist()
    vocab = src.select(
        F.explode(_tokens(F.col(text_col))).alias("t")
    ).distinct().count()  # corpus scan #2
    return BigramLM(
        bigrams=bigrams,
        unigrams=unigrams,
        vocab_size=max(vocab, 1),
        alpha=alpha,
        n_dropped=n_dropped,
    )


def lm_perplexity(
    df: DataFrame, lm: BigramLM, id_col: str, text_col: str = "text",
) -> DataFrame:
    """Per-doc bigram log2-perplexity: df + (n_bigrams, log2_ppl,
    perplexity). log2_ppl = mean over bigram positions of
    -log2 P(w2|w1); docs with < 2 tokens get NULL scores."""
    a, v = float(lm.alpha), int(lm.vocab_size)
    bg = _bigram_rows(df, id_col, text_col)
    joined = (
        bg.join(F.broadcast(lm.bigrams.withColumnRenamed("n", "_jsp_nbg")),
                ["w1", "w2"], "left")
        .join(F.broadcast(lm.unigrams.withColumnRenamed("n", "_jsp_nw1")),
              ["w1"], "left")
    )
    logp = F.log2(
        (F.coalesce(F.col("_jsp_nbg"), F.lit(0)).cast("double") + a)
        / (F.coalesce(F.col("_jsp_nw1"), F.lit(0)).cast("double") + a * v))
    scored = joined.groupBy("_jsp_doc").agg(
        F.count(F.lit(1)).alias("_jsp_n"),
        F.avg(-logp).alias("_jsp_log2ppl"),
    )
    return (
        df.join(scored, df[id_col] == scored["_jsp_doc"], "left")
        .withColumn("n_bigrams",
                    F.coalesce(F.col("_jsp_n"), F.lit(0)).cast("long"))
        .withColumn("log2_ppl", F.col("_jsp_log2ppl"))
        .withColumn("perplexity", F.pow(F.lit(2.0), F.col("_jsp_log2ppl")))
        .drop("_jsp_doc", "_jsp_n", "_jsp_log2ppl")
    )


def lm_buckets(
    scored: DataFrame, *, buckets: tuple[float, ...] = (1 / 3, 2 / 3),
    score_col: str = "log2_ppl", accuracy: int = 10_000,
    thresholds: "list[float] | None" = None,
) -> DataFrame:
    """CCNet head/middle/tail stratification: adds `lm_bucket` (0 =
    lowest-perplexity stratum) from quantile cut points of `score_col`.

    thresholds: pass precomputed cut points (the production shape — the
    CCNet paper computes them once per language on a sample, then every
    shard applies the same constants; a 100-TB run must NOT recompute
    global quantiles per shard). When None, cut points come from ONE
    percentile_approx pass (GK sketch, `accuracy`) over `scored` — the
    same approx-by-design contract as stats.column_profile's quantiles:
    deterministic, but not DuckDB-twinnable, so drive correctness
    through the thresholds= path (exact SQL quantiles) and pin the
    approx path's monotonicity in pytest.

    NULL scores (unscoreable docs) get bucket NULL — they are neither
    head nor tail."""
    if thresholds is None:
        qs = [float(q) for q in buckets]
        row = scored.select(
            F.percentile_approx(score_col, qs, accuracy).alias("t")).first()
        thresholds = [float(t) for t in row["t"]]
    expr = F.when(F.col(score_col).isNull(), F.lit(None).cast("int"))
    for b, t in enumerate(thresholds):
        expr = expr.when(F.col(score_col) <= t, b)
    expr = expr.otherwise(len(thresholds))
    return scored.withColumn("lm_bucket", expr)
