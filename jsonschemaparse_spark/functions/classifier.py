"""Model-based quality scoring: a hashed linear (fastText-style)
classifier evaluated entirely JVM-side.

Production webtext curation (the CCNet / GPT-3 / LLaMA recipes) filters
documents with a linear model over hashed token features — the model is
tiny, the corpus is 100 TB, so the engine-side problem is evaluating
`score = sigmoid(mean_w(tokens))` inside the corpus scan with no Python
and no shuffle. That plumbing is what this module ships:

 * tokens come from the engine's standard whitespace split (the same
   convention as text.token_count / the Gopher gate);
 * each token maps to a weight, via (a) a caller-supplied dict — an
   inline map LITERAL, right for lexicon-sized vocabularies (~10k
   entries; beyond that the expression tree itself bloats every task
   binary and falls out of codegen), (b) `classify_quality_with_table`
   — explode + broadcast-join against a weights DataFrame, the path
   for full fastText-scale vocabularies (100k-1M rows), or (c) the
   deterministic hashed stand-in below;
 * score is an `aggregate` HOF over the token array — one codegen'd
   projection, zero Python, zero shuffle, composable into the same
   single corpus scan as the quality gates (one-scan rule).

The hashed stand-in weight is `top32(md5(token ':' seed)) / 2^32 - 0.5`
— uniform on [-0.5, 0.5), a pure function of the token text, and
expressible identically in DuckDB (`CAST('0x'||substr(md5(..),1,8) AS
BIGINT)`), so the oracle exercises the REAL evaluation path end-to-end.
Swapping in trained fastText weights is a weights-dict argument, not a
code change; training itself is out of engine scope (the reference —
a JSON validator, awwright/jsonschemaparse — has no counterpart; this
module belongs to the repo's LLM-training-data tier).

NULL convention: gates/scoring treat NULL text as empty (score 0.0,
n_tokens 0) — the engine-wide rule pinned in tests/test_null_conventions.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..idioms import ensure_parallelism

TWO_32 = float(1 << 32)


def _tokens(text: Column) -> Column:
    t = F.lower(F.coalesce(text, F.lit("")))
    return F.filter(F.split(t, r"\s+"), lambda w: w != F.lit(""))


def hashed_token_weight(token: Column, seed: int = 0) -> Column:
    """Deterministic stand-in weight in [-0.5, 0.5): the top 32 bits of
    md5(token ':' seed), scaled. `conv` parses the 8 hex chars JVM-side;
    the DuckDB twin is a '0x' string cast (classifier_weight_sql)."""
    h = F.substring(F.md5(F.concat(token, F.lit(f":{seed}"))), 1, 8)
    return F.conv(h, 16, 10).cast("bigint") / F.lit(TWO_32) - F.lit(0.5)


def classifier_weight_sql(token_expr: str, seed: int = 0) -> str:
    """DuckDB twin of hashed_token_weight, built from the same constants
    so engine and oracle cannot drift."""
    return (f"(CAST('0x' || substr(md5({token_expr} || ':{seed}'), 1, 8) "
            f"AS BIGINT) / {TWO_32:.1f} - 0.5)")


def quality_score(text: Column, weights: dict[str, float] | None = None,
                  seed: int = 0) -> Column:
    """Mean token weight of `text` (0.0 for empty/NULL docs). With a
    `weights` dict, unknown tokens contribute 0.0 (the fastText
    convention for OOV with no subword buckets); without one, every
    token gets its hashed stand-in weight. The dict becomes an inline
    map literal — lexicon-sized vocabularies only (see
    classify_quality_with_table for model-scale vocabs)."""
    toks = _tokens(text)
    if weights is None:
        w = lambda t: hashed_token_weight(t, seed)  # noqa: E731
    else:
        table = F.create_map(
            *[F.lit(x) for kv in sorted(weights.items()) for x in kv])
        w = lambda t: F.coalesce(F.element_at(table, t), F.lit(0.0))  # noqa: E731
    total = F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + w(t))
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def classify_quality(df: DataFrame, text_col: str = "text",
                     weights: dict[str, float] | None = None,
                     threshold: float = 0.0, seed: int = 0,
                     score_col: str = "quality_score",
                     keep_col: str = "classifier_keep") -> DataFrame:
    """df + (score, keep) columns — one projection over the text column;
    `keep` is `score > threshold`. The GPT-3 recipe keeps a stochastic
    fringe below the threshold (np.random.pareto); the deterministic
    engine equivalent is composing this with
    sampling.deterministic_sample over the rejected stratum."""
    # r7: the per-token scoring aggregate is interpreted
    # (CodegenFallback), so a few-split parquet input serializes the
    # scan onto a couple of cores. Spread few-split inputs (measured at
    # sf1.0 on a 2-split input: 7.2 s -> 1.2 s); real multi-split
    # corpora pass through shuffle-free.
    df = ensure_parallelism(df)
    s = quality_score(F.col(text_col), weights, seed)
    return (df.withColumn(score_col, s)
            .withColumn(keep_col, F.col(score_col) > F.lit(threshold)))


def classify_quality_with_table(df: DataFrame, weights_df: DataFrame,
                                id_col: str, text_col: str = "text",
                                threshold: float = 0.0,
                                token_col: str = "token",
                                weight_col: str = "weight",
                                score_col: str = "quality_score",
                                keep_col: str = "classifier_keep") -> DataFrame:
    """classify_quality for model-scale vocabularies: `weights_df` is a
    (token, weight) DataFrame — a real fastText/logreg vocab of 100k-1M
    rows, far past what an inline map literal can carry. Semantics are
    identical to the dict path (mean weight, OOV = 0.0, empty/NULL text
    scores 0.0); pinned by an equality test.

    Shape: explode tokens -> BROADCAST hash join against the weights
    table (the corpus never shuffles for the lookup) -> re-aggregate
    per doc -> join scores back. Unlike the literal paths this costs
    one explode and two shuffles (the per-doc agg and the score
    join-back on the id key), so prefer the projection paths when the
    vocab genuinely fits a literal."""
    toks = _tokens(F.col(text_col))
    w = (weights_df.select(F.col(token_col).alias("_jsp_tok"),
                           F.col(weight_col).cast("double").alias("_jsp_w"))
         .dropDuplicates(["_jsp_tok"]))
    exploded = df.select(F.col(id_col),
                         F.explode_outer(toks).alias("_jsp_tok"))
    scored = (exploded.join(F.broadcast(w), "_jsp_tok", "left")
              .groupBy(id_col)
              .agg(F.count(F.col("_jsp_tok")).alias("_jsp_n"),
                   F.sum(F.coalesce(F.col("_jsp_w"), F.lit(0.0)))
                   .alias("_jsp_sum"))
              .select(F.col(id_col),
                      F.when(F.col("_jsp_n") > 0,
                             F.col("_jsp_sum") / F.col("_jsp_n"))
                      .otherwise(F.lit(0.0)).alias(score_col)))
    return (df.join(scored, id_col, "left")
            .withColumn(score_col, F.coalesce(F.col(score_col), F.lit(0.0)))
            .withColumn(keep_col, F.col(score_col) > F.lit(threshold)))
