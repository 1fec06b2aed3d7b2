"""Deduplication for web-scale training-data pipelines.

Four tiers, all shuffle-aware:
- exact:     md5-normalized content key -> hash groupBy. Map-side partial
             agg; shuffle carries one row per distinct key.
- minhash:   shingle -> H portable min-hashes -> band buckets -> bucket
             join. Only same-bucket pairs are compared; the candidate join
             key (band_id, band_hash) is high-cardinality => well-spread
             shuffle. Verification (exact Jaccard) touches candidates only.
- simhash:   64-bit sign fingerprint via Arrow-vectorized numpy; near-dups
             = small Hamming distance within banded buckets.
- ngram-jaccard: exact pairwise Jaccard on shingle sets for candidate pairs.

Hash choice: md5-derived (portable to the DuckDB oracle, deterministic
across engines/processes). xxhash64 would be faster JVM-side; swap
`_hash_shingle` if oracle parity is not needed.

NULL-text convention (r6, pinned in tests/test_null_conventions.py):
KEYING operators treat NULL text like '' (null and empty collapse to one
exact-dup group — r5 third review); text-REWRITING operators
(strip_boilerplate_lines, remove_duplicate_spans, text.c4_line_filter)
preserve NULL — a NULL-text row comes out NULL, never silently rewritten
to '' , so nullability survives the pipeline.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..idioms import bind_once, ensure_parallelism


def normalized_text(text: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def norm_tokens(text: Column) -> Column:
    """The engine-wide token array: _NORM (lowercased, whitespace-
    collapsed) split on single spaces, empties dropped; NULL text gives
    an empty array. ONE definition — lm/tfidf/index/tokenizer all
    import this so the token convention cannot desynchronize across the
    tier (r6 review finding: three byte-identical private copies)."""
    return F.filter(
        F.split(F.coalesce(normalized_text(text), F.lit("")), " "),
        lambda t: t != "")


def content_key(text: Column) -> Column:
    """Portable exact-dup key: md5 hex of normalized utf-8 bytes. NULL
    text keys like empty text (r5 third review #3: a NULL key would fall
    out of the dedup equality join entirely, silently DROPPING every
    null-text row instead of keeping one) — null and '' normalize to 'no
    content', so they collapse into one kept row. DuckDB twin:
    md5(coalesce(norm, ''))."""
    return F.md5(F.encode(F.coalesce(normalized_text(text), F.lit("")), "UTF-8"))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------
def exact_duplicate_groups(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """(content_key, n_docs, doc_ids) for groups with >1 member."""
    return (
        df.select(F.col(id_col), content_key(F.col(text_col)).alias("content_key"))
        .groupBy("content_key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Keep the lowest-id row per content key. Window-free formulation:
    min(id) per key then semi-join back — two map-side-combinable aggs
    instead of a full sort within every key partition."""
    keyed = df.withColumn("_ck", content_key(F.col(text_col)))
    keep = keyed.groupBy("_ck").agg(F.min(id_col).alias(id_col))
    return keyed.join(keep, on=["_ck", id_col], how="left_semi").drop("_ck")


def exact_dedup_linear(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """exact_dedup with a LINEAR plan: one groupBy(key).min(struct(id,
    rest...)) instead of the agg + self-semi-join. Same keep-lowest-id
    semantics (ids are assumed unique, so the struct min never compares
    past the id field).

    Why prefer it (r6): one shuffle of full rows with map-side partial
    min, vs the join form's key-agg shuffle PLUS a full-row join
    exchange — at 100 TB that halves the dedup stage's shuffled bytes.
    The input subtree also appears ONCE in the plan instead of twice
    (verified empirically: `.observe()` metrics report once either way —
    Spark de-dups CollectMetrics by name — but single-appearance keeps
    the scan count at one without relying on exchange reuse).
    clean_corpus uses this shape for its one-job funnel."""
    cols = df.columns
    ordered = [id_col] + [c for c in cols if c != id_col]
    keyed = df.withColumn("_ck", content_key(F.col(text_col)))
    kept = keyed.groupBy("_ck").agg(
        F.min(F.struct(*[F.col(c) for c in ordered])).alias("_r"))
    return kept.select(*[F.col(f"_r.{c}").alias(c) for c in cols])


# ---------------------------------------------------------------------------
# shingles + minhash LSH
# ---------------------------------------------------------------------------
def shingles(text: Column, k: int = 3) -> Column:
    """Word k-gram shingle array (distinct). Pure HOF expression.

    The word array is bound ONCE as a lambda variable (r7 — the same
    fix ADVICE r6 prescribed for decontaminate.word_ngrams): the
    previous form referenced the free `words` subexpression inside the
    per-window lambda, so interpreted evaluation re-ran the
    regex+lower+split PER WINDOW — O(words^2) per document. Measured on
    the minhash verify stage at sf1.0 (22k candidate pairs): scoring
    dropped 6.3 s -> 3.7 s with bit-identical jaccard output.

    Window built as concat_ws over k element_at reads instead of
    array_join(slice(...)) — no per-window sub-array allocation in the
    interpreted path (a further 3.0 s -> 1.8 s on the same verify
    stage). Identical values: words are split results (never NULL, and
    concat_ws and array_join render empty strings identically), so
    concat_ws(' ', w[j..j+k-1]) == array_join(slice(w, j, k), ' ')."""
    words = F.split(normalized_text(text), " ")

    def _sh(w: Column) -> Column:
        n = F.size(w)
        return F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda j: F.concat_ws(
                    " ", *[F.element_at(w, j + F.lit(i)) for i in range(k)]),
            ),
        ).otherwise(F.array(F.array_join(w, " ")))

    return F.array_distinct(bind_once(words, _sh))


# Universal-hash minhash domain: P = largest prime below 2^48 keeps
# a*h+b inside int64 in BOTH Spark and DuckDB (a < 2^14, h < P < 2^48).
MINHASH_P = 281474976710597
_MINHASH_A = [3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59]
_MINHASH_B = [(1442695040888963407 * (i + 1)) % MINHASH_P for i in range(16)]


def shingle_hash(s: Column) -> Column:
    """One md5 per shingle -> 48-bit int (portable: DuckDB twin is
    ('0x'||substr(md5(s),1,12))::BIGINT % P)."""
    return F.conv(F.substring(F.md5(F.encode(s, "UTF-8")), 1, 12), 16, 10).cast("long") % MINHASH_P


def _shingle_starts(w: Column, k: int) -> Column:
    """1-based start index of every k-word shingle of the word array `w`;
    [0] when `w` has fewer than k words, marking the short-text fallback
    (the whole text is one shingle). Guarding with when() matters under
    ANSI mode: element_at past the array end raises, and a web corpus
    always has sub-k-word documents (r5 smoke finding)."""
    n = F.size(w)
    return F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array(F.lit(0)))


def _fast_shingle_hashes(w: Column, k: int) -> Column:
    """hash_mode='fast' shingle hashes of the word array `w`: xxhash64
    over each word triple directly, so no shingle STRING is built and no
    md5 runs; sub-k-word texts hash whole, like the portable path."""
    return F.transform(_shingle_starts(w, k), lambda j: F.when(
        j > 0,
        F.abs(F.xxhash64(*[F.element_at(w, j + i) for i in range(k)]))
        % MINHASH_P,
    ).otherwise(F.abs(F.xxhash64(F.array_join(w, " "))) % MINHASH_P))


def minhash_signature(text: Column, num_hashes: int = 8, k: int = 3,
                      hash_mode: str = "portable") -> Column:
    """All permutation minima in ONE traversal of the hashed-shingle array
    (aggregate with an array accumulator): each shingle is hashed once,
    then num_hashes fused multiply-mod updates — the hash cost does not
    multiply with the signature width.

    hash_mode:
      'portable' — md5-based shingle hash, bit-identical in the DuckDB
                   oracle (correctness gate).
      'fast'     — xxhash64 over the word triple directly: no shingle
                   STRING is ever built and no md5 runs; the hot loop is
                   hash+mulmod only. Use at scale; not SQL-reproducible.
    """
    if hash_mode == "fast":
        hs = F.array_distinct(_fast_shingle_hashes(
            F.split(normalized_text(text), " "), k))
    else:
        hs = F.transform(shingles(text, k), shingle_hash)
    init = F.array(*[F.lit(MINHASH_P).cast("long") for _ in range(num_hashes)])
    return F.aggregate(
        hs,
        init,
        lambda acc, h: F.array(*[
            F.least(
                F.element_at(acc, p + 1),
                (F.lit(_MINHASH_A[p]) * h + F.lit(_MINHASH_B[p])) % F.lit(MINHASH_P),
            )
            for p in range(num_hashes)
        ]),
    )


def minhash_signatures_agg(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 8,
    k: int = 3,
    hash_mode: str = "portable",
) -> DataFrame:
    """(doc, sig array) via generator-expression hashing + MIN aggregate.

    Same values as minhash_signature (min is idempotent, so skipping the
    array_distinct changes nothing), but a different execution shape.
    r5 revision: the per-shingle hash array is built INSIDE the generator
    (words bound once as a lambda variable), so both this shape and the
    per-row HOF expression pay interpreted per-shingle lambda evaluation
    — the agg shape's remaining edge is structural: normalize+split runs
    once per document (the old explode-then-project form re-ran it per
    shingle), the MIN lanes stay inside codegen'd HashAggregate, and
    the map-side partial combine reduces each task's
    shingles to one row per doc BEFORE the exchange, so the shuffle carries
    (doc, num_hashes longs) — strictly less than the repartition barrier
    the HOF formulation needed."""
    # single-split inputs would run the whole explode+partial-agg in one
    # task; spread the NARROW (id, text) projection first
    df = ensure_parallelism(df.select(id_col, text_col))
    # r5 execution-shape fix: the former (doc, _w, explode(idxs)) select
    # let CollapseProject move the `_w = split(normalize(text))` projection
    # ABOVE the Generate, re-running the regex+split once per exploded
    # shingle — O(words^2) string work per document (measured ~20 s/100k
    # docs of pure recompute). Binding the words array as a lambda
    # variable (single-element transform) and building the FULL hash array
    # inside the generator expression evaluates the normalize+split
    # exactly once per document: generators run once per input row, and
    # nothing downstream of the explode references text-derived columns.
    words_expr = F.split(normalized_text(F.col(text_col)), " ")

    def _hash_array(w: Column) -> Column:
        if hash_mode == "fast":
            return _fast_shingle_hashes(w, k)
        return F.transform(_shingle_starts(w, k), lambda j: shingle_hash(
            F.when(
                j > 0,
                F.concat_ws(" ", *[F.element_at(w, j + i) for i in range(k)]),
            ).otherwise(F.array_join(w, " "))))

    hs = bind_once(words_expr, _hash_array)
    d = df.select(F.col(id_col).alias("doc"), F.explode(hs).alias("_h"))
    hcol = F.col("_h")
    lanes = [
        F.min((F.lit(_MINHASH_A[p]) * hcol + F.lit(_MINHASH_B[p])) % F.lit(MINHASH_P)).alias(f"_h{p}")
        for p in range(num_hashes)
    ]
    agg = d.groupBy("doc").agg(*lanes)
    return agg.select(
        "doc", F.array(*[F.col(f"_h{p}") for p in range(num_hashes)]).alias("_sig")
    )


def _banded_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    k: int,
    hash_mode: str,
) -> DataFrame:
    """(doc, band_id, band_hash): one row per document per band. The ONE
    definition of band layout/hashing — minhash_candidates' skip filter
    and minhash_bucket_overflow's naming view both derive from it, so
    they cannot drift apart (r5 review #7)."""
    rows_per_band = num_hashes // bands
    with_sig = minhash_signatures_agg(
        df, id_col, text_col, num_hashes, k, hash_mode
    )
    return with_sig.select(
        F.col("doc"),
        F.posexplode(
            F.array(*[
                F.md5(F.concat_ws("|", *[
                    F.element_at(F.col("_sig"), b * rows_per_band + r + 1).cast("string")
                    for r in range(rows_per_band)
                ]))
                for b in range(bands)
            ])
        ).alias("band_id", "band_hash"),
    )


def minhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    k: int = 3,
    num_partitions: int | None = None,
    hash_mode: str = "portable",
    max_bucket_size: int | None = 500,
    overflow_observation=None,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b, band_hits). rows/band = H/bands.

    max_bucket_size (r5) bounds the within-bucket pair generation: a
    bucket of c co-hashing docs contributes c^2/2 candidate rows, and
    clusters of IDENTICAL documents (empty pages, boilerplate-only pages
    — every web corpus has them) all share every band, going quadratic at
    scale. Buckets larger than the cap are SKIPPED in-plan and named by
    minhash_bucket_overflow() — a DEFAULTED (500), documented cap, not a
    silent one (r5 review #2: the in-row pair array is c^2/2 structs, so
    an unbounded identical-doc cluster would build a multi-GB single
    value; at 500 the peak is ~125k structs, a few MB). Pass None ONLY
    for corpora already exact-deduped — the at-scale recipe is exact
    dedup FIRST (collapses identical docs in one linear pass), then
    minhash over the survivors with this cap as the safety net.

    overflow_observation (r6, r5 ADVICE: the candidates path itself must
    signal when the cap drops buckets): pass a pyspark.sql.Observation
    and the SAME job that produces the candidates records
    overflow_buckets / overflow_docs (docs inside skipped buckets) —
    read `obs.get` after the first action. Zero extra cost (the metrics
    aggregate the already-grouped bucket stream in-flight); run
    minhash_bucket_overflow() for the per-bucket detail view.

    Plan shape (the 100-TB lesson, round-2 revision): signatures come from
    minhash_signatures_agg — explode + codegen'd hash aggregate — instead
    of the per-row HOF expression. The aggregate's map-side combine folds
    each task's shingles down to one row per doc BEFORE the exchange, so
    the only shuffle before the band join carries (doc, num_hashes longs);
    the agg exchange doubles as the anti-CollapseProject barrier the HOF
    version needed twice. Band extraction reads plain agg attributes
    (SimplifyExtractValueOps: element_at(array(_h...), i) -> _hi).
    """
    banded = _banded_rows(df, id_col, text_col, num_hashes, bands, k,
                          hash_mode)
    # r5 execution-shape revision: collect each bucket's doc list and
    # generate the within-bucket pairs IN-PLAN (sorted array + nested
    # transform) instead of self-joining `banded` with itself. The
    # self-join recomputed the whole signature pipeline for each branch
    # (plus a third time for the cap's group-count) — no ReusedExchange
    # materialized across the alias branches — which measured 13.7 s vs
    # ~3 s for this shape at 100k docs. One signature computation, ONE
    # shuffle keyed by (band_id, band_hash), and the cap becomes a free
    # size() filter on the already-grouped bucket. Per-bucket pair count
    # is m^2/2 exactly like the join produced; max_bucket_size bounds m.
    # explicit hash repartition on the band key: the bucket stream is only
    # a few MB, so AQE would coalesce the shuffle to ONE partition — and
    # collect_list is an ObjectHashAggregate (no codegen), so the final
    # agg over ~8 rows/doc became a serial 33 s task at 100k docs. An
    # explicit partition count is respected by AQE; the agg reuses the
    # distribution so no second exchange appears.
    # r7: one partition per core (was x4) — the multiplier bought nothing
    # locally (measured 2.2 s -> 1.8 s for the candidate pass at sf1.0:
    # 128 near-empty ObjectHashAggregate tasks cost more scheduling than
    # they saved in skew headroom) and the count still scales with the
    # cluster via defaultParallelism; pass num_partitions to override at
    # corpus scale.
    bucket_parts = (num_partitions
                    or df.sparkSession.sparkContext.defaultParallelism)
    buckets = banded.repartition(
        bucket_parts, "band_id", "band_hash"
    ).groupBy("band_id", "band_hash").agg(
        F.sort_array(F.collect_list("doc")).alias("_docs"))
    buckets = buckets.filter(F.size("_docs") >= 2)
    if max_bucket_size is not None:
        if overflow_observation is not None:
            over = F.size("_docs") > max_bucket_size
            buckets = buckets.observe(
                overflow_observation,
                F.coalesce(F.sum(F.when(over, 1)), F.lit(0)).alias(
                    "overflow_buckets"),
                F.coalesce(F.sum(F.when(over, F.size("_docs"))),
                           F.lit(0)).alias("overflow_docs"),
            )
            # PITFALL (r6, empirically pinned in tests/test_graph_pipeline
            # .py): AQE's AQEPropagateEmptyRelation replaces subtrees with
            # empty relations when a downstream stage materializes empty —
            # taking a mid-plan CollectMetrics with it, so the observation
            # silently reads back EMPTY exactly when every candidate came
            # from an over-cap bucket (the case the signal exists for).
            # An eager localCheckpoint ends a job AT this node: the
            # metrics populate deterministically at call time, and the
            # pair stage reuses the materialized bucket blocks instead of
            # recomputing the signature pipeline. Opt-in cost (~the
            # bucket stream already paid for by the shuffle), only when
            # the caller asked for the observation.
            buckets = buckets.localCheckpoint(eager=True)
        buckets = buckets.filter(F.size("_docs") <= max_bucket_size)
    docs_arr = F.col("_docs")
    m = F.size(docs_arr)
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), m - 1),
            lambda a: F.transform(
                F.sequence(a + 1, m),
                lambda b: F.struct(
                    F.element_at(docs_arr, a).alias("id_a"),
                    F.element_at(docs_arr, b).alias("id_b"),
                ),
            ),
        )
    )
    pairs = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        # docs are distinct within a bucket (one row per (doc, band)), so
        # sorting makes this strict ordering hold by construction; kept as
        # a cheap invariant guard mirroring the old l.doc < r.doc join
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("band_hits"))
    )
    return pairs


def minhash_bucket_overflow(
    df: DataFrame,
    id_col: str,
    max_bucket_size: int,
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    k: int = 3,
    hash_mode: str = "portable",
) -> DataFrame:
    """(band_id, band_hash, n_docs) for every LSH bucket above the cap —
    the explicit 'what was dropped' view for
    minhash_candidates(max_bucket_size=N). No silent caps (same contract
    as ngram_posting_overflow / embedding_bucket_overflow). Oversized
    buckets are clusters of near-identical documents; run exact dedup
    first and they disappear."""
    banded = _banded_rows(df, id_col, text_col, num_hashes, bands, k,
                          hash_mode)
    return (
        banded.groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > max_bucket_size)
    )


def jaccard(text_a: Column, text_b: Column, k: int = 3) -> Column:
    """Exact word-shingle Jaccard similarity of two texts."""
    sa, sb = shingles(text_a, k), shingles(text_b, k)
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = F.size(F.array_union(sa, sb)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 8,
    bands: int = 4,
    k: int = 3,
    hash_mode: str = "portable",
    max_bucket_size: int | None = 500,
    broadcast_candidates: bool = True,
    overflow_observation=None,
) -> DataFrame:
    """Candidates from LSH, verified with exact Jaccard >= threshold.
    (id_a, id_b, jaccard). Verification joins texts back for candidate ids
    only — at 100 TB that's the crucial asymmetry: the full corpus is
    scanned once to build signatures; texts are re-read just for the
    (tiny) candidate set. max_bucket_size: see minhash_candidates.

    r5 verify shape: the former a/b double join executed the candidate
    subplan once per broadcast build (31 s of a 37 s run at 100k docs was
    redundant recompute). Now the pair list MELTS to one row per (pair,
    doc) and hydrates texts in a SINGLE join, then regroups per pair —
    the candidate pipeline runs once and the text table is scanned once.
    broadcast_candidates=True (default) force-broadcasts the melted
    candidate side so the text table STREAMS map-side with zero shuffle.
    The trade-off was weighed deliberately (r5 second review #3): with
    the hint removed, AQE only converts to broadcast AFTER materializing
    both join sides as shuffle stages — i.e. the FULL text table is
    shuffle-written once even when the candidate side turns out tiny,
    which at 100 TB costs far more than the risk the hint carries (the
    8 GB broadcast hard limit / driver collect if the corpus-wide
    candidate set — bounded per bucket by max_bucket_size but not in
    bucket count — is huge). If your candidate volume can exceed
    broadcast limits, pass False and accept the one-time corpus shuffle,
    or tighten the cap/threshold first."""
    cands = minhash_candidates(df, id_col, text_col, num_hashes, bands, k,
                               hash_mode=hash_mode,
                               max_bucket_size=max_bucket_size,
                               overflow_observation=overflow_observation)
    melted = cands.select(
        "id_a", "id_b",
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("_jsp_doc"),
    )
    if broadcast_candidates:
        melted = F.broadcast(melted)
    texts = df.select(F.col(id_col).alias("_jsp_doc"),
                      F.col(text_col).alias("_jsp_t"))
    hydrated = texts.join(melted, "_jsp_doc")
    pair_texts = hydrated.groupBy("id_a", "id_b").agg(
        F.max(F.when(F.col("_jsp_doc") == F.col("id_a"),
                     F.col("_jsp_t"))).alias("_ta"),
        F.max(F.when(F.col("_jsp_doc") == F.col("id_b"),
                     F.col("_jsp_t"))).alias("_tb"),
    )
    # Exact-jaccard scoring needs two guards (r5, plan-audited):
    # 1. parallelism — the candidate-text shuffle is a few MB, so AQE
    #    coalesces it to ONE partition; each jaccard is an interpreted HOF
    #    over ~100-element shingle arrays (~15-20 ms/pair), which
    #    serialized 2k pairs into a 37 s single-task stage. An explicit
    #    round-robin repartition restores full-core verify parallelism.
    # 2. single evaluation — filtering on the aliased jaccard column lets
    #    predicate pushdown substitute the WHOLE expression tree into a
    #    Filter below the exchange (evaluated serially, then re-evaluated
    #    by the Project). The explode(array(struct(...))) Generate barrier
    #    (the validate_json_hybrid trick) pins ONE evaluation above the
    #    repartition; the filter then reads a cheap struct field.
    pair_texts = pair_texts.repartition(
        df.sparkSession.sparkContext.defaultParallelism)
    scored = pair_texts.select(
        F.explode(F.array(F.struct(
            F.col("id_a"), F.col("id_b"),
            F.round(jaccard(F.col("_ta"), F.col("_tb"), k), 6).alias("jaccard"),
        ))).alias("_jsp_r")
    )
    return (
        scored.select("_jsp_r.id_a", "_jsp_r.id_b", "_jsp_r.jaccard")
        .filter(F.col("jaccard") >= threshold)
    )


def _ngram_postings(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(doc, sh, n_sh): exploded inverted-index postings for k-shingles."""
    spark = df.sparkSession
    raw = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t")).repartition(
        spark.sparkContext.defaultParallelism
    )
    with_sh = raw.select(F.col("doc"), shingles(F.col("_t"), k).alias("_sh"))
    return with_sh.select(
        F.col("doc"), F.explode(F.col("_sh")).alias("sh"), F.size(F.col("_sh")).alias("n_sh")
    )


def ngram_posting_overflow(
    df: DataFrame,
    id_col: str,
    max_posting_len: int,
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """(sh, n_docs) for every shingle whose posting list exceeds the cap —
    the explicit 'what was dropped' view for
    ngram_jaccard_pairs(max_posting_len=N). No silent caps: pair
    generation skips these hot shingles in-plan, and this frame names
    them (same contract as similarity.embedding_bucket_overflow)."""
    sh = _ngram_postings(df, id_col, text_col, k)
    return (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > max_posting_len)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_posting_len: int | None = None,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via inverted index on shingles —
    feasible when shingle posting lists are short (dedup-after-exact).
    Shuffle key = shingle; pairs sharing >=1 shingle are scored exactly.

    max_posting_len bounds the per-shingle self-join: a stopword-grade hot
    shingle with p postings contributes p^2/2 candidate rows, which goes
    quadratic at web scale. When set, shingles with more than
    max_posting_len postings are SKIPPED in-plan (no driver action; a
    group-count + left-semi join, the embedding_near_duplicates pattern)
    and named by ngram_posting_overflow(). Effect on results: the
    intersection count omits hot shingles while |A| and |B| stay full, so
    reported jaccard becomes a LOWER BOUND and pairs that co-occur ONLY in
    hot shingles are dropped — for dedup this is the conservative
    direction (hot shingles carry no discriminative signal)."""
    co = _ngram_copair_counts(df, id_col, text_col, k, max_posting_len)
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return co.select("id_a", "id_b", F.round(jac, 6).alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def _ngram_copair_counts(
    df: DataFrame, id_col: str, text_col: str, k: int,
    max_posting_len: int | None,
) -> DataFrame:
    """Shared co-occurrence core of the n-gram pair metrics: (id_a,
    id_b, inter, na, nb) for pairs sharing >= 1 (non-capped) shingle."""
    sh = _ngram_postings(df, id_col, text_col, k)
    if max_posting_len is not None:
        ok = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_posting_len)
            .drop("_n")
        )
        sh = sh.join(ok, "sh", "left_semi")
    l, r = sh.alias("l"), sh.alias("r")
    return (
        l.join(r, (F.col("l.sh") == F.col("r.sh")) & (F.col("l.doc") < F.col("r.doc")))
        .groupBy(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"),
             F.first("l.n_sh").alias("na"), F.first("r.n_sh").alias("nb"))
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    max_posting_len: int | None = None,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT — the quote/partial-copy detector
    Jaccard misses: a 50-shingle doc fully embedded in a 5000-shingle
    doc scores jaccard ~0.01 but containment 1.0. Emits (id_a, id_b,
    containment_a_in_b = |A∩B|/|A|, containment_b_in_a = |A∩B|/|B|)
    for pairs where EITHER direction reaches `threshold` (distinct
    shingle sets, the Broder 1997 resemblance/containment pair).

    Same co-occurrence core and scale shape as ngram_jaccard_pairs
    (shingle-keyed shuffle, posting-cap overflow contract — under
    max_posting_len the intersection omits hot shingles, so both
    containments are LOWER bounds, the conservative direction).
    Single-shingle NULL/short docs: |A| >= 1 always (the whole-text
    fallback shingle), so no division by zero."""
    co = _ngram_copair_counts(df, id_col, text_col, k, max_posting_len)
    c_ab = F.col("inter") / F.col("na")
    c_ba = F.col("inter") / F.col("nb")
    return (
        co.select(
            "id_a", "id_b",
            F.round(c_ab, 6).alias("containment_a_in_b"),
            F.round(c_ba, 6).alias("containment_b_in_a"),
        )
        .filter((F.col("containment_a_in_b") >= threshold)
                | (F.col("containment_b_in_a") >= threshold))
    )


# ---------------------------------------------------------------------------
# simhash (pure Column expressions — zero Python, DuckDB-reproducible)
# ---------------------------------------------------------------------------
SIMHASH_BITS = 60  # 15 hex chars of md5: fits a signed long, 4 x 15-bit bands


def token_hash60(tok: Column) -> Column:
    """Portable 60-bit token hash (md5-60bit, same family as
    functions/text.py fingerprints): DuckDB twin is
    ('0x' || substr(md5(tok), 1, 15))::BIGINT."""
    return F.conv(F.substring(F.md5(F.encode(tok, "UTF-8")), 1, 15), 16, 10).cast("long")


def simhash_expr(text: Column, bits: int = SIMHASH_BITS) -> Column:
    """60-bit simhash as ONE Column expression: per-bit votes accumulate in
    a single traversal of the token-hash array (array accumulator, same
    shape as minhash_signature), then vote signs pack into a long. Stays
    inside whole-stage codegen — no Python anywhere (VERDICT r1 fix #5:
    the old mapInPandas kernel looped per row per bit)."""
    toks = F.filter(
        F.split(normalized_text(F.coalesce(text, F.lit(""))), " "),
        lambda t: t != F.lit(""),
    )
    hs = F.transform(toks, token_hash60)
    init = F.array(*[F.lit(0).cast("long") for _ in range(bits)])
    votes = F.aggregate(
        hs,
        init,
        lambda acc, h: F.array(*[
            F.element_at(acc, i + 1)
            + F.when(
                F.shiftrightunsigned(h, i).bitwiseAND(F.lit(1)) == F.lit(1),
                F.lit(1),
            ).otherwise(F.lit(-1))
            for i in range(bits)
        ]),
    )
    powers = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    return F.aggregate(
        F.zip_with(votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash(df: DataFrame, id_col: str, text_col: str = "text",
            bits: int = SIMHASH_BITS) -> DataFrame:
    """(id, simhash) via explode + codegen'd vote aggregation.

    Same values as simhash_expr, different execution shape: the HOF
    aggregate in simhash_expr is CodegenFallback (interpreted per token);
    here Generate(explode) + `bits` SUM aggregates stay in whole-stage
    codegen with map-side combine — the shuffle carries one row of `bits`
    longs per doc. A NULL sentinel token keeps zero-token docs in the
    aggregate (all votes 0 -> simhash 0) without a join-back."""
    df = ensure_parallelism(df.select(id_col, text_col))
    toks = F.split(normalized_text(F.coalesce(F.col(text_col), F.lit(""))), " ")
    d = df.select(
        F.col(id_col),
        F.explode(F.concat(F.array(F.lit(None).cast("string")), toks)).alias("_tok"),
    ).filter(F.col("_tok").isNull() | (F.col("_tok") != ""))
    d = d.select(F.col(id_col), token_hash60(F.col("_tok")).alias("_th"))
    votes = [
        F.sum(
            F.when(F.col("_th").isNull(), 0)
            .when(F.shiftrightunsigned(F.col("_th"), i).bitwiseAND(F.lit(1)) == F.lit(1), 1)
            .otherwise(-1)
        ).alias(f"_v{i}")
        for i in range(bits)
    ]
    agg = d.groupBy(id_col).agg(*votes)
    packed = F.lit(0).cast("long")
    for i in range(bits):
        packed = packed + F.when(F.col(f"_v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
    return agg.select(F.col(id_col), packed.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame, id_col: str, text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """Banded simhash near-dup: 4 × 15-bit bands; Hamming<=3 guarantees at
    least one identical band (pigeonhole), so the candidate join is exact
    for the radius. (id_a, id_b, hamming)."""
    sh = simhash(df, id_col, text_col)
    bands = sh.select(
        F.col(id_col).alias("doc"),
        F.col("simhash"),
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col("simhash"), 15 * b).bitwiseAND(F.lit(0x7FFF))
                for b in range(4)
            ])
        ).alias("band_id", "band_val"),
    )
    l, r = bands.alias("l"), bands.alias("r")
    ham = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
    return (
        l.join(
            r,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(
            F.col("l.doc").alias("id_a"),
            F.col("r.doc").alias("id_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# line-level dedup (boilerplate removal): nav menus / footers repeat the
# SAME line across thousands of pages — the C4/RefinedWeb-style cross-doc
# line dedup that document-level dedup cannot catch.
# ---------------------------------------------------------------------------
def duplicate_line_groups(
    df: DataFrame, id_col: str, text_col: str = "text", min_docs: int = 2
) -> DataFrame:
    """(line, n_docs, n_occurrences) for normalized lines appearing in at
    least `min_docs` DISTINCT documents. Shuffle key = the line itself
    (high-cardinality; map-side combine applies); per-doc line sets are
    deduped BEFORE the shuffle so a line repeated inside one page counts
    that page once for n_docs."""
    lines = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).alias("raw"),
        )
        .select("doc", F.trim(F.col("raw")).alias("line"))
        .filter(F.col("line") != "")
    )
    return (
        lines.groupBy("line")
        .agg(
            F.countDistinct("doc").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def strip_boilerplate_lines(
    df: DataFrame, id_col: str, text_col: str = "text", min_docs: int = 2,
    out_col: str | None = None,
) -> DataFrame:
    """Remove lines occurring in >= min_docs documents, preserving the
    remaining lines' ORDER (posexplode -> anti-join the hot-line set ->
    re-assemble via sort_array(collect_list(struct(pos,line)))). The hot
    set is usually tiny relative to the corpus (it IS the boilerplate), so
    the anti-join broadcast-shrinks under AQE; the reassembly shuffles one
    (doc, pos, line) row per KEPT line — strictly smaller than the input."""
    out_col = out_col or text_col
    hot = duplicate_line_groups(df, id_col, text_col, min_docs) \
        .select(F.col("line").alias("_jsp_block"))
    # matching is on TRIMMED content (the hot set's form); kept lines are
    # emitted VERBATIM — blank lines and indentation survive, so
    # paragraph segmentation downstream is untouched (r4 fourth-review
    # #3).
    return _strip_duplicate_blocks(
        df, id_col, text_col, out_col, hot, split_pat="\n",
        join_sep="\n", emit_trimmed=False, drop_blank=False)


def _strip_duplicate_blocks(
    df: DataFrame, id_col: str, text_col: str, out_col: str,
    hot: DataFrame, *, split_pat: str, join_sep: str,
    emit_trimmed: bool, drop_blank: bool,
) -> DataFrame:
    """Shared strip-and-rebuild core of the line and paragraph variants
    (r6 second review #4 — they were 70-line near-copies): posexplode
    the `split_pat` blocks, anti-join the `hot` set (one `_jsp_block`
    column, trimmed form) on trimmed content, reassemble in order via
    sort_array(collect_list(struct)), re-join by doc id. All internal
    columns are _jsp_-prefixed so no caller column name can collide
    (the r4 drop("doc") lesson). NULL text stays NULL; NULL-id docs
    never match the rebuild join and pass through untouched (r6 review
    #2); non-null docs whose every block was hot collapse to ''."""
    exploded = (
        df.select(
            F.col(id_col).alias("_jsp_doc"),
            F.posexplode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), split_pat)
            ).alias("_jsp_pos", "_jsp_raw"),
        )
        .withColumn("_jsp_block", F.trim(F.col("_jsp_raw")))
    )
    if drop_blank:
        exploded = exploded.filter(F.col("_jsp_block") != "")
    kept = exploded.join(hot, "_jsp_block", "left_anti")
    emit = ((lambda s: F.trim(s.getField("_jsp_raw"))) if emit_trimmed
            else (lambda s: s.getField("_jsp_raw")))
    rebuilt = (
        kept.groupBy("_jsp_doc")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("_jsp_pos", "_jsp_raw"))),
                    emit,
                ),
                join_sep,
            ).alias("_jsp_rebuilt")
        )
    )
    return (
        df.join(rebuilt, df[id_col] == rebuilt["_jsp_doc"], "left")
        .drop("_jsp_doc")
        .withColumn(
            out_col,
            F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
            .when(F.col(id_col).isNull(), F.col(text_col))
            .otherwise(F.coalesce(F.col("_jsp_rebuilt"), F.lit(""))),
        )
        .drop("_jsp_rebuilt")
    )


def duplicate_paragraph_groups(
    df: DataFrame, id_col: str, text_col: str = "text", min_docs: int = 2
) -> DataFrame:
    """(paragraph, n_docs, n_occurrences) for trimmed paragraphs
    (blank-line-delimited blocks, the `\\n\\n+` convention the quality
    gates use) appearing in >= min_docs DISTINCT documents — the CCNet
    dedup unit (its pipeline hashes and drops repeated PARAGRAPHS, one
    level up from the C4 line rule). Same shape as
    duplicate_line_groups: paragraph-keyed shuffle, map-side combine,
    per-doc repeats counted once for n_docs."""
    paras = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), r"\n\n+")
            ).alias("raw"),
        )
        .select("doc", F.trim(F.col("raw")).alias("paragraph"))
        .filter(F.col("paragraph") != "")
    )
    return (
        paras.groupBy("paragraph")
        .agg(
            F.countDistinct("doc").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def strip_duplicate_paragraphs(
    df: DataFrame, id_col: str, text_col: str = "text", min_docs: int = 2,
    out_col: str | None = None,
) -> DataFrame:
    """Remove paragraphs occurring in >= min_docs documents, preserving
    the survivors' order — strip_boilerplate_lines one unit up
    (CCNet's dedup granularity). Matching is on TRIMMED paragraph
    content; kept paragraphs are emitted TRIMMED (single-newline line
    breaks INSIDE a block survive untouched) and re-joined with the
    CANONICAL '\\n\\n' separator. Unlike the line variant (whose '\\n'
    split/join pair is lossless), paragraph rebuild canonicalizes the
    blank-line runs between paragraphs and outer block whitespace — an
    untouched doc round-trips byte-identically only when it is already
    in canonical form (documented contract, pinned both ways in tests;
    run it after normalize_text, which already collapses separator
    noise).

    Scale shape: identical to the line variant — the hot set IS the
    boilerplate (tiny), anti-join broadcast-shrinks under AQE, rebuild
    shuffles one (doc, pos, paragraph) row per KEPT paragraph.

    NULL convention: rewriting op — NULL text stays NULL; NULL-id docs
    pass through untouched."""
    out_col = out_col or text_col
    hot = duplicate_paragraph_groups(df, id_col, text_col, min_docs) \
        .select(F.col("paragraph").alias("_jsp_block"))
    # blank blocks (leading/trailing separator runs) are never keyed and
    # never rebuilt — the canonical join re-creates the separators
    return _strip_duplicate_blocks(
        df, id_col, text_col, out_col, hot, split_pat=r"\n\n+",
        join_sep="\n\n", emit_trimmed=True, drop_blank=True)


def dedupe_lines_within_doc(
    df: DataFrame, id_col: str, text_col: str = "text",
    out_col: str | None = None,
) -> DataFrame:
    """WITHIN-document duplicate-line removal (the RefinedWeb/Dolma
    in-document repetition rule, the per-doc counterpart of
    strip_boilerplate_lines): every repeat of a line inside the same
    document is dropped, the first occurrence survives VERBATIM.
    Matching is on trimmed content (the cross-doc convention); blank
    lines are never keyed - paragraph structure survives intact. The
    newline split/join pair is lossless, so a doc with no repeats
    round-trips byte-identically.

    Scale shape: all keys carry the doc id, so there is no hot-key skew
    by construction; two (doc, ...)-keyed exchanges (min-pos per (doc,
    line), then the per-doc rebuild), map-side combine on both, no
    Python, no join against any corpus-wide structure.

    NULL convention (module header): rewriting op - NULL text stays
    NULL."""
    out_col = out_col or text_col
    exploded = (
        df.select(
            F.col(id_col).alias("_jsp_doc"),
            F.posexplode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
            ).alias("_jsp_pos", "_jsp_raw"),
        )
        .withColumn("_jsp_key", F.trim(F.col("_jsp_raw")))
    )
    firsts = (
        exploded.filter(F.col("_jsp_key") != "")
        .groupBy("_jsp_doc", "_jsp_key")
        .agg(F.min("_jsp_pos").alias("_jsp_keep_pos"))
    )
    kept = (
        exploded.join(firsts, ["_jsp_doc", "_jsp_key"], "left")
        .filter(
            (F.col("_jsp_key") == "")
            | (F.col("_jsp_pos") == F.col("_jsp_keep_pos"))
        )
    )
    rebuilt = kept.groupBy("_jsp_doc").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_jsp_pos", "_jsp_raw"))),
                lambda s: s.getField("_jsp_raw"),
            ),
            "\n",
        ).alias("_jsp_rebuilt")
    )
    return (
        df.join(rebuilt, df[id_col] == rebuilt["_jsp_doc"], "left")
        .drop("_jsp_doc")
        .withColumn(
            out_col,
            F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
            # NULL-id docs never match the rebuild join (equality join,
            # not null-safe): pass them through untouched instead of
            # wiping to '' (r6 review finding #2)
            .when(F.col(id_col).isNull(), F.col(text_col))
            .otherwise(F.coalesce(F.col("_jsp_rebuilt"), F.lit(""))),
        )
        .drop("_jsp_rebuilt")
    )


# ---------------------------------------------------------------------------
# C4 three-sentence-span dedup (Raffel et al. 2020 §2.2: "we discarded any
# repeated occurrence of any three-sentence span"). Keep-first semantics:
# the globally first occurrence (min (doc, span_pos)) of each duplicated
# span survives; every other occurrence has its sentences removed.
# ---------------------------------------------------------------------------
# Sentence chunks tile the text exactly (concatenating them reproduces the
# input byte-for-byte): runs ending in sentence punctuation, plus a trailing
# punctuation-free remainder. No lookarounds — the same pattern runs on
# Java regex (Spark) and RE2 (the DuckDB oracle).
SENTENCE_CHUNK_RE = r"[^.!?]*[.!?]+|[^.!?]+$"


def _sentence_chunks(text_col: Column) -> Column:
    return F.regexp_extract_all(
        F.coalesce(text_col, F.lit("")), F.lit(SENTENCE_CHUNK_RE), 0)


def _span_rows(df: DataFrame, id_col: str, text_col: str,
               span_sentences: int) -> DataFrame:
    """One row per (doc, span_pos, span): normalized `span_sentences`-long
    sliding windows over the doc's sentence chunks. span_pos is the 0-based
    index of the span's FIRST sentence chunk."""
    k = span_sentences
    chunks = _sentence_chunks(F.col(text_col))
    norm = F.transform(chunks, normalized_text)

    # r7: bind the normalized-chunk array ONCE as a lambda variable —
    # the previous form referenced `norm` free inside the per-span
    # lambda, re-running the sentence regexp + per-chunk normalize PER
    # SPAN (O(sentences^2) per doc, the shingles()/word_ngrams bug
    # class); window via concat_ws over k element_at reads (same-value
    # swap as shingles()).
    def _spans(m: Column) -> Column:
        return F.when(
            F.size(m) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(m) - (k - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(m, i + F.lit(j)) for j in range(k)]),
            ),
        ).otherwise(F.array().cast("array<string>"))

    spans = bind_once(norm, _spans)
    return df.select(
        F.col(id_col).alias("_jsp_doc"),
        F.posexplode(spans).alias("_jsp_pos", "_jsp_span"),
    )


def duplicate_span_groups(
    df: DataFrame, id_col: str, text_col: str = "text",
    span_sentences: int = 3, min_occurrences: int = 2,
) -> DataFrame:
    """(span, n_docs, n_occurrences) for normalized sentence spans occurring
    at least `min_occurrences` times corpus-wide (C4 counts occurrences, not
    documents — an in-document repeat is a duplicate too). Shuffle key = the
    span (high-cardinality, map-side combine), the duplicate_line_groups
    shape one level up the granularity ladder."""
    return (
        _span_rows(df, id_col, text_col, span_sentences)
        .groupBy(F.col("_jsp_span").alias("span"))
        .agg(
            F.countDistinct("_jsp_doc").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_occurrences") >= min_occurrences)
    )


def remove_duplicate_spans(
    df: DataFrame, id_col: str, text_col: str = "text",
    span_sentences: int = 3, out_col: str | None = None,
) -> DataFrame:
    """C4 span dedup with keep-first semantics: for every span repeated
    anywhere in the corpus, the occurrence with the smallest (doc, span_pos)
    is kept and all other occurrences' sentences are deleted; surviving
    chunks are re-concatenated verbatim (the chunk regex tiles the text, so
    an untouched document round-trips byte-identically).

    Scale shape (mirrors strip_boilerplate_lines): spans shuffle once on
    the span string with map-side combine; the duplicated-span set — the
    only thing joined back — is small relative to the corpus (it IS the
    boilerplate) and broadcast-shrinks under AQE; victim sentence indices
    explode to <= span_sentences rows per removed occurrence; the rebuild
    shuffles one (doc, pos, chunk) row per KEPT sentence. A sentence is
    removed if ANY non-first duplicated span covers it, so a kept first
    occurrence can still lose sentences to an overlapping victim span —
    same behavior as sentence-marking C4 implementations."""
    k = span_sentences
    out_col = out_col or text_col
    occ = _span_rows(df, id_col, text_col, k)
    # r7: hash-repartition the span stream once (AQE-sized — no explicit
    # N) so the duplicated-span agg and the occurrence join-back share
    # ONE exchange instead of re-running the span scan (regexp chunking
    # + per-span normalize) per consumer — the _substring_covered
    # single-scan shape; span strings shuffled once ~= what the old agg
    # side already shuffled (spans are near-unique, map-side combine
    # bought nothing).
    occ = occ.repartition("_jsp_span")
    firsts = (
        occ.groupBy("_jsp_span")
        .agg(
            F.min(F.struct("_jsp_doc", "_jsp_pos")).alias("_jsp_first"),
            F.count(F.lit(1)).alias("_jsp_n"),
        )
        .filter(F.col("_jsp_n") >= 2)
        .select("_jsp_span", "_jsp_first")
    )
    victims = (
        occ.join(firsts, "_jsp_span")
        .filter(
            (F.col("_jsp_doc") != F.col("_jsp_first._jsp_doc"))
            | (F.col("_jsp_pos") != F.col("_jsp_first._jsp_pos"))
        )
        .select(
            "_jsp_doc",
            F.explode(
                F.sequence(F.col("_jsp_pos"), F.col("_jsp_pos") + (k - 1))
            ).alias("_jsp_idx"),
        )
        .distinct()
    )
    exploded = df.select(
        F.col(id_col).alias("_jsp_doc"),
        F.posexplode(_sentence_chunks(F.col(text_col))).alias(
            "_jsp_idx", "_jsp_chunk"),
    )
    kept = exploded.join(victims, ["_jsp_doc", "_jsp_idx"], "left_anti")
    rebuilt = kept.groupBy("_jsp_doc").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_jsp_idx", "_jsp_chunk"))),
                lambda s: s.getField("_jsp_chunk"),
            ),
            "",
        ).alias("_jsp_rebuilt")
    )
    return (
        df.join(rebuilt, df[id_col] == rebuilt["_jsp_doc"], "left")
        .drop("_jsp_doc")
        # NULL-text convention (module header; r5 VERDICT 'what's wrong'
        # #2): NULL in -> NULL out — previously a NULL-text doc silently
        # became '' here, changing nullability
        .withColumn(
            out_col,
            F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
            # NULL-id docs never match the rebuild join — untouched,
            # not wiped to '' (r6 review finding #2)
            .when(F.col(id_col).isNull(), F.col(text_col))
            .otherwise(F.coalesce(F.col("_jsp_rebuilt"), F.lit(""))),
        )
        .drop("_jsp_rebuilt")
    )


# ---------------------------------------------------------------------------
# Exact substring dedup (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better", ExactSubstr): remove every non-first
# occurrence of any K-token window that appears >= 2 times corpus-wide.
# The paper builds a suffix array to find maximal duplicated substrings;
# the distributed formulation here marks duplicated K-token WINDOWS — a
# duplicated region of length L >= K has every window inside it
# duplicated, so window coverage equals the maximal region; regions
# shorter than K tokens are never marked (the same threshold the paper
# applies). Keep-first = min (doc, pos), the family convention
# (remove_duplicate_spans above).
# ---------------------------------------------------------------------------
def _ws_tokens(text_col: str) -> Column:
    """RAW whitespace tokens (case/punctuation preserved — 'exact
    substring' means exact). ONE definition shared by the window scan
    and the rebuild: the covered-index set indexes into this array, so
    a drifted copy would silently delete the wrong tokens (r6 review
    finding #4)."""
    return F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
        lambda t: t != "")


def _substring_rows(df: DataFrame, id_col: str, text_col: str, k: int,
                    hash_mode: str = "md5") -> DataFrame:
    """One row per (doc, pos, window_hash): hashes of the K-token sliding
    windows over the RAW whitespace-tokenized text (exact matching is
    case- and punctuation-sensitive — 'exact substring' means exact).
    Hashing happens before any exchange, so shuffle rows carry one
    32-char md5 (or one long-as-string in 'fast' mode) instead of a
    K-token string. The token array is bound ONCE as a lambda variable
    (the r5 CollapseProject/Generate lesson: a bare `slice(toks, i, k)`
    inside the per-window lambda re-evaluates the split PER WINDOW —
    O(L^2)).

    r7 execution-shape revision: the generator emits the window STRINGS
    and the hash runs in a codegen Project AFTER the posexplode. HOF
    lambdas are interpreted (CodegenFallback), so hashing inside the
    per-window lambda paid interpreted md5 evaluation per window —
    moving it below the Generate keeps only the unavoidable array_join
    in the interpreted path and runs md5 inside whole-stage codegen
    (measured at sf1.0: the covered pass dropped a further ~4 s on top
    of the single-exchange win; identical values, plan-pinned)."""
    if hash_mode not in ("md5", "fast"):
        raise ValueError(f"hash_mode must be 'md5' or 'fast', got {hash_mode!r}")
    # the window generator is interpreted (CodegenFallback): a few-split
    # parquet input would serialize it onto a couple of cores (NOTES
    # pitfall #4). Spread the NARROW (id, text) projection only when
    # splits < cores/2 — real multi-split corpora pass through
    # shuffle-free. Measured at sf1.0 (2-split input): 4.0 s -> 0.9 s.
    df = ensure_parallelism(df.select(id_col, text_col))
    toks = _ws_tokens(text_col)
    # window via concat_ws over k element_at reads — no per-window
    # sub-array allocation in the interpreted path (same-value swap as
    # shingles(); measured 0.84 s -> 0.59 s for this scan at sf1.0, k=8)
    wins = bind_once(toks, lambda w: F.when(
        F.size(w) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (k - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, i + F.lit(j)) for j in range(k)]),
        ),
    ).otherwise(F.array().cast("array<string>")))
    win = F.col("_jsp_w")
    win_hash = F.md5(win) if hash_mode == "md5" else \
        F.xxhash64(win).cast("string")
    return df.select(
        F.col(id_col).alias("_jsp_doc"),
        F.posexplode(wins).alias("_jsp_pos", "_jsp_w"),
    ).select("_jsp_doc", "_jsp_pos", win_hash.alias("_jsp_h"))


def _substring_covered(df: DataFrame, id_col: str, text_col: str, k: int,
                       hash_mode: str) -> DataFrame:
    """(_jsp_doc, _jsp_cov): per VICTIM doc, the set of token indices
    covered by any non-first occurrence of a duplicated window. Plan
    shape (r7 revision): the window stream is hash-repartitioned ONCE
    (`repartition("_jsp_h")` — no explicit N, so AQE sizes/coalesces the
    exchange at any scale) and BOTH consumers — the duplicated-hash agg
    and the occurrence join-back — read that same exchange
    (ReuseExchange/AQE stage reuse), so the expensive window scan runs
    exactly ONCE. The former shape skipped the occ-side exchange (AQE
    broadcast the duplicated set) but recomputed the whole window scan
    for the join branch — measured at sf1.0 (50k docs, 2.4M windows)
    the single-scan form saves ~5 s of a 16.5 s pass; window hashes are
    near-unique so the old map-side combine bought nothing. Victim
    windows explode to K rows each, ONE (doc) exchange folds them into
    the per-doc set. No victims self-join (the r5 expensive-lineage
    lesson)."""
    occ = _substring_rows(df, id_col, text_col, k, hash_mode)
    occ = occ.repartition("_jsp_h")
    firsts = (
        occ.groupBy("_jsp_h")
        .agg(
            F.min(F.struct("_jsp_doc", "_jsp_pos")).alias("_jsp_first"),
            F.count(F.lit(1)).alias("_jsp_n"),
        )
        .filter(F.col("_jsp_n") >= 2)
        .select("_jsp_h", "_jsp_first")
    )
    return (
        occ.join(firsts, "_jsp_h")
        .filter(
            (F.col("_jsp_doc") != F.col("_jsp_first._jsp_doc"))
            | (F.col("_jsp_pos") != F.col("_jsp_first._jsp_pos"))
        )
        .select(
            "_jsp_doc",
            F.explode(
                F.sequence(F.col("_jsp_pos"), F.col("_jsp_pos") + (k - 1))
            ).alias("_jsp_idx"),
        )
        .groupBy("_jsp_doc")
        .agg(F.collect_set("_jsp_idx").alias("_jsp_cov"))
    )


def duplicate_substring_spans(
    df: DataFrame, id_col: str, text_col: str = "text",
    min_tokens: int = 50, hash_mode: str = "md5",
) -> DataFrame:
    """Inspection view: merged victim token intervals per document —
    (doc_id, start_tok, end_tok) half-open, 0-based over the whitespace
    token stream. Victim indices are unions of K-length runs, so merging
    is a single in-plan `aggregate` over the sorted index array (runs of
    consecutive ints -> intervals); one (doc, idx) shuffle, no Python."""
    covered = _substring_covered(df, id_col, text_col, min_tokens, hash_mode)
    idxs = covered.select(
        "_jsp_doc", F.sort_array(F.col("_jsp_cov")).alias("_jsp_idxs"))
    interval = "struct<start_tok:long,end_tok:long>"
    merged = F.aggregate(
        F.col("_jsp_idxs"),
        F.array().cast(f"array<{interval}>"),
        lambda acc, p: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1).getField("end_tok") == p.cast("long")),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.struct(
                    F.element_at(acc, -1).getField("start_tok")
                     .alias("start_tok"),
                    (p.cast("long") + 1).alias("end_tok"))),
            ),
        ).otherwise(
            F.concat(acc, F.array(F.struct(
                p.cast("long").alias("start_tok"),
                (p.cast("long") + 1).alias("end_tok"))))
        ),
    )
    return idxs.select(
        F.col("_jsp_doc").alias(id_col),
        F.explode(merged).alias("_jsp_iv"),
    ).select(
        id_col,
        F.col("_jsp_iv.start_tok").alias("start_tok"),
        F.col("_jsp_iv.end_tok").alias("end_tok"),
    )


def remove_duplicate_substrings(
    df: DataFrame, id_col: str, text_col: str = "text",
    min_tokens: int = 50, out_col: str | None = None,
    hash_mode: str = "md5",
) -> DataFrame:
    """ExactSubstr dedup: delete the tokens of every non-first occurrence
    of any duplicated >= min_tokens-token window; the globally first
    occurrence (min (doc, pos)) survives. Only TOUCHED documents are
    re-tokenized and rebuilt (single-space-joined token stream — Lee et
    al. operate on the token stream, so rebuilt docs lose original
    whitespace runs); untouched documents pass through byte-identical
    via the anti-join, the remove_duplicate_spans contract. As there, a
    kept first occurrence can still lose tokens to a DIFFERENT window's
    victim occurrence overlapping it.

    min_tokens: the paper's threshold is 50 BPE tokens; the default here
    is 50 whitespace tokens. hash_mode='fast' swaps md5 for xxhash64
    (at-scale configuration; benched, not DuckDB-oracled — the
    minhash_near_duplicates convention).

    NULL convention (module header): rewriting op — NULL text stays NULL
    (a NULL doc has no windows, is never a victim, passes through).

    Scale shape: one (doc, pos, hash) shuffle with map-side combine on
    the window hash; duplicated hashes (the boilerplate) are the only
    join-back; victim windows fold into ONE per-doc covered-index set,
    and touched docs rebuild IN-PLAN — `array_except` of the position
    range (linear: hash-set difference) then index back into the token
    array bound once as a lambda variable. No token explode, no rebuild
    shuffle, no victims self-join — the window scan runs exactly twice
    (the occ agg + join-back pair, the remove_duplicate_spans shape),
    which the plan test pins."""
    k = min_tokens
    out_col = out_col or text_col
    covered = _substring_covered(df, id_col, text_col, k, hash_mode)
    # the rebuild expression below is interpreted and runs on df's own
    # splits (covered broadcasts, so the join adds no exchange): spread
    # few-split inputs so touched-doc rebuilds use every core
    df = ensure_parallelism(df)
    toks = _ws_tokens(text_col)
    # evaluated only on join-matched (victim) rows, which have >= k
    # tokens by construction — sequence(0, size-1) never sees size 0.
    # array_join([]) is '' in Spark, so a fully-victim doc rebuilds to
    # '' with no special anchor.
    rebuilt = bind_once(toks, lambda w: F.array_join(
        F.transform(
            F.array_except(
                F.sequence(F.lit(0), F.size(w) - 1),
                F.col("_jsp_cov"),
            ),
            lambda p: F.element_at(w, p + 1),
        ),
        " ",
    ))
    # NULL-SAFE equality on purpose (r7): a plain == join would let
    # InferFiltersFromConstraints push isnotnull(id) into the covered
    # subtree's JOIN branch but not its AGG branch, making the two
    # window-stream subtrees canonically unequal — ReuseExchange then
    # cannot fire and the window scan executes twice. <=> generates no
    # isnotnull constraint; the output is identical either way (covered
    # keys are groupBy outputs, and a NULL-id match still carries a NULL
    # _jsp_doc, so the isNotNull branch below leaves the row untouched —
    # equality verified row-for-row incl. NULL-id docs).
    return (
        df.join(covered, df[id_col].eqNullSafe(covered["_jsp_doc"]), "left")
        .withColumn(
            out_col,
            F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
            .when(F.col("_jsp_doc").isNotNull(), rebuilt)
            .otherwise(F.col(text_col)),
        )
        .drop("_jsp_doc", "_jsp_cov")
    )
