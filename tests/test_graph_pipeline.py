"""connected_components + the r6 clean_corpus additions (fused gate
wiring, observe-funnel, near_dup_mode='cc', cached exposure, minhash
overflow observation)."""

import pytest
import unicodedata

from pyspark.sql import Observation
from pyspark.sql import functions as F

from conftest import jobs_of


# ---------------- connected_components --------------------------------------
def test_connected_components_basic(spark):
    from jsonschemaparse_spark.functions.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (10, 11), (10, 12),
         (20, 21), (21, 22), (22, 23), (23, 24)],
        "id_a long, id_b long")
    got = sorted((r["node"], r["label"])
                 for r in connected_components(edges).collect())
    assert got == [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5),
                   (10, 10), (11, 10), (12, 10),
                   (20, 20), (21, 20), (22, 20), (23, 20), (24, 20)]


def test_connected_components_merged_chains(spark):
    """Long-range edges merging two consecutive-id chains: the min label
    must propagate across the merge (transitive closure, not one hop)."""
    from jsonschemaparse_spark.functions.graph import connected_components

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6), (6, 7), (7, 8), (0, 7)],
        "id_a long, id_b long")
    labels = {r["node"]: r["label"]
              for r in connected_components(edges).collect()}
    assert set(labels.values()) == {0}
    assert set(labels) == {0, 1, 2, 3, 5, 6, 7, 8}


def test_connected_components_max_iters_raises(spark):
    from jsonschemaparse_spark.functions.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(9, 0, -1)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iters=1)
    labels = {r["node"]: r["label"]
              for r in connected_components(chain, max_iters=25).collect()}
    assert set(labels.values()) == {1}


# ---------------- clean_corpus r6 surface -----------------------------------
def _near_dup_chain(spark):
    """Texts built so jaccard(i, i+3) passes a low threshold but
    jaccard(0, 6) fails it: a~b~c with a!~c."""
    rows = [(i, " ".join(f"w{j}" for j in range(i, i + 40))
             + ". One more sentence. And a second. Then a third.")
            for i in (0, 3, 6)]
    rows.append((50, "totally different content " * 10
                 + ". One more sentence. And a second. Then a third."))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_clean_corpus_cc_vs_greedy_on_chain(spark):
    """VERDICT r5 #3 'done' criterion: chain semantics differ only in
    HOW survivors are chosen — both keep the chain head; the (1,3),(2,3)
    star is where they diverge (greedy keeps {1,2}, cc keeps {1})."""
    from jsonschemaparse_spark.functions.pipeline import clean_corpus

    df = _near_dup_chain(spark)
    g = clean_corpus(df, gopher=False, c4=False,
                     near_dup_threshold=0.2, near_dup_mode="greedy")
    c = clean_corpus(df, gopher=False, c4=False,
                     near_dup_threshold=0.2, near_dup_mode="cc")
    assert sorted(r["doc_id"] for r in g.cleaned.collect()) == [0, 50]
    assert sorted(r["doc_id"] for r in c.cleaned.collect()) == [0, 50]
    g.unpersist(); c.unpersist()

    # star (1,3),(2,3): 1~3 and 2~3 but 1!~2 -> greedy keeps {1,2}
    # (only 3 is ever an id_b), cc collapses the component to {1}.
    # jaccard arithmetic: 30-word overlaps give 28/48 = 0.583 (1-3, 2-3),
    # the 20-word overlap gives 18/58 = 0.310 (1-2); threshold 0.45
    # separates them.
    star = spark.createDataFrame(
        [(1, " ".join(f"w{j}" for j in range(0, 40))),
         (2, " ".join(f"w{j}" for j in range(20, 60))),
         (3, " ".join(f"w{j}" for j in range(10, 50)))],
        "doc_id long, text string")
    gs = clean_corpus(star, gopher=False, c4=False,
                      near_dup_threshold=0.45, near_dup_mode="greedy")
    cs = clean_corpus(star, gopher=False, c4=False,
                      near_dup_threshold=0.45, near_dup_mode="cc")
    g_keep = sorted(r["doc_id"] for r in gs.cleaned.collect())
    c_keep = sorted(r["doc_id"] for r in cs.cleaned.collect())
    assert g_keep == [1, 2], g_keep
    assert c_keep == [1], c_keep
    gs.unpersist(); cs.unpersist()


def test_clean_corpus_bad_mode_raises(spark):
    from jsonschemaparse_spark.functions.pipeline import clean_corpus

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="near_dup_mode"):
        clean_corpus(df, near_dup_threshold=0.5, near_dup_mode="transitive")


def test_clean_corpus_observe_funnel_one_job(spark):
    """The funnel rides the SAME job that materializes the cleaned frame
    (observe accumulators), and matches clean_corpus_stats exactly."""
    from jsonschemaparse_spark.functions.pipeline import (
        clean_corpus,
        clean_corpus_stats,
    )

    base = ("A useful document sentence with plenty of words inside. " * 8
            + "It ends with three proper sentences. Another one here. Done!")
    rows = [(i, base + f" Trailer {i}.") for i in range(10)]
    rows += [(100, rows[0][1]), (200, "function f() { }" + base),
             (300, "- a\n- b"), (400, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    res = clean_corpus(df, observe_funnel=True)
    n = res.cleaned.count()          # ONE action; funnel comes along
    funnel = res.funnel_counts()
    assert funnel["n_input"] == 14
    assert funnel["n_after_exact"] == 13    # one exact clone collapsed
    assert funnel["n_after_c4"] == n
    st = clean_corpus_stats(df).collect()[0].asDict()
    assert st == {"n_input": funnel["n_input"],
                  "n_after_exact": funnel["n_after_exact"],
                  "n_after_gopher": funnel["n_after_gopher"],
                  "n_after_c4": funnel["n_after_c4"]}


def test_clean_corpus_cached_exposed_for_unpersist(spark):
    """r5 ADVICE: the persisted intermediate is reachable so callers can
    actually release it."""
    from jsonschemaparse_spark.functions.pipeline import clean_corpus

    df = _near_dup_chain(spark)
    res = clean_corpus(df, gopher=False, c4=False, near_dup_threshold=0.2)
    res.cleaned.count()
    assert res.cached is not None
    assert res.cached.storageLevel.useMemory
    res.unpersist()
    assert not res.cached.storageLevel.useMemory


def test_minhash_overflow_observation(spark):
    """r5 ADVICE: the candidates job itself reports what the bucket cap
    dropped — identical docs land in one bucket per band; cap 3 skips
    them all and the observation counts the skipped buckets/docs."""
    from jsonschemaparse_spark.functions.dedup import minhash_candidates

    same = "identical words repeated for the shingle pipeline here"
    df = spark.createDataFrame(
        [(i, same) for i in range(8)] + [(100, "something else entirely")],
        "doc_id long, text string")
    obs = Observation()
    cands = minhash_candidates(df, "doc_id", max_bucket_size=3,
                               overflow_observation=obs)
    assert cands.count() == 0            # every bucket overflowed
    got = obs.get
    assert got["overflow_buckets"] == 4  # 4 bands x 1 hot bucket
    assert got["overflow_docs"] == 32    # 8 docs in each


# =========================================================================
# moved from test_round5_fixes.py (round-fix regression pins, split by
# topic per VERDICT r5 #8)
# =========================================================================
import pytest  # noqa: E402,F811,F401
from pyspark.sql import functions as F  # noqa: E402,F811,F401

def test_clean_corpus_stage_semantics(spark):
    from jsonschemaparse_spark.functions.pipeline import clean_corpus

    body = " ".join(f"w{i}x" for i in range(60))
    docs = [
        (1, body + ". Second sentence here. Third sentence now."),     # survives
        (2, body + ". Second sentence here. Third sentence now."),     # exact clone -> dropped
        (3, "too short"),                                              # gopher n_words
        (4, body + ". Has a badword sentence. Third one here."),       # c4 badwords
        (5, body + " no sentences at all whatsoever"),                 # c4 n_sentences
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    res = clean_corpus(df, badwords=["badword"])
    assert res.stages == ["exact", "gopher", "c4"]
    assert sorted(r["doc_id"] for r in res.cleaned.collect()) == [1]
    assert res.cleaned.columns == ["doc_id", "text"]


def test_clean_corpus_near_dup_greedy_rule(spark):
    from jsonschemaparse_spark.functions.pipeline import clean_corpus

    base = ". ".join(f"sentence number {i} talks about topic {i % 7}"
                     for i in range(20)) + "."
    near = base.replace("topic 3", "subject 3")
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, "totally different " + " ".join(
            f"q{i}z" for i in range(55)) + ". One. Two. Three.")],
        "doc_id long, text string",
    )
    res = clean_corpus(df, gopher=False, c4=False, near_dup_threshold=0.5)
    kept = sorted(r["doc_id"] for r in res.cleaned.collect())
    assert kept == [1, 3]  # (1,2) verified pair -> b=2 dropped


def test_clean_corpus_stats_matches_manual_counts(spark):
    from jsonschemaparse_spark.functions.pipeline import clean_corpus_stats

    body = " ".join(f"w{i}x" for i in range(60))
    docs = [(i, body + f". Unique tail {i} here. Third sentence now.")
            for i in range(10)]
    docs += [(100, docs[0][1])]  # one clone
    df = spark.createDataFrame(docs, "doc_id long, text string")
    row = clean_corpus_stats(df).collect()[0]
    assert (row["n_input"], row["n_after_exact"],
            row["n_after_gopher"], row["n_after_c4"]) == (11, 10, 10, 10)


def test_clean_corpus_near_dup_chain_drops_all_b_sides(spark):
    """Documented greedy rule: every doc appearing as id_b of a verified
    pair drops — in a chain a~b~c, both b and c go (third review #1)."""
    from jsonschemaparse_spark.functions.pipeline import clean_corpus

    base = ". ".join(f"sentence number {i} talks about topic {i % 7}"
                     for i in range(20)) + "."
    near1 = base.replace("topic 3", "subject 3")
    near2 = near1.replace("topic 5", "matter 5")
    df = spark.createDataFrame(
        [(1, base), (2, near1), (3, near2)], "doc_id long, text string"
    )
    res = clean_corpus(df, gopher=False, c4=False, near_dup_threshold=0.5)
    kept = sorted(r["doc_id"] for r in res.cleaned.collect())
    assert kept == [1]



def test_clean_corpus_pii_redact_stage(spark):
    """Stage 6 (r6): survivors' text is scrubbed, NULL text preserved,
    no rows dropped, and the funnel reports n_pii_docs from the same
    job that materializes the cleaned frame."""
    from jsonschemaparse_spark.functions.pipeline import clean_corpus

    df = spark.createDataFrame(
        [(1, "Mail a@b.io now"), (2, "nothing personal here"), (3, None)],
        "doc_id long, text string")
    res = clean_corpus(df, gopher=False, c4=False, pii_redact=True,
                       observe_funnel=True)
    assert res.stages[-1] == "pii_redact"
    rows = {r["doc_id"]: r["text"] for r in res.cleaned.collect()}
    assert rows[1] == "Mail <EMAIL> now"
    assert rows[2] == "nothing personal here"
    assert rows[3] is None
    counts = res.funnel_counts()
    assert counts["n_pii_docs"] == 1
    assert counts["n_input"] == 3


def test_clean_corpus_classifier_stage(spark):
    """Stage 3b (r6): model-based gate equals the manual composition
    (classify_quality filter after the heuristic gates), reports
    n_after_classifier from the same job, and with explicit weights
    keeps exactly the docs above threshold."""
    from jsonschemaparse_spark.functions.classifier import classify_quality
    from jsonschemaparse_spark.functions.pipeline import clean_corpus

    w = {"good": 1.0, "bad": -1.0}
    df = spark.createDataFrame(
        [(1, "good good stuff"), (2, "bad bad stuff"), (3, "plain stuff"),
         (4, None)],
        "doc_id long, text string")
    res = clean_corpus(df, gopher=False, c4=False,
                       classifier_threshold=0.1, classifier_weights=w,
                       observe_funnel=True)
    assert "classifier" in res.stages
    kept = sorted(r.doc_id for r in res.cleaned.collect())
    manual = classify_quality(df, weights=w, threshold=0.1)
    exp = sorted(r.doc_id for r in manual.filter("classifier_keep").collect())
    assert kept == exp == [1]
    counts = res.funnel_counts()
    assert counts["n_after_classifier"] == 1
    assert counts["n_input"] == 4
    assert res.cleaned.columns == df.columns


def test_clean_corpus_classifier_composes_with_gates(spark):
    """Classifier stage runs on the heuristic-gate survivors: a doc the
    C4 gate drops never reaches the classifier count."""
    from jsonschemaparse_spark.functions.pipeline import clean_corpus

    good = ("This is a perfectly reasonable sentence. It continues on. "
            "It even has several more words in it. " * 3)
    df = spark.createDataFrame(
        [(1, good), (2, "lorem " * 30)],  # doc 2: no terminal punctuation
        "doc_id long, text string")
    res = clean_corpus(df, gopher=False, c4=True,
                       classifier_threshold=-1.0,  # keep-all classifier
                       classifier_weights={"this": 1.0},
                       observe_funnel=True)
    assert [r.doc_id for r in res.cleaned.collect()] == [1]
    counts = res.funnel_counts()  # after the action — obs.get blocks else
    assert counts["n_after_c4"] == 1
    assert counts["n_after_classifier"] == 1


def test_funnel_counts_materialize_never_blocks(spark):
    """funnel_counts(materialize=True) is safe with NO prior action —
    the no-op write drives the query so obs.get cannot block forever
    (the trap: a bare funnel_counts() before any action deadlocks)."""
    from jsonschemaparse_spark.functions.pipeline import clean_corpus

    df = spark.createDataFrame([(1, "a a"), (2, "a a"), (3, "b")],
                               "doc_id long, text string")
    res = clean_corpus(df, gopher=False, c4=False, observe_funnel=True)
    counts = res.funnel_counts(materialize=True)
    assert counts["n_input"] == 3
    assert counts["n_after_exact"] == 2


def test_clean_corpus_snapshot_stage(spark):
    """Stage 0 (r6): with seen_df set, re-crawls of the prior snapshot
    are dropped before any in-batch work, the funnel gains
    n_after_snapshot, and a prebuilt published bitmap (save_bloom
    artifact) gives the identical result."""
    from pyspark.sql import functions as F

    from jsonschemaparse_spark.functions.pipeline import clean_corpus
    from jsonschemaparse_spark.functions.snapshot import (
        build_key_bloom,
        probe_key,
    )

    base = ("A useful document sentence with plenty of words inside. " * 8
            + "It ends with three proper sentences. Another one here. Done!")
    seen = spark.createDataFrame(
        [(i, base + f" Old {i}.") for i in range(5)],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(100 + i, base + f" Old {i}.") for i in range(3)]      # re-crawls
        + [(200 + i, base + f" New {i}.") for i in range(4)]    # fresh
        + [(300, base + " New 0.")],                            # in-batch dup
        "doc_id long, text string")

    res = clean_corpus(batch, seen_df=seen, observe_funnel=True)
    kept = sorted(r["doc_id"] for r in res.cleaned.collect())
    assert res.stages[0] == "snapshot"
    assert kept == [200, 201, 202, 203]   # re-crawls and the dup gone
    funnel = res.funnel_counts()
    assert funnel["n_input"] == 8
    assert funnel["n_after_snapshot"] == 5   # 3 re-crawls dropped
    assert funnel["n_after_exact"] == 4      # in-batch dup collapsed

    bloom = build_key_bloom(
        seen.select(probe_key(F.col("text")).alias("_pk")), "_pk")
    res2 = clean_corpus(batch, seen_df=seen, snapshot_bloom=bloom)
    assert sorted(r["doc_id"] for r in res2.cleaned.collect()) == kept
    res3 = clean_corpus(batch, seen_df=seen, snapshot_mode="exact")
    assert sorted(r["doc_id"] for r in res3.cleaned.collect()) == kept


def test_clean_corpus_normalize_stage(spark):
    """Stage -1 (r6): normalize=True canonicalizes BEFORE keying, so a
    decomposed (NFD) clone of a composed doc collapses in exact dedup;
    without it the two survive as byte-different keys. Composition pin:
    clean_corpus(normalize=True) == normalize_text -> clean_corpus."""
    from pyspark.sql import functions as F

    from jsonschemaparse_spark.functions.normalize import normalize_text
    from jsonschemaparse_spark.functions.pipeline import clean_corpus

    body = ("A café document sentence with plenty of words inside. "
            * 8 + "It ends with proper sentences. Another one. Done!")
    decomposed = unicodedata.normalize("NFD", body)
    df = spark.createDataFrame(
        [(1, body), (2, decomposed), (3, body + " Unique tail.")],
        "doc_id long, text string")

    plain = clean_corpus(df)
    assert sorted(r["doc_id"] for r in plain.cleaned.collect()) == [1, 2, 3]

    res = clean_corpus(df, normalize=True)
    assert res.stages[0] == "normalize"
    assert sorted(r["doc_id"] for r in res.cleaned.collect()) == [1, 3]

    pre = clean_corpus(normalize_text(df))
    a = sorted(tuple(r) for r in res.cleaned.collect())
    b = sorted(tuple(r) for r in pre.cleaned.collect())
    assert a == b


def test_clean_corpus_normalize_rejects_output_col(spark):
    # r6 review finding #1: redirecting the normalize output would make
    # the stage a silent no-op for every keying stage downstream
    from jsonschemaparse_spark.functions.pipeline import clean_corpus

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="output_col"):
        clean_corpus(df, normalize=True,
                     normalize_kw={"output_col": "text_norm"})


def test_clean_corpus_lm_gate(spark):
    """Stage 3c (r6): the perplexity gate keeps in-distribution docs,
    drops high-perplexity ones, abstains on unscoreable (<2-token)
    docs, and reports n_after_lm in the funnel."""
    from jsonschemaparse_spark.functions.lm import (
        lm_perplexity,
        train_bigram_lm,
    )
    from jsonschemaparse_spark.functions.pipeline import clean_corpus

    indist = ("the quick brown fox jumps over the lazy dog and then "
              "the quick brown fox rests") 
    train = spark.createDataFrame(
        [(i, indist + f" epoch {i}") for i in range(5)],
        "doc_id long, text string")
    lm = train_bigram_lm(train, id_col="doc_id")

    batch = spark.createDataFrame(
        [(1, indist + " epoch 99"),                       # in-distribution
         (2, "zzz qqq vvv kkk jjj xxx www unseen tokens entirely"),
         (3, "solo")],                                    # unscoreable
        "doc_id long, text string")
    scores = {r["doc_id"]: r["log2_ppl"]
              for r in lm_perplexity(batch, lm, "doc_id").collect()}
    thr = (scores[1] + scores[2]) / 2
    res = clean_corpus(batch, gopher=False, c4=False,
                       lm=lm, lm_max_log2_ppl=thr, observe_funnel=True)
    kept = sorted(r["doc_id"] for r in res.cleaned.collect())
    assert kept == [1, 3]                                 # 2 gated, 3 abstained
    assert "lm" in res.stages
    assert res.funnel_counts()["n_after_lm"] == 2

    with pytest.raises(ValueError, match="BigramLM"):
        clean_corpus(batch, gopher=False, c4=False, lm_max_log2_ppl=1.0)


def test_clean_corpus_mixture_stage_composition_identity(spark, documents):
    """Stage 7: clean_corpus(mixture...) == temperature_mixture over the
    cleaned survivors — same rates (derived from the same frame), same
    seed, same kept set. Funnel carries n_after_mixture."""
    from jsonschemaparse_spark.functions.pipeline import clean_corpus
    from jsonschemaparse_spark.functions.sampling import temperature_mixture

    base = clean_corpus(documents, gopher=False, c4=False)
    want = {r["doc_id"] for r in temperature_mixture(
        base.cleaned, "lang", "doc_id", alpha=0.5, target_fraction=0.4,
    ).select("doc_id").collect()}

    res = clean_corpus(documents, gopher=False, c4=False,
                       mixture_strata="lang",
                       mixture_target_fraction=0.4,
                       observe_funnel=True)
    got = {r["doc_id"] for r in res.cleaned.select("doc_id").collect()}
    assert got == want and len(got) > 0
    counts = res.funnel_counts()
    assert counts["n_after_mixture"] == len(got)
    assert "mixture" in res.stages
    assert res.cached is not None  # rates job persisted the prefix
    res.unpersist()


def test_clean_corpus_mixture_requires_strata(spark, documents):
    import pytest as _pytest

    from jsonschemaparse_spark.functions.pipeline import clean_corpus

    with _pytest.raises(ValueError, match="mixture_strata"):
        clean_corpus(documents, mixture_target_fraction=0.5)


def test_clean_corpus_mixture_with_near_dup_persists_both(spark, documents):
    """r6 second review #3: with near-dup AND mixture on, the frame the
    rates job reads must itself be persisted — the near-dup cache only
    covers that stage's INPUT, and pair-gen/verify/anti-join would run
    twice otherwise."""
    from jsonschemaparse_spark.functions.pipeline import clean_corpus

    res = clean_corpus(documents.limit(200), gopher=False, c4=False,
                       near_dup_threshold=0.9,
                       mixture_strata="lang",
                       mixture_target_fraction=0.5)
    assert len(res.caches) == 2
    assert res.cached is res.caches[0]
    assert res.cleaned.count() > 0
    res.unpersist()
    assert all(not c.is_cached for c in res.caches)


def test_clean_corpus_compress_stage(spark):
    """Stage 3d: the compressibility gate drops extreme-redundancy docs
    and abstains on unscoreable ones; n_after_compress rides the
    funnel."""
    from jsonschemaparse_spark.functions.pipeline import clean_corpus

    prose = ("A reasonably varied sentence with different words "
             "each time it appears, number %d. ")
    rows = [(i, prose % i + "Closing words here.") for i in range(4)]
    rows.append((10, "spam " * 300))        # deflates to ~2%
    rows.append((11, None))                  # unscoreable -> abstain
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = clean_corpus(df, gopher=False, c4=False,
                       compress_min_ratio=0.25, observe_funnel=True)
    kept = {r["doc_id"] for r in res.cleaned.select("doc_id").collect()}
    assert 10 not in kept and {0, 1, 2, 3, 11} <= kept
    assert res.funnel_counts()["n_after_compress"] == len(kept)
    assert "compress" in res.stages


def test_pagerank_matches_reference_power_iteration(spark):
    from jsonschemaparse_spark.functions.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1), (2, 4)], "src long, dst long")
    pr = {r["node"]: r["rank"] for r in
          pagerank(edges, n_iters=10).collect()}
    out = {1: [2, 3], 2: [3, 4], 3: [1]}
    nodes, n, d = [1, 2, 3, 4], 4, 0.85
    ref = {x: 1 / n for x in nodes}
    for _ in range(10):
        dang = sum(v for k, v in ref.items() if k not in out)
        base = (1 - d) / n + d * dang / n
        new = {x: base for x in nodes}
        for s, ds in out.items():
            for t in ds:
                new[t] += d * ref[s] / len(ds)
        ref = new
    for k in nodes:
        assert abs(pr[k] - ref[k]) < 1e-12
    assert abs(sum(pr.values()) - 1.0) < 1e-9


def test_pagerank_hub_outranks_leaf_and_layout_invariant(spark):
    from jsonschemaparse_spark.functions.graph import pagerank

    # star: everyone links to 0
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 20)], "src long, dst long")
    pr = {r["node"]: r["rank"] for r in pagerank(edges, n_iters=6).collect()}
    assert pr[0] > 10 * pr[1]
    pr2 = {r["node"]: round(r["rank"], 6) for r in
           pagerank(edges.repartition(7), n_iters=6).collect()}
    assert pr2 == {k: round(v, 6) for k, v in pr.items()}


def test_pagerank_empty_graph(spark):
    from jsonschemaparse_spark.functions.graph import pagerank

    empty = spark.createDataFrame([], "src long, dst long")
    assert pagerank(empty, n_iters=3).count() == 0


def _perfbench_shaped_corpus(spark, tmp_path):
    """(batch, seen snapshot): 60 gate-passing documents in 4 parquet
    files, with exact and near duplicates and a 4-way source stratum,
    against a 10-document prior snapshot."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}ord" for i in range(300)]
    stop = ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"]

    def sentence():
        words = [rng.choice(vocab if j % 3 else stop) for j in range(11)]
        return " ".join(words).capitalize() + "."

    texts = [" ".join(sentence() for _ in range(7)) for _ in range(60)]
    texts[10] = texts[0]                      # exact duplicate
    near = texts[1].split(" ")
    near[5] = "changed"
    texts[11] = " ".join(near)                # near duplicate
    sources = ["web", "news", "forum", "wiki"]
    rows = [(i + 1, t, sources[i % 4]) for i, t in enumerate(texts)]
    batch_dir, seen_dir = str(tmp_path / "batch"), str(tmp_path / "seen")
    spark.createDataFrame(rows, "doc_id long, text string, source string") \
        .repartition(4).write.parquet(batch_dir)
    spark.createDataFrame([(t,) for t in texts[50:]], "text string") \
        .coalesce(1).write.parquet(seen_dir)
    return spark.read.parquet(batch_dir), spark.read.parquet(seen_dir)


def test_clean_corpus_perfbench_shape_job_count(spark, tmp_path):
    """The Spark jobs of one clean_corpus run shaped like the perfbench
    job: normalize, seen_df, span dedup, greedy near-dup, mixture,
    observe_funnel, cleaned frame written."""
    from jsonschemaparse_spark.functions.pipeline import clean_corpus

    df, seen = _perfbench_shaped_corpus(spark, tmp_path)

    def run():
        res = clean_corpus(
            df, normalize=True, seen_df=seen, span_dedup=True,
            near_dup_threshold=0.7, near_dup_mode="greedy",
            mixture_strata="source", mixture_target_fraction=0.6,
            observe_funnel=True)
        res.cleaned.write.parquet(str(tmp_path / "cleaned"))
        return res, res.funnel_counts()

    (res, funnel), jobs = jobs_of(spark, "clean-corpus-pin", run)
    res.unpersist()
    assert funnel["n_input"] == 60
    assert funnel["n_after_snapshot"] == 50
    assert funnel["n_after_exact"] == 49
    assert funnel["n_after_c4"] == 49
    assert funnel["n_after_mixture"] == \
        spark.read.parquet(str(tmp_path / "cleaned")).count() > 0
    # the count of this input (Spark 4.1.2, local[4], AQE on); it was 27
    # while the spread read the split count of shuffled and cached frames
    assert jobs <= 23, jobs
