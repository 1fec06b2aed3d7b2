"""Tests for stats/integrity/text/dedup/similarity/multimodal modules."""

import math

import pytest

from pyspark.sql import functions as F

from conftest import jobs_of

SF = "/root/testdata/sf0.001"


# ---------------- stats -----------------------------------------------------
def test_column_profile(spark, documents):
    from jsonschemaparse_spark.functions.stats import column_profile

    prof = {r["column"]: r for r in column_profile(documents).collect()}
    assert prof["doc_id"]["count"] == documents.count()
    assert prof["doc_id"]["n_null"] == 0
    n = documents.count()
    assert abs(prof["doc_id"]["approx_distinct"] - n) <= 0.1 * n
    assert prof["n_chars"]["avg"] is not None
    assert len(prof["n_chars"]["quantiles"]) == 4


def test_top_k(spark, documents):
    from jsonschemaparse_spark.functions.stats import top_k

    rows = top_k(documents, "lang", 3).collect()
    assert rows[0]["value"] == "en"
    assert rows[0]["cnt"] >= rows[1]["cnt"] >= rows[2]["cnt"]


def test_count_min_sketch(spark, documents):
    from jsonschemaparse_spark.functions.stats import count_min_sketch

    cms = count_min_sketch(documents, "lang", depth=5, width=1024)
    exact = {r["lang"]: r["cnt"] for r in
             documents.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    for lang, cnt in exact.items():
        est = cms.estimate(lang)
        assert cnt <= est <= cnt + 0.02 * cms.total  # CMS overestimates only


# ---------------- stats math -------------------------------------------------
def test_ks_math():
    from jsonschemaparse_spark.functions.stats_math import ks_2samp_pvalue

    assert ks_2samp_pvalue(0.01, 1000, 1000) > 0.5
    assert ks_2samp_pvalue(0.5, 1000, 1000) < 1e-6


def test_chi2_math():
    from jsonschemaparse_spark.functions.stats_math import chi2_sf

    # known value: chi2 sf(3.84, 1) ≈ 0.05
    assert abs(chi2_sf(3.841, 1) - 0.05) < 0.002
    assert abs(chi2_sf(0.0, 5) - 1.0) < 1e-9
    assert chi2_sf(100.0, 3) < 1e-12


# ---------------- integrity ---------------------------------------------------
def test_uniqueness(spark, documents):
    from jsonschemaparse_spark.functions.integrity import (
        uniqueness_check,
        uniqueness_violations,
    )

    assert uniqueness_violations(documents, "doc_id").count() == 0
    chk = uniqueness_check(documents, "doc_id")
    assert chk["probably_unique"] is True

    dup = documents.union(documents.limit(5))
    assert uniqueness_violations(dup, "doc_id").count() == 5


def test_referential(spark):
    from jsonschemaparse_spark.functions.integrity import (
        referential_check,
        referential_violations,
    )

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    customer = spark.read.parquet(f"{SF}/customer.parquet")
    ok = referential_check(orders, "o_custkey", customer, "c_custkey")
    assert ok["pass"] is True

    # drop some parents -> orphans appear
    some = customer.filter(F.col("c_custkey") % 2 == 0)
    bad = referential_violations(orders, "o_custkey", some, "c_custkey")
    assert bad.count() > 0


def test_referential_broadcast_plan(spark):
    """Small parent must produce a broadcast join, not a sort-merge."""
    import io
    from contextlib import redirect_stdout

    from jsonschemaparse_spark.functions.integrity import referential_violations

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    customer = spark.read.parquet(f"{SF}/customer.parquet")
    bad = referential_violations(orders, "o_custkey", customer, "c_custkey")
    buf = io.StringIO()
    with redirect_stdout(buf):
        bad.explain("formatted")
    assert "BroadcastHashJoin" in buf.getvalue()


def test_ks_drift(spark, documents):
    from jsonschemaparse_spark.functions.integrity import ks_drift

    same = ks_drift(documents, documents, "n_chars")
    assert not same.drifted and same.statistic < 0.01

    shifted = documents.withColumn("n_chars", F.col("n_chars") + 200)
    diff = ks_drift(documents, shifted, "n_chars")
    assert diff.drifted and diff.p_value < 0.01


def test_ks_drift_two_jobs_and_bounds_param(spark, documents):
    """VERDICT r2 #5: the statistic costs exactly two driver actions
    (union'd bounds agg + side-tagged histogram agg); passing bounds=
    drops to one. Verified via job-group job counts, and the statistic is
    invariant to how the grid was obtained."""
    from jsonschemaparse_spark.functions.integrity import ks_drift

    shifted = documents.withColumn("n_chars", F.col("n_chars") + 200)

    # AQE materializes each shuffle stage as its own job, hiding the
    # action count; with it off, jobs == driver actions.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        full, jobs = jobs_of(spark, "ksd2", lambda: ks_drift(documents, shifted, "n_chars"))
        assert jobs <= 2
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")

    lo = documents.agg(F.min("n_chars")).first()[0]
    hi = shifted.agg(F.max("n_chars")).first()[0]
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        pre, jobs = jobs_of(spark, "ksd1", lambda: ks_drift(
            documents, shifted, "n_chars", bounds=(float(lo), float(hi))))
        assert jobs == 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert pre.statistic == full.statistic
    assert (pre.n_left, pre.n_right) == (full.n_left, full.n_right)


def test_chi2_drift(spark, documents):
    from jsonschemaparse_spark.functions.integrity import chi2_drift

    same = chi2_drift(documents, documents, "lang")
    assert not same.drifted

    skewed = documents.withColumn(
        "lang", F.when(F.col("lang") == "en", "zz").otherwise(F.col("lang"))
    )
    diff = chi2_drift(documents, skewed, "lang")
    assert diff.drifted


# ---------------- text ---------------------------------------------------------
def test_token_counts(spark):
    from jsonschemaparse_spark.functions.text import bpe_token_count, token_count

    df = spark.createDataFrame([("a b  c",), ("",), ("hi, there!",)], ["text"])
    got = df.select(
        token_count(F.col("text")).alias("ws"),
        bpe_token_count(F.col("text")).alias("bpe"),
    ).collect()
    assert [r["ws"] for r in got] == [3, 0, 2]
    assert [r["bpe"] for r in got] == [3, 0, 4]  # hi , there !


def test_quality_features(spark, documents):
    from jsonschemaparse_spark.functions.text import quality_features

    q = quality_features(documents)
    rows = q.select("quality_score", "n_tokens", "alpha_ratio").collect()
    assert all(0.0 <= r["quality_score"] <= 1.0 for r in rows)
    assert all(r["n_tokens"] > 0 for r in rows)


def test_detect_language(spark):
    from jsonschemaparse_spark.functions.text import detect_language

    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is warm"),
            (2, "der Hund ist nicht auf der Couch und das ist gut"),
            (3, "le chat est dans la maison et il est pas content"),
            (4, "zzz qqq vvv"),
        ],
        ["id", "text"],
    )
    got = {r["id"]: r["lang_pred"] for r in detect_language(df).collect()}
    assert got[1] == "en" and got[2] == "de" and got[3] == "fr" and got[4] == "und"


def test_fingerprint_normalization(spark):
    from jsonschemaparse_spark.functions.text import with_fingerprint

    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different")], ["id", "text"]
    )
    got = {r["id"]: r["fingerprint"] for r in with_fingerprint(df).collect()}
    assert got[1] == got[2] != got[3]


# ---------------- dedup ---------------------------------------------------------
@pytest.fixture(scope="module")
def dup_docs(spark):
    base = spark.read.parquet(f"{SF}/documents.parquet").limit(100)
    clones = base.limit(10).withColumn("doc_id", F.col("doc_id") + 100000)
    near = (
        base.limit(5)
        .withColumn("doc_id", F.col("doc_id") + 200000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail extra")))
    )
    df = base.union(clones).union(near)
    df.cache().count()
    return df


def test_exact_dedup(spark, dup_docs):
    from jsonschemaparse_spark.functions.dedup import exact_dedup, exact_duplicate_groups

    groups = exact_duplicate_groups(dup_docs, "doc_id")
    assert groups.count() == 10
    assert all(r["n_docs"] == 2 for r in groups.collect())

    deduped = exact_dedup(dup_docs, "doc_id")
    assert deduped.count() == dup_docs.count() - 10
    # keeps the smaller id of each clone pair
    assert deduped.filter(F.col("doc_id") >= 100000).filter(F.col("doc_id") < 200000).count() == 0


def test_minhash_near_duplicates(spark, dup_docs):
    from jsonschemaparse_spark.functions.dedup import minhash_near_duplicates

    pairs = minhash_near_duplicates(dup_docs, "doc_id", threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    # all 10 exact clones must be found with jaccard 1.0
    exact_pairs = [(i, i + 100000) for i in range(10)]
    for p in exact_pairs:
        assert p in got and got[p] == 1.0
    # near-dups (appended tail) should surface too with jaccard < 1
    near = [(a, b) for (a, b) in got if b >= 200000]
    assert len(near) >= 3
    assert all(got[p] < 1.0 for p in near)


def test_simhash_near_duplicates(spark, dup_docs):
    from jsonschemaparse_spark.functions.dedup import simhash_near_duplicates

    pairs = simhash_near_duplicates(dup_docs, "doc_id", max_hamming=0)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for i in range(10):
        assert (i, i + 100000) in got


def test_ngram_jaccard(spark, dup_docs):
    from jsonschemaparse_spark.functions.dedup import ngram_jaccard_pairs

    subset = dup_docs.filter((F.col("doc_id") < 30) | (F.col("doc_id") >= 100000))
    pairs = ngram_jaccard_pairs(subset, "doc_id", threshold=0.9)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # every clone pair present in the subset must be found with jaccard ~1
    assert all((i, i + 100000) in got for i in range(10))


# ---------------- similarity -----------------------------------------------------
@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_brute_force_topk(spark, embeddings):
    from jsonschemaparse_spark.functions.similarity import brute_force_topk

    q = embeddings.select("embedding").first()["embedding"]
    top = brute_force_topk(embeddings, q, k=5).collect()
    assert len(top) == 5
    assert top[0]["score"] == pytest.approx(1.0, abs=1e-4)  # itself
    assert all(top[i]["score"] >= top[i + 1]["score"] for i in range(4))


def test_lsh_topk_overlaps_exact(spark, embeddings):
    from jsonschemaparse_spark.functions.similarity import brute_force_topk, lsh_topk

    q = embeddings.select("embedding").first()["embedding"]
    exact = [r["vec_id"] for r in brute_force_topk(embeddings, q, k=10).collect()]
    approx = [r["vec_id"] for r in lsh_topk(embeddings, q, k=10, n_planes=2).collect()]
    # the query vector itself (cosine 1.0) must be in its own bucket, and
    # some of the true top-k should survive the 1/4 bucket restriction;
    # synthetic embeddings are near-orthogonal so recall is inherently modest
    assert exact[0] in approx
    assert len(set(exact) & set(approx)) >= 2


def test_embedding_near_duplicates(spark, embeddings):
    from jsonschemaparse_spark.functions.similarity import embedding_near_duplicates

    base = embeddings.limit(50)
    clones = base.limit(5).withColumn("vec_id", F.col("vec_id") + 10000)
    pairs = embedding_near_duplicates(base.union(clones), threshold=0.999)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    ids = [r["vec_id"] for r in base.limit(5).collect()]
    assert all((i, i + 10000) in got for i in ids)


# ---------------- multimodal ------------------------------------------------------
def test_multimodal_plumbing(spark):
    from jsonschemaparse_spark.multimodal import (
        extract_features,
        frame_sample_plan,
        synthesize_media,
        FEATURE_DIM,
    )

    media = synthesize_media(spark, 30)
    feats = extract_features(media)
    rows = feats.select("media_id", "features").collect()
    assert all(len(r["features"]) == FEATURE_DIM for r in rows)
    assert all(abs(sum(r["features"]) - 1.0) < 1e-5 for r in rows)

    frames = frame_sample_plan(media, every_ms=10000)
    assert frames.count() > 0
    assert frames.columns == ["media_id", "frame_ts_ms"]


def test_multimodal_codec_rejects_compressed_content(spark):
    """Non-BMP bytes (synthesize_media's fake blobs) hit the PIL swap point
    and raise — the real-codec happy path lives in tests/test_codecs.py."""
    from jsonschemaparse_spark.multimodal import extract_features, synthesize_media

    media = synthesize_media(spark, 3)
    with pytest.raises(Exception):
        extract_features(media, use_codec=True).collect()


def test_minhash_fast_mode_finds_clones(spark, dup_docs):
    from jsonschemaparse_spark.functions.dedup import minhash_near_duplicates

    pairs = minhash_near_duplicates(dup_docs, "doc_id", threshold=0.5, hash_mode="fast")
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for i in range(10):
        assert (i, i + 100000) in got


def test_reviver_and_nice_number():
    from jsonschemaparse_spark.api import parse
    from jsonschemaparse_spark.schema.relaxed_json import loads_relaxed

    doubled = parse('{"a": 1, "b": [2, 3]}',
                    lambda k, v: v * 2 if isinstance(v, int) else v)
    assert doubled == {"a": 2, "b": [4, 6]}

    assert loads_relaxed("42", nice_number="string") == "42"
    assert loads_relaxed("42", nice_number="float64") == 42.0
    assert loads_relaxed("42", nice_number="fraction") == [42, 1]


# ---------------------------------------------------------------------------
# r4: Gopher quality rules, line-level dedup, URL canonicalization
# ---------------------------------------------------------------------------
def test_gopher_quality_flags(spark):
    from jsonschemaparse_spark.functions.text import gopher_quality_flags

    good = "word " * 60 + "\nanother line of useful content here"
    listy = "\n".join("- item %d" % i for i in range(10))
    symbols = "# " * 30
    dup = "same line\n" * 10 + "unique words " * 30
    df = spark.createDataFrame(
        [(1, good), (2, listy), (3, symbols), (4, dup), (5, None)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict()
           for r in gopher_quality_flags(df).collect()}
    assert got[1]["gopher_keep"] is True
    assert got[2]["gopher_keep"] is False  # all-bullet + too few words
    assert got[2]["bullet_line_fraction"] == 1.0
    assert got[3]["gopher_keep"] is False  # symbol ratio + no alpha
    assert got[3]["symbol_word_ratio"] == 1.0
    assert got[4]["duplicate_line_fraction"] == pytest.approx(9 / 11, abs=1e-6)
    assert got[5]["n_words"] == 0 and got[5]["gopher_keep"] is False


def test_line_dedup_and_strip(spark):
    from jsonschemaparse_spark.functions.dedup import (
        duplicate_line_groups,
        strip_boilerplate_lines,
    )

    docs = spark.createDataFrame(
        [(i, "NAV MENU\nbody %d alpha\nbody %d beta\nFOOTER" % (i, i))
         for i in range(6)],
        "doc_id long, text string",
    )
    hot = {r["line"]: (r["n_docs"], r["n_occurrences"])
           for r in duplicate_line_groups(docs, "doc_id").collect()}
    assert hot == {"NAV MENU": (6, 6), "FOOTER": (6, 6)}
    stripped = strip_boilerplate_lines(docs, "doc_id", min_docs=6)
    rows = {r["doc_id"]: r["text"] for r in stripped.collect()}
    assert rows[3] == "body 3 alpha\nbody 3 beta"  # order preserved, hot gone
    assert len(rows) == 6
    # a line repeated INSIDE one doc does not count that doc twice
    one = spark.createDataFrame(
        [(1, "x\nx\nx"), (2, "y")], "doc_id long, text string")
    assert duplicate_line_groups(one, "doc_id").count() == 0


def test_canonical_url(spark):
    from jsonschemaparse_spark.functions.web import (
        canonical_url,
        url_duplicate_groups,
    )

    urls = spark.createDataFrame(
        [
            (1, "HTTPS://Example.COM:443/Path?utm_source=a&utm_medium=b&id=5#frag"),
            (2, "https://example.com/Path?id=5"),
            (3, "http://Site.org:80/a?fbclid=zz"),
            (4, "http://site.org/a"),
            (5, "https://other.net:8443/x"),       # non-default port kept
            (6, "https://example.com/Path?id=6"),  # different query survives
        ],
        "doc_id long, url string",
    )
    got = {r["doc_id"]: r["c"] for r in
           urls.select("doc_id", canonical_url(F.col("url")).alias("c")).collect()}
    assert got[1] == got[2] == "https://example.com/Path?id=5"
    assert got[3] == got[4] == "http://site.org/a"
    assert got[5] == "https://other.net:8443/x"
    assert got[6] == "https://example.com/Path?id=6"
    groups = {r["canonical_url"]: r["doc_ids"] for r in
              url_duplicate_groups(urls, "doc_id").collect()}
    assert groups == {"https://example.com/Path?id=5": [1, 2],
                      "http://site.org/a": [3, 4]}


def test_gopher_repetition_metrics(spark):
    """Paragraph + char-fraction repetition terms (the Gopher set's
    remaining computable rows; top-n-gram fractions documented-omitted)."""
    from jsonschemaparse_spark.functions.text import gopher_quality_flags

    para = "repeated paragraph body here\n\n"
    doc = para + "unique middle words " * 30 + "\n\n" + para
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    r = gopher_quality_flags(df).first()
    assert r["duplicate_paragraph_fraction"] == pytest.approx(1 / 3, abs=1e-6)
    assert r["duplicate_paragraph_char_fraction"] > 0
    assert r["duplicate_line_char_fraction"] > 0  # the repeated line's chars
    # clean doc: all repetition terms zero
    clean = spark.createDataFrame(
        [(1, "one two\n\nthree four " + "filler words " * 30)],
        "doc_id long, text string")
    c = gopher_quality_flags(clean).first()
    assert c["duplicate_paragraph_fraction"] == 0.0
    assert c["duplicate_line_char_fraction"] == 0.0
    assert c["gopher_keep"] is True


def test_canonical_url_review_fixes(spark):
    """r4 fourth-review: anchored tracking removal (params CONTAINING a
    tracking name survive; path segments survive), userinfo case
    preserved, default port stripped behind userinfo, consecutive
    tracking params removed in one pass, dup groups count DISTINCT ids."""
    from jsonschemaparse_spark.functions.web import (
        canonical_url,
        url_duplicate_groups,
    )

    cases = {
        1: ("https://ex.com/p?pgclid=1&x=2", "https://ex.com/p?pgclid=1&x=2"),
        2: ("https://ex.com/ref_src=a&b/path", "https://ex.com/ref_src=a&b/path"),
        3: ("https://ex.com/p?utm_a=1&utm_b=2&x=3", "https://ex.com/p?x=3"),
        4: ("https://ex.com/p?utm_a=1&utm_b=2", "https://ex.com/p"),
        5: ("https://User@Example.com:443/x", "https://User@example.com/x"),
        6: ("https://u:p@Example.com:443/x", "https://u:p@example.com/x"),
        7: ("https://ex.com/p?x=1&gclid=z&y=2", "https://ex.com/p?x=1&y=2"),
    }
    df = spark.createDataFrame(list(cases.items()),
                               "doc_id long, pair struct<_1:string,_2:string>")
    got = {r["doc_id"]: r["c"] for r in df.select(
        "doc_id", canonical_url(F.col("pair._1")).alias("c")).collect()}
    for k, (_, want) in cases.items():
        assert got[k] == want, (k, got[k], want)

    # countDistinct: a doubly-ingested row is not a duplicate group
    dup = spark.createDataFrame(
        [(1, "http://a/x"), (1, "http://a/x"), (2, "http://b/y")],
        "doc_id long, url string")
    assert url_duplicate_groups(dup, "doc_id").count() == 0


def test_strip_boilerplate_preserves_blanks_and_doc_column(spark):
    """r4 fourth-review: kept lines emitted verbatim (blank lines and
    indentation survive -> paragraph segmentation intact), and an id
    column literally named 'doc' is not eaten by internal drops."""
    from jsonschemaparse_spark.functions.dedup import strip_boilerplate_lines

    docs = spark.createDataFrame(
        [(i, "HOT\npara one %d\n\n  para two %d\nHOT" % (i, i))
         for i in range(3)],
        "doc long, text string",
    )
    out = strip_boilerplate_lines(docs, "doc", min_docs=3)
    assert set(out.columns) == {"doc", "text"}
    assert out.filter(F.col("doc") == 1).first()["text"] == \
        "para one 1\n\n  para two 1"


def test_c4_quality_flags_and_line_filter(spark):
    from jsonschemaparse_spark.functions.text import (
        c4_line_filter,
        c4_quality_flags,
    )

    good = ("This is a first sentence with plenty of words.\n"
            "Here is a second sentence that also ends properly!\n"
            "And a third one closes the document?")
    codey = "function f() { return 1; } // three. sentences. here."
    lorem = "Lorem Ipsum dolor sit amet. More text here. And more."
    short = "Just one sentence."
    df = spark.createDataFrame(
        [(1, good), (2, codey), (3, lorem), (4, short), (5, None)],
        "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in c4_quality_flags(df).collect()}
    assert got[1]["c4_keep"] is True and got[1]["n_sentences"] == 3
    assert got[2]["c4_keep"] is False and got[2]["has_curly_brace"]
    assert got[3]["c4_keep"] is False and got[3]["has_lorem_ipsum"]
    assert got[4]["c4_keep"] is False
    assert got[5]["c4_keep"] is False and got[5]["n_sentences"] == 0
    assert got[1]["terminal_punct_line_fraction"] == 1.0

    lf = spark.createDataFrame([(1,
        "Menu\n"
        "A proper sentence with enough words right here.\n"
        "short one.\n"
        "Another good line that ends with a question mark maybe?")],
        "doc_id long, text string")
    out = c4_line_filter(lf).first()["text"]
    assert out == ("A proper sentence with enough words right here.\n"
                   "Another good line that ends with a question mark maybe?")


def test_quality_flags_fused_matches_unfused(spark):
    """r6 VERDICT #1: the fused gate's columns are bit-identical to
    chaining gopher_quality_flags + c4_quality_flags, and quality_keep is
    the AND of the two keeps."""
    from jsonschemaparse_spark.functions.text import (
        c4_quality_flags,
        gopher_quality_flags,
        quality_flags,
    )

    good = ("word " * 60).strip() + ".\nSecond sentence right here!\nThird one closes?"
    df = spark.createDataFrame(
        [(1, good),
         (2, "function f() { x; } " + "word " * 60),
         (3, "- a\n- b\n- c"),
         (4, "Lorem ipsum dolor. " + "useful words here " * 20 + ". End!"),
         (5, None),
         (6, "badtoken appears here. " + "word " * 60 + ". Closing line!")],
        "doc_id long, text string")
    bw = ["badtoken", "two word phrase"]
    fused = quality_flags(df, badwords=bw)
    unfused = c4_quality_flags(
        gopher_quality_flags(df), badwords=bw)
    f_rows = {r["doc_id"]: r.asDict() for r in fused.collect()}
    u_rows = {r["doc_id"]: r.asDict() for r in unfused.collect()}
    for i, u in u_rows.items():
        f = f_rows[i]
        for col, v in u.items():
            assert f[col] == v, (i, col, f[col], v)
        assert f["quality_keep"] == (u["gopher_keep"] and u["c4_keep"])
    # gate subsets work and keep reflects only the enabled gates
    only_g = quality_flags(df, c4=False).collect()
    for r in only_g:
        assert r["quality_keep"] == r["gopher_keep"]
        assert "c4_keep" not in r.asDict()


def test_quality_flags_single_projection_plan(spark, documents):
    """r6 VERDICT #1 'done' criterion: the fused gate over a
    well-split input is ONE Project subtree over ONE scan — no
    Exchange, no Generate, no Python eval, and exactly one Project
    node in the physical plan. (r7: few-split inputs are spread by
    ensure_parallelism first — pinned separately below — so the
    zero-shuffle contract is asserted on an input that already has
    enough splits, via an eager localCheckpoint that truncates the
    spreading repartition out of the plan.)"""
    import io
    from contextlib import redirect_stdout

    from jsonschemaparse_spark.functions.text import quality_flags

    wide = documents.repartition(
        spark.sparkContext.defaultParallelism).localCheckpoint()
    out = quality_flags(wide, badwords=["zzz"])
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan
    assert "Python" not in plan, plan
    n_projects = sum(
        1 for ln in plan.splitlines()
        if ln.strip().split(" ", 2)[1:2] == ["Project"])
    assert n_projects == 1, plan


def test_quality_flags_spreads_few_split_input(spark, documents):
    """r7: the interpreted gate projection over a FEW-split input (the
    sf0.001 parquet is one split) must be spread across cores — the
    plan carries exactly one round-robin repartition below the
    projection (NOTES pitfall #4; measured 4.7 s -> 0.8 s at sf1.0)."""
    from jsonschemaparse_spark.functions.text import quality_flags

    plan = quality_flags(documents)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("RoundRobinPartitioning") == 1, plan
    assert "Scan parquet" in plan


# =========================================================================
# moved from test_round2_fixes.py (round-fix regression pins, split by
# topic per VERDICT r5 #8)
# =========================================================================
import pytest  # noqa: E402,F811,F401
from pyspark.sql import functions as F  # noqa: E402,F811,F401

def test_simhash_is_pure_expression(spark):
    """simhash must stay inside whole-stage codegen: no Python evaluation
    node in the plan (the r1 kernel was a per-row mapInPandas loop)."""
    from jsonschemaparse_spark.functions.dedup import simhash

    df = spark.createDataFrame([(1, "hello world"), (2, None)], ["doc_id", "text"])
    sh = simhash(df, "doc_id")
    plan = sh._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan
    got = {r["doc_id"]: r["simhash"] for r in sh.collect()}
    assert got[2] == 0  # null text -> empty token set -> 0
    assert got[1] != 0


def test_chi2_truncation_deterministic(spark):
    """Above max_categories the truncation picks top-N by count
    deterministically and flags DriftResult.truncated."""
    from jsonschemaparse_spark.functions.integrity import chi2_drift

    rows = [(f"cat{i:03d}", ) for i in range(40) for _ in range(i + 1)]
    df = spark.createDataFrame(rows, ["lang"]).repartition(8)
    r1 = chi2_drift(df, df, "lang", max_categories=10)
    r2 = chi2_drift(df, df, "lang", max_categories=10)
    assert r1.truncated and r2.truncated
    assert r1.statistic == r2.statistic
    full = chi2_drift(df, df, "lang")
    assert not full.truncated


def test_referential_default_no_count_job(spark):
    """broadcast_parent=None must not run a driver-side count(): the plan is
    built lazily and still answers correctly (AQE decides the strategy)."""
    from jsonschemaparse_spark.functions.integrity import referential_violations

    child = spark.createDataFrame([(1, 10), (2, 99)], ["id", "fk"])
    parent = spark.createDataFrame([(10,), (20,)], ["pk"])
    # building the plan must not trigger a job; sanity-check results only
    bad = referential_violations(child, "fk", parent, "pk")
    assert [r["id"] for r in bad.collect()] == [2]


def _noisy_corpus(spark, n=30, dim=16, noise=0.12):
    """base vectors + perturbed clones (cosine ~0.97-0.995), deterministic."""
    import math
    import random

    rng = random.Random(7)
    rows = []
    for i in range(n):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        nv = math.sqrt(sum(x * x for x in v))
        v = [x / nv for x in v]
        d = [rng.gauss(0, 1) for _ in range(dim)]
        nd = math.sqrt(sum(x * x for x in d))
        w = [x + noise * y / nd for x, y in zip(v, d)]
        rows.append((i, v))
        rows.append((i + 100000, w))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_embedding_multi_table_recall(spark):
    """Multi-table banding must recover noisy near-dup pairs a single table
    misses (recall 1-(1-p^b)^T vs p^b)."""
    from jsonschemaparse_spark.functions.similarity import embedding_near_duplicates

    corpus = _noisy_corpus(spark)
    true_pairs = {(i, i + 100000) for i in range(30)}

    def found(n_tables):
        pairs = embedding_near_duplicates(
            corpus, threshold=0.95, n_planes=12, n_tables=n_tables, dim=16)
        return {(r["id_a"], r["id_b"]) for r in pairs.collect()} & true_pairs

    single = found(1)
    multi = found(4)
    assert single <= multi
    assert len(multi) >= 27  # >=90% recall on the noisy pairs
    assert len(multi) > len(single)  # the extra tables actually pay


def test_embedding_bucket_cap_bounds_candidates(spark):
    """A degenerate hot bucket (identical vectors) is skipped under
    max_bucket_size and surfaced by embedding_bucket_overflow."""
    from jsonschemaparse_spark.functions.similarity import (
        embedding_bucket_overflow,
        embedding_near_duplicates,
    )

    vec = [1.0] * 8
    corpus = spark.createDataFrame(
        [(i, vec) for i in range(100)], "vec_id long, embedding array<double>"
    )
    uncapped = embedding_near_duplicates(corpus, threshold=0.99, dim=8)
    assert uncapped.count() == 100 * 99 // 2
    capped = embedding_near_duplicates(corpus, threshold=0.99, dim=8,
                                       max_bucket_size=10)
    assert capped.count() == 0
    over = embedding_bucket_overflow(corpus, max_bucket_size=10, dim=8).collect()
    assert len(over) >= 1 and all(r["n_rows"] == 100 for r in over)


def test_brute_force_topk_pandas_kernel(spark):
    """numpy-matmul kernel returns the same top-k as the expression fold."""
    from jsonschemaparse_spark.functions.similarity import brute_force_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    a = [r["vec_id"] for r in brute_force_topk(emb, q, k=10, kernel="expr").collect()]
    b = [r["vec_id"] for r in brute_force_topk(emb, q, k=10, kernel="pandas").collect()]
    assert a == b and a[0] == 0


def test_lsh_topk_multi_probe_recall(spark):
    """Multi-table probing recovers at least as much of the exact top-k as
    a single table (recall 1-(1-p^b)^T)."""
    from jsonschemaparse_spark.functions.similarity import brute_force_topk, lsh_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    exact = {r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()}
    one = {r["vec_id"] for r in lsh_topk(emb, q, k=10, n_planes=2).collect()}
    multi = {r["vec_id"] for r in lsh_topk(emb, q, k=10, n_planes=2, n_tables=4).collect()}
    assert 0 in one and 0 in multi  # the query vector is its own bucket-mate
    assert len(multi & exact) >= len(one & exact)
    assert len(multi & exact) >= 5


def test_pandas_cosine_null_and_ragged_vectors(spark):
    from jsonschemaparse_spark.functions.similarity import brute_force_topk

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [1.0, 0.0, 5.0]), (4, [0.5, 0.0])],
        "vec_id long, embedding array<double>",
    )
    top = brute_force_topk(df, [1.0, 0.0], k=4, kernel="pandas").collect()
    scores = {r["vec_id"]: r["score"] for r in top}
    assert scores[1] == 1.0 and scores[4] == 1.0
    assert scores[2] is None and scores[3] is None  # null/ragged -> NULL score


def test_multimodal_resize_plumbing(spark):
    """Aspect-preserving resize targets computed expression-side; the Arrow
    pass rewrites meta dims (pixel resample is the stubbed codec)."""
    from jsonschemaparse_spark.multimodal import resize_images, resize_plan, synthesize_media

    media = synthesize_media(spark, 40)
    planned = resize_plan(media, max_w=100, max_h=100)
    for r in planned.select("meta.width", "meta.height",
                            "target_width", "target_height").collect():
        assert 1 <= r["target_width"] <= 100 and 1 <= r["target_height"] <= 100
        if r["width"] <= 100 and r["height"] <= 100:
            assert (r["target_width"], r["target_height"]) == (r["width"], r["height"])
    resized = resize_images(media, max_w=100, max_h=100)
    rows = resized.select("meta.width", "meta.height").collect()
    assert all(r["width"] <= 100 and r["height"] <= 100 for r in rows)
    assert resized.count() == 40


def test_ivf_topk(spark):
    """IVF probe finds the exact nearest neighbours when their list is
    probed; n_probe == n_lists degenerates to exact top-k."""
    from jsonschemaparse_spark.functions.similarity import (
        brute_force_topk,
        ivf_index,
        ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    exact = [r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()]
    index = ivf_index(emb, n_lists=8)
    # full probe == exact
    full = [r["vec_id"] for r in
            ivf_topk(emb, q, k=10, n_lists=8, n_probe=8, index=index).collect()]
    assert full == exact
    # partial probe: the query's own list is always probed -> vec 0 found,
    # and a reasonable share of the true top-k survives
    part = {r["vec_id"] for r in
            ivf_topk(emb, q, k=10, n_lists=8, n_probe=3, index=index).collect()}
    assert 0 in part
    assert len(part & set(exact)) >= 4


# =========================================================================
# moved from test_round3_fixes.py (round-fix regression pins, split by
# topic per VERDICT r5 #8)
# =========================================================================
import pytest  # noqa: E402,F811,F401
from pyspark.sql import functions as F  # noqa: E402,F811,F401

_LANG_SENTENCES = {
    "en": [
        "the cat and the dog were in the house that was built for it",
        "it is clear that the results of the study were good for everyone",
        "this is the best way to learn and it was fun for all of us",
    ],
    "de": [
        "der Hund und die Katze sind nicht mit dem Auto auf der Strasse",
        "das ist ein gutes Buch und es ist nicht zu schwer zu lesen",
        "die Kinder spielen mit einem Ball auf der Wiese und sind froh",
    ],
    "fr": [
        "le chat et le chien sont dans la maison pour les enfants",
        "ce n'est pas une bonne idee et il est tard dans la nuit",
        "les resultats sont bons et une solution est possible pour tous",
    ],
    "es": [
        "el perro y el gato estan en la casa de los vecinos",
        "es una buena idea que los estudiantes estudien para el examen",
        "los resultados son buenos y es por eso que estamos con ellos",
    ],
    "it": [
        "il gatto che vive nella casa non e una minaccia per nessuno",
        "sono contento del lavoro che una persona per bene sa fare",
        "non e facile ma il risultato che otteniamo e una vittoria",
    ],
    "pt": [
        "o gato que mora na casa nao e uma ameaca para os vizinhos",
        "os resultados do estudo sao bons para quem trabalha com dados",
        "nao e facil mas o resultado que temos e uma grande vitoria",
    ],
    "nl": [
        "de kat en de hond zijn niet in het huis van de buren",
        "het is een goed idee dat de studenten op tijd komen",
        "de resultaten zijn goed en dat is niet te ontkennen",
    ],
    "ru": [
        "кошка и собака живут в доме у соседей",
        "это очень хорошая книга для всех студентов",
        "результаты исследования очень хорошие",
    ],
    "zh": [
        "这是一个关于数据处理的文档",
        "我们的研究结果非常好",
        "学生们在图书馆里认真学习",
    ],
    "ja": [
        "これはデータ処理についての文書です",
        "私たちの研究結果はとても良かったです",
        "学生たちは図書館で勉強しています",
    ],
}


def test_lang_id_detects_all_ten_languages(spark):
    from jsonschemaparse_spark.functions.text import detect_language

    rows = []
    i = 0
    for lang, sents in _LANG_SENTENCES.items():
        for s in sents:
            rows.append((i, lang, s))
            i += 1
    df = spark.createDataFrame(rows, ["id", "lang", "text"])
    got = detect_language(df).collect()
    per_lang_hits = {}
    n_ok = 0
    for r in got:
        ok = r["lang_pred"] == r["lang"]
        n_ok += ok
        per_lang_hits.setdefault(r["lang"], []).append(r["lang_pred"])
    acc = n_ok / len(got)
    assert acc > 0.9, per_lang_hits
    # every language detected at least once (no script left behind)
    for lang, preds in per_lang_hits.items():
        assert lang in preds, (lang, preds)


def test_lang_id_script_priority(spark):
    """Kana beats Han (ja mixes both); scripts beat stopwords only when
    they dominate the Latin letter count."""
    from jsonschemaparse_spark.functions.text import detect_language

    df = spark.createDataFrame(
        [
            (1, "これは漢字交じり"),   # kana+han -> ja
            (2, "纯汉字文档"),                      # han only -> zh
            (3, "the data pipeline 中 one hanzi"),                  # latin dominates -> en
            (4, ""),                                                      # empty -> und
        ],
        ["id", "text"],
    )
    got = {r["id"]: r["lang_pred"] for r in detect_language(df).collect()}
    assert got == {1: "ja", 2: "zh", 3: "en", 4: "und"}


# =========================================================================
# moved from test_round4_fixes.py (round-fix regression pins, split by
# topic per VERDICT r5 #8)
# =========================================================================
import pytest  # noqa: E402,F811,F401
from pyspark.sql import functions as F  # noqa: E402,F811,F401
from conftest import SF01_DIR  # noqa: E402,F811,F401

@pytest.fixture(scope="module")
def hot_shingle_docs(spark):
    # d1/d2 duplicate pair via unique shingles; d10..d15 share ONLY the hot
    # trigram "h1 h2 h3" (posting list length 6) plus a unique tail shingle
    rows = [(1, "x1 x2 x3 x4"), (2, "x1 x2 x3 x4")]
    rows += [(10 + i, f"h1 h2 h3 u{i}") for i in range(6)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_posting_overflow_names_hot_shingle(spark, hot_shingle_docs):
    from jsonschemaparse_spark.functions.dedup import ngram_posting_overflow

    over = ngram_posting_overflow(hot_shingle_docs, "doc_id", max_posting_len=4).collect()
    assert [(r["sh"], r["n_docs"]) for r in over] == [("h1 h2 h3", 6)]


def test_ngram_jaccard_cap_skips_hot_pairs(spark, hot_shingle_docs):
    from jsonschemaparse_spark.functions.dedup import ngram_jaccard_pairs

    # uncapped: the hot shingle generates all 15 pairs among d10..d15
    uncapped = ngram_jaccard_pairs(
        hot_shingle_docs, "doc_id", threshold=0.3
    ).collect()
    uncapped_pairs = {(r["id_a"], r["id_b"]) for r in uncapped}
    assert (1, 2) in uncapped_pairs
    assert len([p for p in uncapped_pairs if p[0] >= 10]) == 15

    # capped: hot-shingle-only pairs vanish; the true duplicate survives
    # with its exact score (its shingles are all below the cap)
    capped = ngram_jaccard_pairs(
        hot_shingle_docs, "doc_id", threshold=0.3, max_posting_len=4
    ).collect()
    capped_pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped}
    assert set(capped_pairs) == {(1, 2)}
    assert capped_pairs[(1, 2)] == 1.0


def test_ngram_jaccard_cap_is_lower_bound(spark):
    """A pair sharing both hot and cold shingles keeps its pair but reports
    a lower-bound jaccard (intersection loses the hot shingle; |A|,|B|
    stay full)."""
    from jsonschemaparse_spark.functions.dedup import ngram_jaccard_pairs

    rows = [(1, "h1 h2 h3 a b"), (2, "h1 h2 h3 a b")]
    rows += [(10 + i, f"h1 h2 h3 z{i}") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # shingles of d1/d2: {h1 h2 h3, h2 h3 a, h3 a b} — "h1 h2 h3" is hot (7)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", threshold=0.3, max_posting_len=4
        ).collect()
    }
    # true jaccard 1.0; capped intersection = 2 of 3 shingles -> 2/(3+3-2)=0.5
    assert got == {(1, 2): 0.5}


def _plan_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_auto_kernel_narrow_stays_expr(spark):
    from jsonschemaparse_spark.functions.similarity import brute_force_topk

    emb = spark.read.parquet(f"{SF01_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    assert len(q) == 64
    auto = brute_force_topk(emb, q, k=5)
    assert "zip_with" in _plan_of(auto)  # expression kernel, oracle-reproducible
    expr = brute_force_topk(emb, q, k=5, kernel="expr")
    assert [r.asDict() for r in auto.collect()] == [r.asDict() for r in expr.collect()]


def test_auto_kernel_wide_routes_to_pandas(spark):
    from jsonschemaparse_spark.functions.similarity import (
        PANDAS_KERNEL_MIN_DIM,
        brute_force_topk,
    )

    dim = PANDAS_KERNEL_MIN_DIM
    rows = [(i, [float((i * 31 + j * 7) % 13) - 6.0 for j in range(dim)]) for i in range(40)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = rows[3][1]
    auto = brute_force_topk(corpus, q, k=5)
    assert "zip_with" not in _plan_of(auto)  # BLAS kernel selected
    pand = brute_force_topk(corpus, q, k=5, kernel="pandas")
    assert [r.asDict() for r in auto.collect()] == [r.asDict() for r in pand.collect()]
    # and the two kernels agree on the ranking itself
    expr = brute_force_topk(corpus, q, k=5, kernel="expr")
    assert [r["vec_id"] for r in auto.collect()] == [r["vec_id"] for r in expr.collect()]


def _clustered_corpus(spark, n=400, dim=16, n_clusters=8, seed=7):
    """Deterministic LCG-built clustered vectors: 8 well-separated centers
    (coords in [-10,10]) with +/-0.5 jitter — the data regime IVF is
    designed for, where quarter-probe recall should be ~1."""
    x = seed

    def nxt():
        nonlocal x
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        return (x >> 11) / float(1 << 52)

    cents = [[(nxt() * 2 - 1) * 10 for _ in range(dim)] for _ in range(n_clusters)]
    rows = [
        (i, [v + (nxt() * 2 - 1) * 0.5 for v in cents[i % n_clusters]])
        for i in range(n)
    ]
    return rows


def test_ivf_partial_probe_recall_clustered(spark):
    """recall@10 >= 0.9 at n_probe = n_lists/4 on a clustered corpus
    (measured 1.0): grades the approximate path, not the degenerate
    full-probe-exact shape the oracle covers."""
    from jsonschemaparse_spark.functions.similarity import (
        brute_force_topk,
        ivf_index,
        ivf_topk,
    )

    rows = _clustered_corpus(spark)
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    index = ivf_index(corpus, n_lists=8)
    recalls = []
    for i in range(10):
        q = rows[i][1]
        exact = {r["vec_id"] for r in brute_force_topk(corpus, q, k=10, kernel="expr").collect()}
        part = {
            r["vec_id"]
            for r in ivf_topk(corpus, q, k=10, n_lists=8, n_probe=2, index=index).collect()
        }
        recalls.append(len(part & exact) / 10)
    assert sum(recalls) / len(recalls) >= 0.9


def test_ivf_partial_probe_shipped_corpus_floor(spark):
    """The shipped embeddings are UNclustered (uniform-ish), the worst case
    for IVF: half-probe recall measured 0.86 mean over 5 queries. Assert an
    honest floor, and that the query's own list is always probed (its
    nearest neighbour — itself — is never lost)."""
    from jsonschemaparse_spark.functions.similarity import (
        brute_force_topk,
        ivf_index,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{SF01_DIR}/embeddings.parquet")
    index = ivf_index(emb, n_lists=8)
    qrows = emb.filter(F.col("vec_id") < 5).orderBy("vec_id").collect()
    recalls = []
    for qr in qrows:
        q = qr["embedding"]
        exact = {r["vec_id"] for r in brute_force_topk(emb, q, k=10, kernel="expr").collect()}
        got = {
            r["vec_id"]
            for r in ivf_topk(emb, q, k=10, n_lists=8, n_probe=4, index=index).collect()
        }
        assert qr["vec_id"] in got
        recalls.append(len(got & exact) / 10)
    assert sum(recalls) / len(recalls) >= 0.7


def test_ivf_assignment_deterministic_snapshot(spark):
    """Seeded k-means listing is reproducible: two index builds agree
    row-for-row, and vec_ids 0-7 match the pinned snapshot (captured under
    both local[4] and local[8] — assignment is parallelism-independent on
    this corpus)."""
    from jsonschemaparse_spark.functions.similarity import ivf_index

    emb = spark.read.parquet(f"{SF01_DIR}/embeddings.parquet")
    a1 = sorted(
        (r["vec_id"], r["_ivf_list"])
        for r in ivf_index(emb, n_lists=8)[0].select("vec_id", "_ivf_list").collect()
    )
    a2 = sorted(
        (r["vec_id"], r["_ivf_list"])
        for r in ivf_index(emb, n_lists=8)[0].select("vec_id", "_ivf_list").collect()
    )
    assert a1 == a2
    assert a1[:8] == [(0, 3), (1, 7), (2, 4), (3, 7), (4, 6), (5, 0), (6, 2), (7, 3)]


def test_ivf_partial_driver_query_shape(spark):
    """The rows-only driver query returns k rows with a stable schema."""
    import __spark_entry__ as entry

    df = entry.q_ann_ivf_partial(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert len(rows) == 10
    assert df.columns == ["vec_id", "score"]


# =========================================================================
# moved from test_round5_fixes.py (round-fix regression pins, split by
# topic per VERDICT r5 #8)
# =========================================================================
import pytest  # noqa: E402,F811,F401
from pyspark.sql import functions as F  # noqa: E402,F811,F401

def test_top_ngram_fractions_hand_computed(spark):
    from jsonschemaparse_spark.functions.text import gopher_top_ngram_fractions

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat the cat sat again and again and again ok"),
            (2, "a b"),
            (3, ""),
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["top_2gram_char_fraction"],
            r["top_3gram_char_fraction"],
            r["top_4gram_char_fraction"],
        )
        for r in gopher_top_ngram_fractions(df).collect()
    }
    # doc 1: 14 words, rejoined length 63.
    #   top 2-gram "the cat" x2 -> 2*7/63; top 3-gram "the cat sat" x2 ->
    #   2*11/63; 4-grams all unique -> tie-break picks the lexicographically
    #   greatest, "the mat the cat" (len 15) -> 15/63.
    assert got[1] == (
        round(14 / 63, 6),
        round(22 / 63, 6),
        round(15 / 63, 6),
    )
    # doc 2: single 2-gram covers the whole text; no 3/4-grams.
    assert got[2] == (1.0, 0.0, 0.0)
    # empty / NULL -> all zeros
    assert got[3] == (0.0, 0.0, 0.0)
    assert got[4] == (0.0, 0.0, 0.0)


def test_top_ngram_overlapping_exceeds_one(spark):
    """Overlapping occurrences all count — degenerate repetition can push a
    fraction past 1.0, which is fine: the gate thresholds are <= 0.2."""
    from jsonschemaparse_spark.functions.text import gopher_top_ngram_fractions

    df = spark.createDataFrame(
        [(1, "x y x y x y x y x y x y")], "doc_id long, text string"
    )
    r = gopher_top_ngram_fractions(df).collect()[0]
    # 12 words, tc=23; "x y" x6 -> 18/23
    assert r["top_2gram_char_fraction"] == round(18 / 23, 6)
    assert r["top_4gram_char_fraction"] > 1.0


def test_gopher_quality_full_keep(spark):
    from jsonschemaparse_spark.functions.text import gopher_quality_full

    # 80 distinct words, every bigram unique -> top fractions stay tiny
    clean_words = " ".join(f"word{i}x" for i in range(80))
    repetitive = "spam eggs " * 60  # top 2-gram dominates
    df = spark.createDataFrame(
        [(1, clean_words), (2, repetitive.strip())], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in gopher_quality_full(df).collect()}
    assert rows[1]["gopher_keep_full"] == rows[1]["gopher_keep"]
    # the repetitive doc passes nothing n-gram-wise
    assert rows[2]["top_2gram_char_fraction"] > 0.2
    assert not rows[2]["gopher_keep_full"]


def test_top_ngram_plan_has_single_explode_and_combine(spark):
    """Scale shape: one Generate (explode) feeding partial/final aggregates;
    no window, no python UDF."""
    from jsonschemaparse_spark.functions.text import gopher_top_ngram_fractions

    df = spark.createDataFrame([(1, "a b c a b")], "doc_id long, text string")
    plan = gopher_top_ngram_fractions(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate explode") == 1
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_char_fraction_cap_pathological_doc(spark):
    from jsonschemaparse_spark.functions.text import gopher_quality_flags

    many = "\n".join(f"line {i}" for i in range(50_000))
    small = "one line\ntwo line"
    df = spark.createDataFrame(
        [(1, many), (2, small)], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in gopher_quality_flags(df, char_fraction_max_items=1000).collect()
    }
    assert rows[1]["char_fraction_truncated"] is True
    assert rows[2]["char_fraction_truncated"] is False
    # capped metrics still well-defined (all lines unique -> 0 dup chars)
    assert rows[1]["duplicate_line_char_fraction"] == 0.0
    # count-based fraction stays exact and uncapped
    assert rows[1]["duplicate_line_fraction"] == 0.0


def test_char_fraction_default_cap_no_effect_on_small_docs(spark):
    from jsonschemaparse_spark.functions.text import gopher_quality_flags

    df = spark.createDataFrame(
        [(1, "dup\ndup\nunique one\nunique two")], "doc_id long, text string"
    )
    r = gopher_quality_flags(df).collect()[0]
    assert r["char_fraction_truncated"] is False
    # 2 dup lines of 3 chars each out of 3+3+10+10 = 26
    assert r["duplicate_line_char_fraction"] == round(6 / 26, 6)


def test_span_groups_and_keep_first(spark):
    from jsonschemaparse_spark.functions.dedup import (
        duplicate_span_groups,
        remove_duplicate_spans,
    )

    docs = [
        (1, "Alpha one. Beta two. Gamma three. Unique tail A."),
        (2, "Intro B! Alpha one. Beta two. Gamma three. Closing B."),
        (3, "Totally unrelated. Nothing shared here. Still nothing. Bye."),
        (4, "Alpha one. Beta two. Gamma three."),
        (5, ""),
        (6, "No terminal punctuation at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    groups = duplicate_span_groups(df, "doc_id").collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["span"] == "alpha one. beta two. gamma three."
    assert (g["n_docs"], g["n_occurrences"]) == (3, 3)

    out = {r["doc_id"]: r["text"]
           for r in remove_duplicate_spans(df, "doc_id").collect()}
    # first occurrence (doc 1, pos 0) keeps the span; later ones lose it
    assert out[1] == docs[0][1]
    assert out[2] == "Intro B! Closing B."
    assert out[4] == ""
    # untouched docs round-trip byte-identically (chunk regex tiles text)
    assert out[3] == docs[2][1]
    assert out[6] == docs[5][1]
    assert out[5] == ""


def test_span_dedup_in_document_repeat(spark):
    """C4 counts occurrences, not documents: a span repeated INSIDE one doc
    is a duplicate; the second in-doc occurrence is removed."""
    from jsonschemaparse_spark.functions.dedup import remove_duplicate_spans

    rep = "One a. Two b. Three c. Bridge x. One a. Two b. Three c."
    df = spark.createDataFrame([(1, rep)], "doc_id long, text string")
    out = remove_duplicate_spans(df, "doc_id").collect()[0]["text"]
    assert out == "One a. Two b. Three c. Bridge x."


def test_span_dedup_normalized_matching(spark):
    """Matching is on normalized sentences (case/whitespace-insensitive)
    but kept text is emitted verbatim."""
    from jsonschemaparse_spark.functions.dedup import remove_duplicate_spans

    docs = [
        (1, "Alpha one. Beta two. Gamma three."),
        (2, "ALPHA   one.  Beta two.   gamma THREE."),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r["text"]
           for r in remove_duplicate_spans(df, "doc_id").collect()}
    assert out[1] == docs[0][1]  # verbatim, not normalized
    assert out[2] == ""


def test_span_dedup_overlap_can_bite_kept_occurrence(spark):
    """Documented semantics: a sentence is removed when ANY non-first
    duplicated span covers it, even if another span's FIRST occurrence
    also covers it (sentence-marking C4 behavior)."""
    from jsonschemaparse_spark.functions.dedup import remove_duplicate_spans

    docs = [
        (1, "A a. B b. C c."),
        (2, "Zz z. A a. B b. C c."),  # span (A,B,C) dup; (Zz,A,B) unique
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r["text"]
           for r in remove_duplicate_spans(df, "doc_id").collect()}
    assert out[1] == docs[0][1]
    assert out[2] == "Zz z."


def test_c4_badwords_hook(spark):
    from jsonschemaparse_spark.functions.text import c4_quality_flags

    docs = [
        (1, "Good page one. Fine page two. Clean page three."),
        (2, "Good page one. BADTOKEN in line. Clean page three."),
        (3, "Good page one. a bad phrase appears here. Clean page three."),
        (4, "Good page one. badtokenish compound untouched. Page three."),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in c4_quality_flags(
            df, badwords=["badtoken", "bad phrase"]
        ).collect()
    }
    assert not out[1]["has_bad_word"] and out[1]["c4_keep"]
    # token entries match whole lowercased words
    assert out[2]["has_bad_word"] and not out[2]["c4_keep"]
    # phrase entries match as substrings
    assert out[3]["has_bad_word"] and not out[3]["c4_keep"]
    # compound words do NOT match token entries
    assert not out[4]["has_bad_word"] and out[4]["c4_keep"]
    # no lexicon -> no has_bad_word column, verdict unchanged
    assert "has_bad_word" not in c4_quality_flags(df).columns


@pytest.mark.parametrize("hash_mode", ["fast", "portable"])
def test_fast_minhash_short_docs(spark, hash_mode):
    """minhash_signatures_agg (explode + MIN aggregate) against the
    per-row minhash_signature expression — the reference the declared
    query minhash_signatures uses — including sub-k-word and NULL
    texts, in both hash modes."""
    from jsonschemaparse_spark.functions.dedup import (
        MINHASH_P,
        minhash_near_duplicates,
        minhash_signature,
        minhash_signatures_agg,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "two words"),
         (4, "three whole words here now ok"),
         (5, "three whole words here now ok"), (6, None)],
        "doc_id long, text string",
    )
    a = sorted(tuple(r) for r in
               minhash_signatures_agg(df, "doc_id", hash_mode=hash_mode).collect())
    h = sorted(tuple(r) for r in df.select(
        "doc_id", minhash_signature(F.col("text"), hash_mode=hash_mode)).collect())
    assert len(a) == len(h) == 6
    if hash_mode == "portable":
        # known divergence on NULL text, portable mode only: the agg
        # path's MIN over the doc's one NULL shingle hash gives NULL
        # lanes, while the per-row fold (least() skips NULL) keeps the
        # P sentinel. Pinned as it stands; neither path follows the
        # keying convention (NULL text like '') yet. ROADMAP open item
        # 'MinHash NULL text': the change that fixes it updates this
        # assertion.
        assert a[5] == (6, [None] * 8) and h[5] == (6, [MINHASH_P] * 8)
        a, h = a[:5], h[:5]
    assert a == h
    pairs = minhash_near_duplicates(
        df, "doc_id", threshold=0.8, hash_mode=hash_mode
    ).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(4, 5)]
    # identical short texts still collide (whole-text fallback hash)
    df2 = spark.createDataFrame(
        [(1, "tiny doc"), (2, "tiny doc")], "doc_id long, text string"
    )
    sigs = {r["doc"]: r["_sig"] for r in
            minhash_signatures_agg(df2, "doc_id", hash_mode=hash_mode).collect()}
    assert sigs[1] == sigs[2]


def test_minhash_bucket_cap_and_overflow(spark):
    """Identical-doc clusters co-hash in every band -> c^2/2 pairs; the cap
    skips those buckets in-plan and the overflow view names them."""
    from jsonschemaparse_spark.functions.dedup import (
        minhash_bucket_overflow,
        minhash_near_duplicates,
    )

    rows = [(i, "identical boilerplate page text here") for i in range(30)]
    rows += [(100, "a genuinely unique document about spark plans today"),
             (101, "a genuinely unique document about spark plans today")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = minhash_near_duplicates(df, "doc_id", threshold=0.9).count()
    assert uncapped == 30 * 29 // 2 + 1  # quadratic cluster + the real pair
    capped = minhash_near_duplicates(
        df, "doc_id", threshold=0.9, max_bucket_size=10
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in capped] == [(100, 101)]
    over = minhash_bucket_overflow(df, "doc_id", max_bucket_size=10)
    # the identical cluster appears once per band (4 bands by default)
    assert over.count() == 4
    assert all(r["n_docs"] == 30 for r in over.collect())


def test_minhash_default_cap_bounds_pair_generation(spark):
    """Default max_bucket_size=500: an identical-doc cluster above the cap
    is dropped (named by the overflow view) without an opt-in (review #2:
    uncapped pair arrays are c^2/2 structs in ONE row)."""
    from jsonschemaparse_spark.functions.dedup import (
        minhash_bucket_overflow,
        minhash_near_duplicates,
    )

    rows = [(i, "identical boilerplate page text here") for i in range(510)]
    rows += [(9001, "one unique doc about spark execution plans"),
             (9002, "one unique doc about spark execution plans")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_near_duplicates(df, "doc_id", threshold=0.9).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(9001, 9002)]
    over = minhash_bucket_overflow(df, "doc_id", max_bucket_size=500)
    assert over.count() == 4 and all(r["n_docs"] == 510 for r in over.collect())


def test_dup_ngram_fractions_hand_computed(spark):
    from jsonschemaparse_spark.functions.text import gopher_dup_ngram_fractions

    docs = [
        # "a b c d e" twice: covered word idx 1-5 and 7-11 (10 words,
        # chars 10) of total word chars 12 -> 10/12
        (1, "a b c d e XX a b c d e"),
        (2, "all words completely unique here today my friend ok now then"),
        (3, ""),
        (4, None),
        # a 10-word phrase repeated -> dup_10gram covers everything except
        # the bridge word (20 of 21 words)
        (5, " ".join(["p q r s t u v w x y", "BRIDGE", "p q r s t u v w x y"])),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r["doc_id"]: r for r in gopher_dup_ngram_fractions(df).collect()}
    assert rows[1]["dup_5gram_char_fraction"] == round(10 / 12, 6)
    assert rows[1]["dup_6gram_char_fraction"] == 0.0
    for n in (5, 6, 7, 8, 9, 10):
        assert rows[2][f"dup_{n}gram_char_fraction"] == 0.0
        assert rows[3][f"dup_{n}gram_char_fraction"] == 0.0
        assert rows[4][f"dup_{n}gram_char_fraction"] == 0.0
    # doc 5: total word chars = 20 + 6 = 26; covered for n=10: the two
    # 10-word phrases (20 chars)
    assert rows[5]["dup_10gram_char_fraction"] == round(20 / 26, 6)
    # smaller n: the repeated phrase also duplicates its sub-n-grams
    assert rows[5]["dup_5gram_char_fraction"] == round(20 / 26, 6)


def test_dup_ngram_overlap_counts_once(spark):
    """'x x x x x x' style runs: overlapping duplicated n-grams must not
    overcount — coverage is a set of word indices, fraction <= 1."""
    from jsonschemaparse_spark.functions.text import gopher_dup_ngram_fractions

    df = spark.createDataFrame(
        [(1, " ".join(["x"] * 30))], "doc_id long, text string"
    )
    r = gopher_dup_ngram_fractions(df).collect()[0]
    for n in (5, 6, 7, 8, 9, 10):
        assert r[f"dup_{n}gram_char_fraction"] == 1.0


def test_gopher_quality_full_includes_dup_thresholds(spark):
    from jsonschemaparse_spark.functions.text import gopher_quality_full

    # clean doc: 80 distinct words -> no repetition at all
    clean = " ".join(f"word{i}x" for i in range(80))
    # doc passing the base + top-n-gram gates but failing dup-5-gram:
    # a 40-word unique prefix plus a repeated 5-word phrase
    phrase = "alpha beta gamma delta epsilon"
    tricky = " ".join(f"u{i}y" for i in range(60)) + f" {phrase} " \
        + " ".join(f"v{i}z" for i in range(60)) + f" {phrase}"
    df = spark.createDataFrame(
        [(1, clean), (2, tricky)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in gopher_quality_full(df).collect()}
    assert rows[1]["gopher_keep_full"] == rows[1]["gopher_keep"]
    assert rows[2]["dup_5gram_char_fraction"] > 0



# ---------------- SemDeDup (r6): cluster-then-verify semantic dedup ---------
def test_semantic_pairs_injected_clusters(spark):
    """Within-cluster pairs only: identical vectors in DIFFERENT clusters
    are never candidates (the cluster structure is the candidate
    generator); within-cluster clones verify at cosine 1.0."""
    from jsonschemaparse_spark.functions.similarity import (
        semantic_duplicate_pairs,
    )

    v = [1.0, 0.0, 0.0]
    w = [0.0, 1.0, 0.0]
    rows = [(1, v, 0), (2, v, 0),      # same cluster, identical -> pair
            (3, v, 1),                 # identical but other cluster -> no
            (4, w, 0),                 # same cluster, orthogonal -> no
            (5, w, 1)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, c int")
    pairs = semantic_duplicate_pairs(df, threshold=0.95, cluster_col="c")
    assert [(r.cluster, r.id_a, r.id_b) for r in pairs.collect()] == [(0, 1, 2)]


def test_semantic_cluster_cap_and_overflow(spark):
    from jsonschemaparse_spark.functions.similarity import (
        semantic_cluster_overflow,
        semantic_duplicate_pairs,
    )

    v = [1.0, 0.0]
    rows = [(i, v, 0) for i in range(10)] + [(20, v, 1), (21, v, 1)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, c int")
    pairs = semantic_duplicate_pairs(df, threshold=0.9, cluster_col="c",
                                     max_cluster_size=5)
    assert [(r.id_a, r.id_b) for r in pairs.collect()] == [(20, 21)]
    over = semantic_cluster_overflow(df, 5, "c").collect()
    assert [(r.cluster, r.n_vectors) for r in over] == [(0, 10)]


def test_semantic_dedup_keeps_component_min(spark):
    """Transitive components keep the min id; untouched rows survive."""
    from jsonschemaparse_spark.functions.similarity import semantic_dedup

    v = [1.0, 0.0]
    w = [0.0, 1.0]
    rows = [(1, v, 0), (2, v, 0), (3, v, 0),   # component {1,2,3} -> keep 1
            (4, w, 0), (9, w, 1)]              # no within-cluster partner
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, c int")
    kept = sorted(r.vec_id for r in
                  semantic_dedup(df, threshold=0.9, cluster_col="c").collect())
    assert kept == [1, 4, 9]


def test_semantic_pairs_kmeans_path_finds_clones(spark):
    """The in-call kmeans path: cloned vectors land in the same cell and
    verify; deterministic under the fixed seed."""
    from jsonschemaparse_spark.functions.similarity import (
        semantic_duplicate_pairs,
    )

    emb = spark.read.parquet(f"{SF01_DIR}/embeddings.parquet") \
        .filter(F.col("vec_id") < 60)
    corpus = emb.unionByName(
        emb.withColumn("vec_id", F.col("vec_id") + 1000))
    pairs = semantic_duplicate_pairs(corpus, threshold=0.999, n_clusters=4)
    got = sorted((r.id_a, r.id_b) for r in pairs.collect())
    assert got == [(i, i + 1000) for i in range(60)]


def test_semantic_pairs_rejects_both_cluster_and_index(spark):
    from jsonschemaparse_spark.functions.similarity import (
        semantic_duplicate_pairs,
    )

    df = spark.createDataFrame([(1, [1.0, 0.0], 0)],
                               "vec_id long, embedding array<float>, c int")
    with pytest.raises(ValueError, match="not both"):
        semantic_duplicate_pairs(df, cluster_col="c", index=(df, None))


def test_semantic_null_cluster_rows_bypass(spark):
    """Pinned NULL-cluster convention: unassigned rows are never
    candidates and always survive (cap_per_domain-style bypass)."""
    from jsonschemaparse_spark.functions.similarity import (
        semantic_dedup,
        semantic_duplicate_pairs,
    )

    v = [1.0, 0.0]
    rows = [(1, v, 0), (2, v, 0), (3, v, None), (4, v, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, c int")
    pairs = semantic_duplicate_pairs(df, threshold=0.9, cluster_col="c")
    assert [(r.id_a, r.id_b) for r in pairs.collect()] == [(1, 2)]
    kept = sorted(r.vec_id for r in
                  semantic_dedup(df, threshold=0.9, cluster_col="c").collect())
    assert kept == [1, 3, 4]


# ---------------------------------------------------------------------------
# word_counts / vocabulary (r6)
# ---------------------------------------------------------------------------
def test_word_counts_basic(spark):
    from jsonschemaparse_spark.functions.text import word_counts

    df = spark.createDataFrame(
        [(1, "The cat the CAT  dog"), (2, None), (3, ""), (4, "dog")],
        "id: long, text: string")
    got = {r["token"]: r["n"] for r in word_counts(df).collect()}
    assert got == {"the": 2, "cat": 2, "dog": 2}
    # case-preserving mode + min_count
    got2 = {r["token"]: r["n"]
            for r in word_counts(df, lowercase=False, min_count=2).collect()}
    assert got2 == {"dog": 2}


def test_vocabulary_rank_and_tiebreak(spark):
    from jsonschemaparse_spark.functions.text import vocabulary

    df = spark.createDataFrame(
        [(1, "b b a a c")], "id: long, text: string")
    rows = [(r["rank"], r["token"], r["n"])
            for r in vocabulary(df, size=2).orderBy("rank").collect()]
    # a and b tie at 2 -> token asc breaks the tie; c cut by size
    assert rows == [(0, "a", 2), (1, "b", 2)]


def test_sq8_quantization_roundtrip_and_bounds(spark):
    """SQ8 (r6): codes live in [-128, 127], constant dims code to 0,
    and the dequantization error is bounded by span/255/2 per dim."""
    from jsonschemaparse_spark.functions.similarity import (
        dequantize_embeddings,
        embedding_dim_stats,
        quantize_embeddings,
    )

    rows = [(i, [float(i), -1.0 + i * 0.25, 7.5]) for i in range(9)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    stats = embedding_dim_stats(df)
    mins, maxs = stats
    assert mins == [0.0, -1.0, 7.5] and maxs == [8.0, 1.0, 7.5]

    q = quantize_embeddings(df, stats)
    back = dequantize_embeddings(q, stats, out_col="deq")
    for r in back.collect():
        for d in range(3):
            code = r["qvec"][d]
            assert -128 <= code <= 127
            span = maxs[d] - mins[d]
            if span == 0:
                assert code == 0
                # constant dim dequantizes to min + 128/255*0 = min
                assert r["deq"][d] == mins[d]
            else:
                orig = rows[r["vec_id"]][1][d]
                assert abs(r["deq"][d] - orig) <= span / 255 / 2 + 1e-12
    # extremes hit the code range ends
    codes0 = {r["vec_id"]: r["qvec"][0] for r in q.collect()}
    assert codes0[0] == -128 and codes0[8] == 127


def test_sq8_topk_matches_float_topk_on_separated_corpus(spark):
    """On a corpus with clear cosine separation, brute-force top-k over
    dequantized SQ8 vectors returns the same ids as the float path."""
    import math

    from jsonschemaparse_spark.functions.similarity import (
        brute_force_topk,
        dequantize_embeddings,
        embedding_dim_stats,
        quantize_embeddings,
    )

    def vec(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 1.0]

    rows = [(i, vec(i * 0.35)) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qdf = dequantize_embeddings(
        quantize_embeddings(df, embedding_dim_stats(df)).drop("embedding"),
        embedding_dim_stats(df))
    query = rows[0][1]
    a = [r["vec_id"] for r in brute_force_topk(df, query, k=4).collect()]
    b = [r["vec_id"] for r in brute_force_topk(qdf, query, k=4).collect()]
    assert a == b


def test_quality_report_single_scan_and_counts(spark):
    """quality_report (r6): grouped gate pass rates from ONE fused scan
    (no second FileScan/Generate; one group-keyed Exchange), counts
    reconcile with quality_flags row-by-row."""
    from jsonschemaparse_spark.functions.text import (
        quality_flags,
        quality_report,
    )

    good = ("A perfectly reasonable document sentence with many words. "
            * 10 + "It closes with proper sentences. One more here. Done!")
    rows = [(i, good + f" T{i}.", "en", "web") for i in range(4)]
    rows += [(10, "- bullets\n- only", "en", "web"),
             (11, "function f() { }" + good, "de", "crawl"),
             (12, good + " Tail.", "de", "crawl")]
    df = spark.createDataFrame(rows, "doc_id long, text string, "
                                     "lang string, source string")
    rep = {(r["lang"], r["source"]): r
           for r in quality_report(df).collect()}
    flags = quality_flags(df).collect()
    for key in rep:
        sub = [f for f in flags if (f["lang"], f["source"]) == key]
        assert rep[key]["n_docs"] == len(sub)
        assert rep[key]["n_gopher_keep"] == sum(f["gopher_keep"] for f in sub)
        assert rep[key]["n_c4_keep"] == sum(f["c4_keep"] for f in sub)
        assert rep[key]["n_keep"] == sum(f["quality_keep"] for f in sub)
    assert rep[("en", "web")]["n_gopher_keep"] == 4   # bullets doc gated
    assert rep[("de", "crawl")]["n_c4_keep"] == 1     # curly-brace doc gated

    plan = quality_report(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1                 # one group shuffle
    assert "EvalPython" not in plan


def test_ngram_containment_detects_quote(spark):
    from jsonschemaparse_spark.functions.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    big = " ".join(f"w{i}" for i in range(200))
    frag = " ".join(f"w{i}" for i in range(40, 52))  # 12 words of big
    df = spark.createDataFrame(
        [(1, big), (2, frag), (3, "totally different words here")],
        "doc_id long, text string")
    rows = ngram_containment_pairs(df, "doc_id", threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]
    r = rows[0]
    # all 10 fragment shingles appear in big: b-in-a direction = 1.0
    assert r["containment_b_in_a"] == 1.0
    assert r["containment_a_in_b"] == round(10 / 198, 6)
    # jaccard misses the same pair at any usable threshold
    jac = ngram_jaccard_pairs(df, "doc_id", threshold=0.5)
    assert jac.count() == 0


def test_ngram_containment_respects_posting_cap(spark):
    from jsonschemaparse_spark.functions.dedup import ngram_containment_pairs

    # same 3 shingles in 4 docs -> posting len 4 > cap 3: pairs vanish
    t = "alpha beta gamma delta epsilon"
    df = spark.createDataFrame(
        [(i, t) for i in range(4)], "doc_id long, text string")
    assert ngram_containment_pairs(df, "doc_id", threshold=0.1,
                                   max_posting_len=3).count() == 0
    assert ngram_containment_pairs(df, "doc_id", threshold=0.1).count() == 6


def test_duplicate_paragraph_groups_counts(spark):
    from jsonschemaparse_spark.functions.dedup import duplicate_paragraph_groups

    footer = "subscribe to our newsletter\nall rights reserved"
    df = spark.createDataFrame(
        [(1, f"unique one\n\n{footer}"),
         (2, f"unique two\n\n{footer}\n\n{footer}"),   # twice in one doc
         (3, "unique three"),
         (4, None)],
        "doc_id long, text string")
    rows = duplicate_paragraph_groups(df, "doc_id").collect()
    assert len(rows) == 1
    r = rows[0]
    # multi-line paragraph is ONE unit; per-doc repeat counts docs once
    assert r["paragraph"] == footer
    assert r["n_docs"] == 2 and r["n_occurrences"] == 3


def test_strip_duplicate_paragraphs_order_and_canonical_form(spark):
    from jsonschemaparse_spark.functions.dedup import strip_duplicate_paragraphs

    footer = "footer text"
    df = spark.createDataFrame(
        [(1, f"alpha\n\n{footer}\n\nbeta"),
         (2, f"{footer}\n\ngamma"),
         (3, "solo doc"),
         (4, None),
         (None, f"{footer}\n\nkept-for-null-id")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in
           strip_duplicate_paragraphs(df, "doc_id").collect()}
    assert got[1] == "alpha\n\nbeta"          # order kept, hot block gone
    assert got[2] == "gamma"
    assert got[3] == "solo doc"               # canonical doc untouched
    assert got[4] is None                     # NULL text stays NULL
    assert got[None] == f"{footer}\n\nkept-for-null-id"  # NULL id bypass


def test_strip_duplicate_paragraphs_canonicalizes_separators(spark):
    from jsonschemaparse_spark.functions.dedup import strip_duplicate_paragraphs

    # \n\n\n separators and outer whitespace collapse to canonical form
    df = spark.createDataFrame(
        [(1, "a b\nc d\n\n\n  e f  "), (2, "unrelated here")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in
           strip_duplicate_paragraphs(df, "doc_id").collect()}
    # nothing is hot, but the rebuild canonicalizes: trimmed blocks,
    # single blank-line separators, in-block \n preserved
    assert got[1] == "a b\nc d\n\ne f"
    # all paragraphs hot -> doc collapses to '' (non-null convention)
    df2 = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "same\n\nsame")],
        "doc_id long, text string")
    got2 = {r["doc_id"]: r["text"] for r in
            strip_duplicate_paragraphs(df2, "doc_id").collect()}
    assert got2 == {1: "", 2: "", 3: ""}


def test_keep_rate_drift_hand_computed(spark):
    from pyspark.sql import functions as F
    from jsonschemaparse_spark.functions.integrity import keep_rate_drift

    old = spark.createDataFrame(
        [("en", True)] * 90 + [("en", False)] * 10
        + [("de", True)] * 50 + [("de", False)] * 50,
        "lang string, keep boolean")
    # en collapses 0.9 -> 0.5; de unchanged
    new = spark.createDataFrame(
        [("en", True)] * 50 + [("en", False)] * 50
        + [("de", True)] * 50 + [("de", False)] * 50,
        "lang string, keep boolean")
    rows = {r["lang"]: r for r in
            keep_rate_drift(old, new, "keep", ("lang",)).collect()}
    en = rows["en"]
    assert (en["rate_old"], en["rate_new"], en["delta_rate"]) == (0.9, 0.5, -0.4)
    # chi2 = 200*(90*50-10*50)^2/(100*100*140*60) = 200*4000^2/84e6
    assert en["chi2"] == round(200 * 4000**2 / (100 * 100 * 140 * 60), 6)
    assert en["drifted"] is True
    de = rows["de"]
    assert de["chi2"] == 0.0 and de["drifted"] is False


def test_keep_rate_drift_one_sided_groups_and_null_flags(spark):
    from jsonschemaparse_spark.functions.integrity import keep_rate_drift

    old = spark.createDataFrame(
        [("en", True), ("en", None), ("fr", True)],
        "lang string, keep boolean")
    new = spark.createDataFrame(
        [("en", True), ("zh", False)], "lang string, keep boolean")
    rows = {r["lang"]: r for r in
            keep_rate_drift(old, new, "keep", ("lang",)).collect()}
    # NULL keep counts as not-kept
    assert rows["en"]["keep_old"] == 1 and rows["en"]["n_old"] == 2
    # fr only in old, zh only in new: present with zero opposite side
    assert rows["fr"]["n_new"] == 0 and rows["fr"]["rate_new"] is None
    assert rows["zh"]["n_old"] == 0 and rows["zh"]["chi2"] == 0.0


def test_value_histogram_hand_computed(spark):
    from jsonschemaparse_spark.functions.stats import value_histogram

    df = spark.createDataFrame(
        [(0.0,), (1.0,), (2.5,), (10.0,), (None,), (float("nan"),)],
        "x double")
    rows = value_histogram(df, "x", n_bins=4).orderBy("bucket").collect()
    assert [r["bucket"] for r in rows] == [0, 1, 2, 3]
    assert [(r["lo"], r["hi"]) for r in rows] == [
        (0.0, 2.5), (2.5, 5.0), (5.0, 7.5), (7.5, 10.0)]
    # 0,1 -> bin 0; 2.5 -> bin 1; 10 (the max) clamps into the last bin;
    # NULL and NaN excluded entirely
    assert [r["n"] for r in rows] == [2, 1, 0, 1]
    assert sum(r["n"] for r in rows) == 4


def test_value_histogram_bounds_and_degenerate(spark):
    from jsonschemaparse_spark.functions.stats import value_histogram

    df = spark.createDataFrame([(5.0,), (5.0,)], "x double")
    # constant column: hi widens to lo+1, everything in bin 0
    rows = value_histogram(df, "x", n_bins=2).orderBy("bucket").collect()
    assert [r["n"] for r in rows] == [2, 0]
    # explicit bounds skip the min/max job and CLIP out-of-range rows;
    # 0.5 sits exactly on the bin edge -> upper bin (floor semantics)
    df2 = spark.createDataFrame([(-1.0,), (0.5,), (99.0,)], "x double")
    rows = value_histogram(df2, "x", n_bins=2, bounds=(0.0, 1.0)) \
        .orderBy("bucket").collect()
    assert [r["n"] for r in rows] == [0, 1]
    # all-null column: empty spine, zero counts, no crash
    dfn = spark.createDataFrame([(None,), (None,)], "x double")
    rows = value_histogram(dfn, "x", n_bins=2).collect()
    assert sum(r["n"] for r in rows) == 0


def test_keep_rate_drift_null_group_lines_up(spark):
    """r6 second review #2: a NULL group key present in BOTH versions
    must join into ONE row (eqNullSafe), not two half-rows that can
    never flag drift."""
    from jsonschemaparse_spark.functions.integrity import keep_rate_drift

    old = spark.createDataFrame(
        [(None, True)] * 90 + [(None, False)] * 10,
        "lang string, keep boolean")
    new = spark.createDataFrame(
        [(None, True)] * 50 + [(None, False)] * 50,
        "lang string, keep boolean")
    rows = keep_rate_drift(old, new, "keep", ("lang",)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["lang"] is None and r["n_old"] == 100 and r["n_new"] == 100
    assert r["drifted"] is True


def test_script_fractions_hand_computed(spark):
    from jsonschemaparse_spark.functions.text import script_fractions

    df = spark.createDataFrame(
        [(0, "abc где 12"),        # 3 latin, 3 cyrillic, 2 digit / 8
         (1, "日本語 test"),        # 3 cjk, 4 latin / 7
         (2, None), (3, "   ")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in script_fractions(df).collect()}
    r0 = rows[0]
    assert r0["latin_frac"] == round(3 / 8, 6)
    assert r0["cyrillic_frac"] == round(3 / 8, 6)
    assert r0["digit_frac"] == round(2 / 8, 6)
    r1 = rows[1]
    assert r1["cjk_frac"] == round(3 / 7, 6)
    assert r1["latin_frac"] == round(4 / 7, 6)
    # NULL/blank docs: all fractions 0.0 (no chars to judge)
    for i in (2, 3):
        assert rows[i]["latin_frac"] == 0.0 and rows[i]["cjk_frac"] == 0.0


def test_script_fractions_accented_latin_counts_as_latin(spark):
    from jsonschemaparse_spark.functions.text import script_fractions

    row = script_fractions(spark.createDataFrame(
        [(0, "café naïve")], "doc_id long, text string")).first()
    assert row["latin_frac"] == 1.0
