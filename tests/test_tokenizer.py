"""BPE tokenizer trainer/encoder (functions/tokenizer.py).

Hand-computed merge pins (the Sennrich 2016 worked example shape),
corpus-wide round-trip, parallelism-independence (the golden-snapshot
soundness argument), cap/no-silent-caps accounting, NULL convention,
and the zero-shuffle plan pin for the encode map."""

import pytest
from pyspark.sql import functions as F

from jsonschemaparse_spark.functions.tokenizer import (
    BpeModel,
    EOW,
    bpe_decode_col,
    bpe_encode,
    train_bpe,
)
from jsonschemaparse_spark.functions.dedup import normalized_text


def _corpus(spark, words):
    """One doc per whitespace-joined word list."""
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(words)], "doc_id long, text string")


def test_hand_computed_merges(spark):
    # word counts: low x5, lower x2, newest x6, widest x3
    df = _corpus(spark, [" ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)])
    m = train_bpe(df, n_merges=4, min_count=1)
    # pair counts round 1: (e,s) 9, (s,t</w>) 9, (w,e) 8(newest6+lower2),
    # (l,o) 7, (o,w</w>) 5 ... tie (e,s) vs (s,t</w>) -> ('e','s') first
    assert m.merges[0] == ("e", "s")
    # round 2: ('es','t</w>') now 9, the rest unchanged -> merged next
    assert m.merges[1] == ("es", "t</w>")
    # round 3: (l,o) 7 beats (w,est</w>) 6 and (n,e)/(e,w) 6
    assert m.merges[2] == ("l", "o")
    # round 4: three-way tie at 6 — (e,w), (n,e), (w,est</w>) —
    # lexicographic tie-break picks ('e','w')
    assert m.merges[3] == ("e", "w")


def test_tiebreak_lexicographic(spark):
    # 'ab' and 'cd' both occur 3 times; ('a','b</w>') < ('c','d</w>')
    df = _corpus(spark, ["ab ab ab cd cd cd"])
    m = train_bpe(df, n_merges=1, min_count=1)
    assert m.merges == [("a", "b" + EOW)]


def test_early_stop_no_repeated_pair(spark):
    df = _corpus(spark, ["abc def"])  # every pair is a hapax
    m = train_bpe(df, n_merges=10, min_count=1)
    assert m.merges == []


def test_roundtrip_full_corpus(spark, documents):
    m = train_bpe(documents, n_merges=60, min_count=2)
    enc = bpe_encode(documents, m)
    bad = enc.filter(
        F.coalesce(bpe_decode_col(F.col("bpe_tokens")), F.lit(""))
        != F.coalesce(normalized_text(F.col("text")), F.lit(""))
    ).count()
    assert bad == 0


def test_parallelism_independent_training(spark, documents):
    m1 = train_bpe(documents, n_merges=50, min_count=2)
    m2 = train_bpe(documents.repartition(13), n_merges=50, min_count=2)
    assert m1.merges == m2.merges


def test_max_words_cap_reported(spark):
    df = _corpus(spark, ["aa bb cc dd aa bb aa"])
    m = train_bpe(df, n_merges=2, min_count=1, max_words=2)
    # 4 types, cap 2 -> 2 dropped; cut keeps aa(3), bb(2)
    assert m.n_dropped_words == 2
    assert m.merges[0] == ("a", "a" + EOW)


def test_min_count_excludes_hapax_words(spark):
    df = _corpus(spark, ["zz zz qq"])
    m = train_bpe(df, n_merges=5, min_count=2)
    # qq (count 1) excluded; only zz trains -> single merge (z, z</w>)
    assert m.merges == [("z", "z" + EOW)]


def test_encode_trained_word_single_token(spark):
    df = _corpus(spark, ["hello hello hello hello"])
    m = train_bpe(df, n_merges=10, min_count=1)
    enc = bpe_encode(_corpus(spark, ["hello"]), m)
    toks = enc.first()["bpe_tokens"]
    assert toks == ["hello" + EOW]


def test_encode_null_and_empty_text(spark):
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "  ")], "doc_id long, text string")
    m = BpeModel(merges=[("a", "b")])
    rows = bpe_encode(df, m).orderBy("doc_id").collect()
    assert [r["bpe_tokens"] for r in rows] == [[], [], []]


def test_encode_unseen_chars_fall_back_to_chars(spark):
    m = BpeModel(merges=[("a", "b")])
    enc = bpe_encode(_corpus(spark, ["xyz AB"]), m)
    toks = enc.first()["bpe_tokens"]
    # lowercased split: 'xyz' -> chars; 'ab' splits to ('a','b</w>') so
    # the ('a','b') rule — which only matches word-INTERNAL 'ab' — does
    # not fire (the end-of-word marker is part of the symbol, exactly as
    # in training)
    assert toks == ["x", "y", "z" + EOW, "a", "b" + EOW]


def test_merges_df_round_trip(spark, documents):
    m = train_bpe(documents, n_merges=20, min_count=2)
    back = BpeModel.from_merges_df(m.merges_df(spark))
    assert back.merges == m.merges


def test_encode_plan_zero_shuffle_one_arrow(spark, documents):
    # r7: encode spreads FEW-split inputs first (ensure_parallelism);
    # the zero-shuffle pin holds on a well-split input, asserted via an
    # eager localCheckpoint that truncates the test's own spreading
    # repartition out of the plan
    wide = documents.repartition(
        spark.sparkContext.defaultParallelism).localCheckpoint()
    enc = bpe_encode(wide, train_bpe(documents, n_merges=5,
                                     min_count=2))
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_encode_tokenizes_jvm_side_nbsp(spark):
    # NBSP is NOT Java-\s whitespace: the engine's norm_tokens keeps
    # 'foo bar' as ONE word, and encode must see exactly that
    # (Python str.split() would split it — the r6 review divergence)
    df = spark.createDataFrame([(0, "foo bar")],
                               "doc_id long, text string")
    m = BpeModel(merges=[])
    toks = bpe_encode(df, m).first()["bpe_tokens"]
    joined = "".join(toks)
    assert joined == "foo bar" + EOW
    # and the decode round-trip holds on the same row
    row = bpe_encode(df, m).select(
        bpe_decode_col(F.col("bpe_tokens")).alias("d")).first()
    assert row["d"] == "foo bar"


def test_decode_marker_collision_documented(spark):
    # the documented Sennrich-marker caveat: encoding stays sound for
    # text containing the literal '</w>', only bpe_decode_col mis-splits
    df = spark.createDataFrame([(0, "a</w>b")], "doc_id long, text string")
    m = BpeModel(merges=[])
    enc = bpe_encode(df, m)
    toks = enc.first()["bpe_tokens"]
    assert "".join(toks) == "a</w>b" + EOW  # encoding exact
    d = enc.select(bpe_decode_col(F.col("bpe_tokens")).alias("d")).first()["d"]
    assert d == "a b"  # decode splits on the embedded marker — pinned


def test_encode_broadcast_reused_across_calls(spark, documents):
    m = train_bpe(documents.limit(50), n_merges=5, min_count=1)
    bpe_encode(documents.limit(5), m).collect()
    bc1 = m._bc_cache
    bpe_encode(documents.limit(5), m).collect()
    assert m._bc_cache is bc1  # same (appId, broadcast) tuple object
