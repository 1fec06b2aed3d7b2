"""Exact substring dedup (functions/dedup.py, Lee et al. 2022
ExactSubstr): keep-first window removal, coverage merging, NULL/empty
conventions, untouched-doc byte-identity, fast-hash equivalence, and
the no-Python plan shape."""

import pytest
from pyspark.sql import functions as F

from jsonschemaparse_spark.functions.dedup import (
    duplicate_substring_spans,
    remove_duplicate_substrings,
)

DUP6 = "alpha beta gamma delta epsilon zeta"  # a 6-token window


def _collect(df, col="text"):
    return {r["doc_id"]: r[col] for r in df.collect()}


def test_keep_first_and_conventions(spark):
    rows = [
        (1, "intro one two " + DUP6 + " tail one"),         # first (pos 3)
        (2, "other start " + DUP6 + " closing words here"),  # victim
        (3, DUP6),                                           # victim, all
        (4, "no duplicated content in this document at all"),
        (5, None),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = _collect(remove_duplicate_substrings(df, "doc_id", min_tokens=6))
    assert got[1] == rows[0][1]                  # first occurrence kept
    assert got[2] == "other start closing words here"
    assert got[3] == ""                          # fully-victim doc -> ''
    assert got[4] == rows[3][1]                  # untouched
    assert got[5] is None                        # NULL stays NULL
    assert got[6] == ""


def test_within_doc_repeat_is_a_victim(spark):
    df = spark.createDataFrame(
        [(1, DUP6 + " middle words then " + DUP6)],
        "doc_id long, text string")
    got = _collect(remove_duplicate_substrings(df, "doc_id", min_tokens=6))
    assert got[1] == DUP6 + " middle words then"


def test_region_longer_than_k_fully_covered(spark):
    region = DUP6 + " eta theta"                 # 8 tokens, k=6
    df = spark.createDataFrame(
        [(1, "first has " + region + " here"),
         (2, "second copy " + region + " too")],
        "doc_id long, text string")
    got = _collect(remove_duplicate_substrings(df, "doc_id", min_tokens=6))
    assert got[1] == "first has " + region + " here"
    assert got[2] == "second copy too"           # whole 8-token region gone
    spans = {(r["doc_id"], r["start_tok"], r["end_tok"])
             for r in duplicate_substring_spans(
                 df, "doc_id", min_tokens=6).collect()}
    assert spans == {(2, 2, 10)}                 # ONE merged interval


def test_disjoint_regions_give_two_intervals(spark):
    other = "one two three four five six"
    df = spark.createDataFrame(
        [(1, DUP6), (2, other),
         (3, DUP6 + " spacer words in between again " + other)],
        "doc_id long, text string")
    spans = {(r["doc_id"], r["start_tok"], r["end_tok"])
             for r in duplicate_substring_spans(
                 df, "doc_id", min_tokens=6).collect()}
    assert spans == {(3, 0, 6), (3, 11, 17)}


def test_untouched_doc_byte_identity_weird_whitespace(spark):
    weird = "tab\tseparated\n\nand   runs of    spaces"
    df = spark.createDataFrame(
        [(1, weird), (2, DUP6), (3, "prefix " + DUP6)],
        "doc_id long, text string")
    got = _collect(remove_duplicate_substrings(df, "doc_id", min_tokens=6))
    assert got[1] == weird                       # byte-identical pass-through


def test_fast_hash_mode_matches_md5(spark):
    rows = [(i, f"doc {i} padding " + (DUP6 if i % 2 else "unique tail x"))
            for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = _collect(remove_duplicate_substrings(df, "doc_id", min_tokens=6))
    b = _collect(remove_duplicate_substrings(df, "doc_id", min_tokens=6,
                                             hash_mode="fast"))
    assert a == b


def test_bad_hash_mode_raises(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        remove_duplicate_substrings(df, "doc_id", hash_mode="sha").collect()


def test_short_docs_never_marked(spark):
    # identical docs SHORTER than k have no windows — exact dedup's job,
    # not this operator's
    df = spark.createDataFrame(
        [(1, "same short doc"), (2, "same short doc")],
        "doc_id long, text string")
    got = _collect(remove_duplicate_substrings(df, "doc_id", min_tokens=6))
    assert got == {1: "same short doc", 2: "same short doc"}


def test_no_python_in_plan(spark):
    df = spark.createDataFrame([(1, DUP6)], "doc_id long, text string")
    plan = remove_duplicate_substrings(df, "doc_id", min_tokens=6) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_output_col_keeps_original(spark):
    df = spark.createDataFrame(
        [(1, DUP6), (2, "pad " + DUP6)], "doc_id long, text string")
    out = remove_duplicate_substrings(df, "doc_id", min_tokens=6,
                                      out_col="text_dedup")
    rows = {r["doc_id"]: (r["text"], r["text_dedup"]) for r in out.collect()}
    assert rows[2] == ("pad " + DUP6, "pad")
    assert rows[1] == (DUP6, DUP6)


def test_plan_window_scan_runs_exactly_once(spark):
    # The expensive subtree (per-doc window generation) must execute
    # exactly ONCE: the window stream is hash-repartitioned on the
    # window hash and BOTH consumers (the duplicated-hash agg and the
    # occurrence join-back) read that one exchange via ReuseExchange /
    # AQE stage reuse (r7; the r5 cut evaluated it 4x, the r6 shape
    # 2x). Asserted on the EXECUTED adaptive plan: one generator
    # subtree, one reused exchange.
    # needs a REAL duplicated window: with zero duplicates AQE's
    # empty-relation propagation removes the covered subtree entirely
    # (also fine — but then there is no exchange to reuse)
    df = spark.createDataFrame(
        [(1, DUP6), (2, "pad " + DUP6)], "doc_id long, text string")
    q = remove_duplicate_substrings(df, "doc_id", min_tokens=6) \
        .select(F.sum(F.length("text")))
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final, final
    # and no SECOND live window-generator subtree may appear; when the
    # plan string is whole, exactly one must (a cut at
    # spark.sql.maxPlanStringLength can hide the subtree entirely, so
    # only then may zero be visible)
    wingen = sum(1 for line in final.splitlines()
                 if "posexplode(element_at(transform" in line)
    assert wingen <= 1, final
    truncated = "more characters" in plan or "Truncated plan of" in plan
    if not truncated:
        assert wingen >= 1, final
