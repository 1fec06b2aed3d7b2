"""Positional inverted index + search (functions/index.py)."""

import pytest
from pyspark.sql import functions as F

from jsonschemaparse_spark.functions.index import (
    build_inverted_index,
    search_all,
    search_phrase,
    search_term,
)


def _corpus(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


@pytest.fixture(scope="module")
def idx(spark):
    return build_inverted_index(_corpus(spark, [
        "the cat sat on the mat",          # 0
        "the dog sat",                      # 1
        "cat cat cat",                      # 2
        "a mat on the floor the cat sat on the mat today",  # 3
        None,                               # 4
        "",                                 # 5
    ]))


def test_postings_positions_sorted_and_exact(idx):
    row = idx.postings.filter(
        (F.col("token") == "the") & (F.col("doc") == 0)).first()
    assert list(row["positions"]) == [0, 4] and row["n"] == 2
    row = idx.postings.filter(
        (F.col("token") == "cat") & (F.col("doc") == 2)).first()
    assert list(row["positions"]) == [0, 1, 2]


def test_null_empty_docs_emit_no_postings(idx):
    assert idx.postings.filter(F.col("doc").isin(4, 5)).count() == 0


def test_search_term_and_boolean_and(idx):
    assert {r["doc"] for r in search_term(idx, "cat").collect()} == {0, 2, 3}
    assert {r["doc"] for r in search_all(idx, ["cat", "mat"]).collect()} == {0, 3}
    # case-normalized like the tokenize side
    assert {r["doc"] for r in search_term(idx, "CAT").collect()} == {0, 2, 3}


def test_search_phrase_exact(idx):
    rows = {r["doc"]: r for r in
            search_phrase(idx, "the cat sat").collect()}
    # doc 3 tokens: a(0) mat(1) on(2) the(3) floor(4) the(5) cat(6)
    # sat(7) on(8) the(9) mat(10) today(11) -> phrase starts at 5
    assert set(rows) == {0, 3}
    assert rows[0]["n_matches"] == 1 and rows[0]["first_pos"] == 0
    assert rows[3]["n_matches"] == 1 and rows[3]["first_pos"] == 5
    rows = {r["doc"]: r for r in search_phrase(idx, "cat sat").collect()}
    assert set(rows) == {0, 3}
    assert rows[3]["first_pos"] == 6


def test_search_phrase_repeated_term(idx):
    rows = {r["doc"]: r for r in search_phrase(idx, "cat cat").collect()}
    assert set(rows) == {2}
    assert rows[2]["n_matches"] == 2  # positions 0 and 1


def test_phrase_multi_occurrence_counts(idx):
    rows = {r["doc"]: r for r in
            search_phrase(idx, "on the mat").collect()}
    # doc 3: 'on the floor' at 2 does NOT match; 'on the mat' at 8 does
    assert rows[3]["n_matches"] == 1 and rows[3]["first_pos"] == 8
    assert rows[0]["n_matches"] == 1 and rows[0]["first_pos"] == 3


def test_max_postings_overflow_named_not_silent(spark):
    idx = build_inverted_index(_corpus(spark, [
        "stop a", "stop b", "stop c", "rare stop"]), max_postings=3)
    assert idx.postings.filter(F.col("token") == "stop").count() == 0
    over = idx.overflow.collect()
    assert [(r["token"], r["n_docs"]) for r in over] == [("stop", 4)]
    # non-hot terms still indexed
    assert search_term(idx, "rare").count() == 1


def test_index_parallelism_independent(spark, documents):
    a = build_inverted_index(documents)
    b = build_inverted_index(documents.repartition(13))
    assert a.postings.exceptAll(b.postings).count() == 0
    assert b.postings.exceptAll(a.postings).count() == 0


def test_search_inputs_validated(idx):
    with pytest.raises(ValueError):
        search_all(idx, [])
    with pytest.raises(ValueError):
        search_phrase(idx, "   ")


def test_search_rejects_overflow_terms_loudly(spark):
    idx = build_inverted_index(_corpus(spark, [
        "stop a", "stop b", "stop c", "rare stop"]), max_postings=3)
    with pytest.raises(ValueError, match="stop"):
        search_term(idx, "stop")
    with pytest.raises(ValueError, match="max_postings"):
        search_phrase(idx, "rare stop")
    with pytest.raises(ValueError, match="stop"):
        search_all(idx, ["rare", "STOP"])
    # hot-term set cached once on the index object
    assert isinstance(idx._hot_terms, frozenset)


def test_search_phrase_rarest_anchor_same_result(idx):
    first = {(r["doc"], r["n_matches"], r["first_pos"])
             for r in search_phrase(idx, "on the mat").collect()}
    rare = {(r["doc"], r["n_matches"], r["first_pos"])
            for r in search_phrase(idx, "on the mat",
                                   anchor="rarest").collect()}
    assert first == rare and len(first) == 2


def test_search_phrase_rarest_missing_term_empty(idx):
    out = search_phrase(idx, "cat zzznope", anchor="rarest")
    assert out.count() == 0
    with pytest.raises(ValueError):
        search_phrase(idx, "cat sat", anchor="bogus")


def test_materialize_index_bucket_pruned_lookup(spark):
    from jsonschemaparse_spark.functions.index import materialize_index

    base = build_inverted_index(_corpus(spark, [
        "the cat sat", "dog ran far", "cat naps"]), max_postings=1)
    mat = materialize_index(base, "jsp_test_posting_idx", n_buckets=8)
    # 'cat' (2 docs > cap 1) is overflow; other terms still served
    assert {r["doc"] for r in search_term(mat, "sat").collect()} == {0}
    # overflow survives materialization NON-vacuously and still rejects
    # loudly through the materialized tables (r6 second review #5)
    assert {r["token"] for r in mat.overflow.collect()} == {"cat"}
    with pytest.raises(ValueError, match="cat"):
        search_term(mat, "cat")
    # bucket pruning PITFALL: with autoBucketedScan (default on) the
    # planner un-buckets a pure filter scan and reads every bucket...
    conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    plan = (search_term(mat, "sat")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Bucketed: false (disabled by query planner)" in plan
    old = spark.conf.get(conf)
    try:
        # ...with it off, the term lookup reads ONE bucket of 8
        spark.conf.set(conf, "false")
        plan = (search_term(mat, "sat")
                ._jdf.queryExecution().executedPlan().toString())
        assert "SelectedBucketsCount: 1 out of 8" in plan
    finally:
        spark.conf.set(conf, old)
    # re-materializing over the same name is idempotent — INCLUDING the
    # self-refresh case where the index already reads from the target
    # (stage-then-swap; the drop-first shape destroyed its own source,
    # r6 second review #1)
    mat2 = materialize_index(base, "jsp_test_posting_idx", n_buckets=8)
    assert search_term(mat2, "sat").count() == 1
    mat3 = materialize_index(mat2, "jsp_test_posting_idx", n_buckets=4)
    assert search_term(mat3, "naps").count() == 1
    assert {r["token"] for r in mat3.overflow.collect()} == {"cat"}
    spark.sql("DROP TABLE IF EXISTS jsp_test_posting_idx")
    spark.sql("DROP TABLE IF EXISTS jsp_test_posting_idx_overflow")


def test_materialize_index_killed_at_stage_in_recovers_on_rerun(spark,
                                                                 monkeypatch):
    """A refresh killed at the stage-in rename leaves the live postings
    only under `__jsp_old`; the rerun of the same refresh renames them
    back before its stage write reads them, and returns every row."""
    from pyspark.sql import SparkSession

    from conftest import Killed
    from jsonschemaparse_spark.functions.index import materialize_index

    name = "jsp_test_killed_idx"
    mat = materialize_index(build_inverted_index(_corpus(spark, [
        "the cat sat", "dog ran far", "cat naps"])), name, n_buckets=4)
    want = sorted(mat.postings.collect())
    real_sql = SparkSession.sql

    def sql(self, query, *a, **kw):
        if query == f"ALTER TABLE {name}__jsp_stage RENAME TO {name}":
            raise Killed()
        return real_sql(self, query, *a, **kw)

    monkeypatch.setattr(SparkSession, "sql", sql)
    with pytest.raises(Killed):
        materialize_index(mat, name, n_buckets=4)  # reads the live table
    monkeypatch.undo()
    assert not spark.catalog.tableExists(name)

    again = materialize_index(mat, name, n_buckets=4)
    assert sorted(again.postings.collect()) == want
    assert [t.name for t in spark.catalog.listTables() if "__jsp" in t.name] == []
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(f"DROP TABLE IF EXISTS {name}_overflow")
