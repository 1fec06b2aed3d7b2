"""Positional inverted index + boolean/phrase search (the corpus audit
path: "which documents contain this exact phrase" — contamination
checks, takedown sweeps, duplicate-context debugging — without a full
text rescan per question).

The reference (awwright/jsonschemaparse, a single-document JSON
validator) has no counterpart; this sits in the repo's
LLM-training-data tier next to decontaminate (which answers the same
question for a FIXED benchmark set at clean time; the index answers it
for ad-hoc queries after the fact).

Layout: one posting row per (token, doc, positions:array<int>) — the
classic positional index, but as a plain DataFrame meant to be WRITTEN
PARTITIONED/BUCKETED BY token so a term lookup is a partition-pruned
scan, not a corpus scan (the ivf_index materialization convention:
an unmaterialized index re-runs the tokenize per query — the r5
IVF lesson, measured there at 43 s/probe).

Scale shape (the 100-TB argument):
- build is ONE tokenize pass: explode with position (posexplode
  semantics via the generator — the token array is bound ONCE inside
  the generator, the r5 CollapseProject/Generate pitfall), then a
  (token, doc) map-side-combined collect_list of positions. Shuffle
  keys carry the doc id at no point — they are (token, doc) pairs, so
  volume is corpus-token-bounded but each reducer key is one doc's
  occurrences of one token (no hot single key).
- stop-word-class tokens explode posting COUNT, not key size; a
  max_postings cap drops them into a named overflow view (the engine's
  no-silent-caps contract — the minhash/ngram convention) because a
  term that appears in half the corpus is useless as a lookup key
  anyway.
- phrase search touches ONLY the postings of the phrase's terms
  (partition-pruned when materialized): an anchor term seeds the
  candidate starts (anchor='rarest' picks the lowest-df term at the
  cost of one small df probe — the production choice on a
  materialized index), each other term joins on (doc) with a
  positions intersect at offset -i — an array_intersect on two small
  per-doc arrays, zero Python. Document hydration is a final
  semi-join back to the corpus by doc id.

NULL convention: keyed op — NULL/empty text emits no postings."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..idioms import bind_once, ensure_parallelism
from .dedup import norm_tokens as _tokens


@dataclass
class InvertedIndex:
    """`postings` (token, doc, positions array<int>, n int) and
    `overflow` (token, n_docs) — terms whose document frequency
    exceeded max_postings, excluded from postings but NOT silent."""

    postings: DataFrame
    overflow: DataFrame


def build_inverted_index(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    *, max_postings: int | None = None,
) -> InvertedIndex:
    """One tokenize pass -> (token, doc, positions). Positions are
    0-based token offsets in the normalized token stream, sorted
    ascending (collect_list order is non-deterministic across tasks;
    array_sort pins it so the index is parallelism-independent).

    max_postings: terms appearing in more than this many documents go
    to `overflow` instead (stop-word postings dominate index size at
    corpus scale; a production run sets this and keeps the overflow
    view next to the index). Write `postings` partitioned/bucketed by
    token — lookups are then partition-pruned scans.

    r7: few-split inputs are spread first (the tokenize generator is
    interpreted; a 2-split input serialized the build onto 2 cores —
    measured 6.5 s -> 1.8 s at sf1.0; pass-through on multi-split
    corpora)."""
    df = ensure_parallelism(df.select(id_col, text_col))
    pos_tok = bind_once(_tokens(F.col(text_col)), lambda w: F.when(
        F.size(w) > 0,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - 1),
            lambda i: F.struct(
                i.cast("int").alias("pos"),
                F.element_at(w, i + 1).alias("token")),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,token:string>>")))
    exploded = (
        df.select(F.col(id_col).alias("doc"), F.explode(pos_tok).alias("pt"))
        .select("doc", F.col("pt.pos").alias("pos"),
                F.col("pt.token").alias("token"))
    )
    postings = (
        exploded.groupBy("token", "doc")
        .agg(F.array_sort(F.collect_list("pos")).alias("positions"))
        .withColumn("n", F.size("positions"))
    )
    if max_postings is None:
        empty = postings.sparkSession.createDataFrame(
            [], "token string, n_docs long")
        return InvertedIndex(postings=postings, overflow=empty)
    docfreq = postings.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_docs"))
    hot = docfreq.filter(F.col("n_docs") > max_postings)
    kept = postings.join(F.broadcast(hot.select("token")), "token",
                         "left_anti")
    return InvertedIndex(postings=kept, overflow=hot)


def materialize_index(index: InvertedIndex, table: str, *,
                      n_buckets: int = 64) -> InvertedIndex:
    """Write the postings as a token-bucketed (and bucket-sorted)
    managed table plus `<table>_overflow`, and return an InvertedIndex
    reading from them — the production shape: a term lookup then scans
    1 of n_buckets file groups instead of re-tokenizing the corpus per
    query (the r5 unmaterialized-IVF lesson, re-measured for this
    index in SCALING.md round-6: ~17-28 s/phrase at 5M docs
    unmaterialized).

    PITFALL (pinned in tests/test_index.py): bucket PRUNING on a pure
    filter-lookup requires
    `spark.sql.sources.bucketing.autoBucketedScan.enabled=false` —
    otherwise the DisableUnnecessaryBucketedScan rule sees no
    join/aggregate needing the distribution, reads the table as
    un-bucketed ("Bucketed: false (disabled by query planner)"), and
    the lookup scans every bucket. With the conf off, the plan shows
    `SelectedBucketsCount: 1 out of N`. Set it in the session that
    serves searches; leave it default for build/join workloads.

    Sizing: n_buckets ~ postings_bytes / 256 MB at the target scale
    (plans/bucketing.py guidance).

    Reserved names: the swap stages into `<table>__jsp_stage` and
    `<table>_overflow__jsp_stage` and renames the live tables aside to
    `<table>__jsp_old` / `<table>_overflow__jsp_old`. An existing stage
    table is dropped, data included; an existing `__jsp_old` table is
    renamed back when its live table is missing (a killed swap) and
    dropped otherwise. The swap is single-writer: the tableExists ->
    RENAME sequence is not atomic, so two callers materializing the
    same `table` at once can interleave and lose one write."""
    from ..plans.bucketing import drop_table_and_location, write_bucketed

    spark = index.postings.sparkSession
    overflow_table = f"{table}_overflow"
    old_p, old_o = f"{table}__jsp_old", f"{overflow_table}__jsp_old"
    # settle a swap a killed call left behind (restore_swap's rule) BEFORE
    # the stage write, which may read the live table's files
    for live, old in ((table, old_p), (overflow_table, old_o)):
        if spark.catalog.tableExists(old) and not spark.catalog.tableExists(live):
            spark.sql(f"ALTER TABLE {old} RENAME TO {live}")
        else:
            drop_table_and_location(spark, old)
    # STAGE-THEN-SWAP: the index being re-materialized may already READ
    # from the target table (the refresh/rebucket call); dropping the
    # target first would rmtree the very files the write scans (r6
    # second review #1 — confirmed FILE_NOT_EXIST + data loss). Write
    # to a temp table, then swap via catalog rename (metadata + managed
    # location move, no data rewrite).
    tmp_p, tmp_o = f"{table}__jsp_stage", f"{overflow_table}__jsp_stage"
    write_bucketed(index.postings, tmp_p, "token", n_buckets)
    drop_table_and_location(spark, tmp_o)
    index.overflow.write.mode("overwrite").saveAsTable(tmp_o)
    # Crash-safe swap (ADVICE r6): rename the LIVE tables aside first,
    # rename the stage in, THEN drop the old copies — every crash window
    # leaves a recoverable published table (stage, __jsp_old, or live),
    # matching maintenance.compact_parquet's 'original or both, never
    # neither' guarantee. The old drop-then-rename order had a window
    # with no published table at all.
    if spark.catalog.tableExists(table):
        spark.sql(f"ALTER TABLE {table} RENAME TO {old_p}")
    if spark.catalog.tableExists(overflow_table):
        spark.sql(f"ALTER TABLE {overflow_table} RENAME TO {old_o}")
    spark.sql(f"ALTER TABLE {tmp_p} RENAME TO {table}")
    spark.sql(f"ALTER TABLE {tmp_o} RENAME TO {overflow_table}")
    drop_table_and_location(spark, old_p)
    drop_table_and_location(spark, old_o)
    return InvertedIndex(postings=spark.table(table),
                         overflow=spark.table(overflow_table))


def _reject_overflow_terms(index: InvertedIndex, terms: "list[str]") -> None:
    """A term evicted by max_postings has NO postings — searching it
    would return empty and read as 'phrase absent' (a silent false
    negative, the exact failure the no-silent-caps rule exists to
    prevent; r6 review). The hot-term set is collected ONCE per index
    and cached (it is small by construction — bounded by
    corpus_tokens / max_postings); on an unmaterialized index that
    first collection costs the tokenize pass, on the materialized
    production shape it is a read of the published overflow table."""
    cached = getattr(index, "_hot_terms", None)
    if cached is None:
        cached = frozenset(
            r["token"] for r in index.overflow.select("token").collect())
        index._hot_terms = cached
    hot = [t for t in terms if t in cached]
    if hot:
        raise ValueError(
            f"term(s) {sorted(hot)} were dropped from the index by "
            "max_postings (see InvertedIndex.overflow); a search "
            "containing them cannot be answered from postings")


def search_term(index: InvertedIndex, term: str) -> DataFrame:
    """(doc, positions, n) for one term — a partition-pruned filter on
    the materialized postings. Raises if the term was capped into the
    overflow view."""
    t = term.lower()
    _reject_overflow_terms(index, [t])
    return (
        index.postings.filter(F.col("token") == F.lit(t))
        .select("doc", "positions", "n")
    )


def search_all(index: InvertedIndex, terms: "list[str]") -> DataFrame:
    """Boolean AND over terms: docs containing every term. Successive
    (doc)-keyed semi-joins over per-term postings — each input is one
    term's posting list, never the corpus."""
    if not terms:
        raise ValueError("search_all needs at least one term")
    lowered = [t.lower() for t in terms]
    _reject_overflow_terms(index, lowered)
    out = index.postings.filter(
        F.col("token") == F.lit(lowered[0])).select("doc")
    for t in lowered[1:]:
        out = out.join(
            index.postings.filter(F.col("token") == F.lit(t))
            .select("doc"),
            "doc", "left_semi")
    return out


def search_phrase(index: InvertedIndex, phrase: str,
                  *, anchor: str = "first") -> DataFrame:
    """Exact phrase match over normalized tokens: (doc, n_matches,
    first_pos). For each term i the candidate phrase-start set is its
    positions shifted by -i; the anchor term seeds the set and every
    other term intersects it (array ops on per-doc lists, pure
    codegen) — the classic positional merge.

    anchor: 'first' (default) seeds with the phrase's first term — no
    extra job. 'rarest' runs one small aggregate over the phrase
    terms' postings and seeds with the lowest-df term, so a phrase
    like 'the zyzzyx protocol' joins from the handful of zyzzyx docs
    instead of dragging every 'the' posting through the first join —
    the production choice on a MATERIALIZED index, where that df probe
    is a partition-pruned lookup (on an unmaterialized index it costs
    an extra tokenize pass; hence not the default)."""
    terms = [t for t in
             (phrase or "").lower().strip().split() if t != ""]
    if not terms:
        raise ValueError("search_phrase needs a non-empty phrase")
    _reject_overflow_terms(index, terms)
    order = list(range(len(terms)))
    if anchor == "rarest":
        dfs = {r["token"]: r["n_docs"] for r in
               index.postings.filter(F.col("token").isin(terms))
               .groupBy("token")
               .agg(F.count(F.lit(1)).alias("n_docs")).collect()}
        # a term with no postings at all -> phrase cannot match
        if any(t not in dfs for t in terms):
            spark = index.postings.sparkSession
            return spark.createDataFrame(
                [], "doc long, n_matches int, first_pos int")
        order.sort(key=lambda i: (dfs[terms[i]], i))
    elif anchor != "first":
        raise ValueError("anchor must be 'first' or 'rarest'")

    def _starts(i: int) -> DataFrame:
        return (
            index.postings.filter(F.col("token") == F.lit(terms[i]))
            .select("doc",
                    F.transform(F.col("positions"),
                                lambda p: p - F.lit(i)).alias("starts"))
        )

    cur = _starts(order[0])
    for i in order[1:]:
        nxt = _starts(i).withColumnRenamed("starts", "_shift")
        cur = (
            cur.join(nxt, "doc")
            .select("doc",
                    F.array_intersect("starts", "_shift").alias("starts"))
            .filter(F.size("starts") > 0)
        )
    return cur.select(
        "doc",
        F.size("starts").cast("int").alias("n_matches"),
        F.array_min("starts").cast("int").alias("first_pos"),
    )
