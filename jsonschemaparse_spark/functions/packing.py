"""Sequence packing for training-data export: lay the corpus out as one
virtual token stream (docs concatenated in id order) and chunk it into
fixed-length training sequences — the GPT-style document-boundary-
agnostic packing every LLM data pipeline runs as its last step.

The engine-side problem is the GLOBAL prefix sum: every doc needs the
total token count of all docs before it in the stream order. A naive
`Window.orderBy(id)` collapses to ONE partition (Spark puts the whole
frame in a single window partition when there is no partitionBy) — a
serial sort of 100 TB. This module does the classic scalable two-stage
prefix sum instead:

 1. rows get a deterministic contiguous BLOCK key — a pure function of
    the id's value range (`floor((id - min_id) / K)`), NOT
    `spark_partition_id()`: partition ids depend on range-sampling and
    job re-execution, so totals collected in one job could mis-key the
    offsets applied in the next; a value-derived block cannot drift
    across jobs, retries, or AQE re-plans;
 2. per-block token totals (one map-side-combined hash aggregate,
    ~n_blocks rows) come back to the driver — a BOUNDED collect, the
    same class as checkpoint file lists — and fold into exclusive
    per-block offsets shipped back as a literal lookup;
 3. the within-block cumsum is a `Window.partitionBy(block)
    .orderBy(id)` — n_blocks independent sorted windows, each a
    partition-sized sort, running fully parallel.

Result invariance: the global cumsum depends only on (id, count) pairs
and the id ordering — never on which block a row landed in — so the
output is bit-stable across cluster sizes and partition layouts (the
same determinism contract as sampling.py). Skew note: blocks are equal
id-RANGES, not equal row counts; crawl corpora with dense monotone ids
(the common case) balance naturally, and sparse/skewed id spaces can
raise `n_blocks` so the heaviest block still fits an executor.

The reference (a single-document JSON validator) has no counterpart;
this belongs to the repo's LLM-training-data tier. Token counts are
whatever the caller supplies (text.token_count, bpe_token_count, or a
real tokenizer's output column); NULL/negative counts clamp to 0 —
a NULL-text doc occupies no tokens but keeps its row (metric-gate NULL
convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_sequences(df: DataFrame, id_col: str, count_col: str,
                   seq_len: int, n_blocks: int = 256) -> DataFrame:
    """df + (start_token, seq_first, seq_last): each doc's half-open
    token interval [start_token, start_token + count) in the
    concatenated stream, and the first/last sequence of length
    `seq_len` it lands in. Zero-count docs sit at a boundary point:
    seq_first = seq_last = the sequence their start offset falls in.

    Cost shape: the driver-side prep (id bounds + per-block totals) runs
    over a CACHED narrow (id, count) projection — the upstream lineage
    (e.g. token_count over the corpus) evaluates once for both prep
    jobs; the apply pass then evaluates it a second time to carry the
    caller's columns through. Callers that pre-materialize the count
    column pay one corpus scan total. The block-totals shuffle is
    ~n_blocks rows; the windowed cumsum shuffles one narrow (id, count)
    row per doc.

    `id_col` must be non-null numeric (it defines the stream order);
    a NULL id raises rather than silently placing the doc."""
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    cid, ccnt = F.col(id_col), F.col(count_col)
    cnt = F.greatest(F.coalesce(ccnt.cast("long"), F.lit(0)), F.lit(0))

    slim = df.select(cid.alias("_id"), cnt.alias("_cnt")).persist()
    try:
        bounds = slim.select(F.min(F.col("_id")).alias("lo"),
                             F.max(F.col("_id")).alias("hi"),
                             F.sum(F.col("_id").isNull().cast("long"))
                             .alias("n_null")).first()
        if bounds.n_null:
            raise ValueError(
                f"pack_sequences: {bounds.n_null} NULL values in id column "
                f"{id_col!r} — the stream order is undefined for them; "
                "filter or re-key first")
        if bounds.lo is None:
            return df.select(
                df["*"], F.lit(None).cast("long").alias("start_token"),
                F.lit(None).cast("long").alias("seq_first"),
                F.lit(None).cast("long").alias("seq_last"))
        span = int(bounds.hi) - int(bounds.lo) + 1
        k = max(1, -(-span // max(1, n_blocks)))  # ceil
        block = F.floor((cid - F.lit(int(bounds.lo))) / F.lit(k)).cast("long")

        totals = (slim.groupBy(
            F.floor((F.col("_id") - F.lit(int(bounds.lo))) / F.lit(k))
            .cast("long").alias("_jsp_block"))
            .agg(F.sum("_cnt").alias("t")).collect())
    finally:
        slim.unpersist()
    offsets, acc = {}, 0
    for row in sorted(totals, key=lambda r: r._jsp_block):
        offsets[int(row._jsp_block)] = acc
        acc += int(row.t)

    keyed = df.withColumn("_jsp_block", block).withColumn("_jsp_cnt", cnt)

    off = F.element_at(
        F.create_map(*[F.lit(x) for b, o in sorted(offsets.items())
                       for x in (b, o)]),
        F.col("_jsp_block"))
    w = (Window.partitionBy("_jsp_block").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum("_jsp_cnt").over(w)
    start = (off + cum - F.col("_jsp_cnt")).cast("long")
    end_tok = (off + cum).cast("long")  # exclusive
    seq_first = F.floor(start / F.lit(seq_len)).cast("long")
    seq_last = F.when(F.col("_jsp_cnt") > 0,
                      F.floor((end_tok - 1) / F.lit(seq_len)).cast("long")) \
                .otherwise(seq_first)
    return (keyed
            .withColumn("start_token", start)
            .withColumn("seq_first", seq_first)
            .withColumn("seq_last", seq_last)
            .drop("_jsp_block", "_jsp_cnt"))


def export_shards(packed: DataFrame, path: str, n_shards: int,
                  id_col: str = "doc_id",
                  max_records_per_file: int | None = None) -> None:
    """Write a pack_sequences result as `n_shards` contiguous token-range
    shards — the layout a training loader wants: shard i holds a
    contiguous slice of the virtual token stream, docs in stream order
    within it, so sequential readers touch one shard per range and the
    doc straddling a shard boundary is duplicated into neither (it lives
    in the shard of its seq_first).

    `n_shards` is an UPPER bound: repartitionByRange derives boundaries
    from a sample, and collapsed boundaries (few distinct keys, or
    fewer rows than shards) yield fewer non-empty partitions — loaders
    must enumerate the written files, not assume exactly n_shards.

    Shape: repartitionByRange on (seq_first, id) — one range shuffle
    with sampled boundaries — then an in-partition sort; no global
    sort, no driver data. `max_records_per_file` maps to Spark's
    maxRecordsPerFile so shard files stay loader-sized."""
    writer = (packed
              .repartitionByRange(n_shards, F.col("seq_first"), F.col(id_col))
              .sortWithinPartitions("seq_first", id_col)
              .write.mode("overwrite"))
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def shard_manifest(spark, path: str, id_col: str = "doc_id",
                   count_col: str = "n_tokens") -> DataFrame:
    """Per-shard-file manifest for an export_shards directory — the
    artifact a training loader (and an auditor) reads instead of
    trusting the directory listing: one row per physical file with
    (shard_file, n_docs, n_tokens, first_token, last_token_excl,
    content_hash). content_hash is an ORDER-INSENSITIVE checksum — the
    decimal(38) SUM of per-row xxhash64 over the id + token-range
    columns (sum, not xor: xor is blind to even-multiplicity
    duplicates; decimal because a long sum overflows under ANSI) — so
    re-writing the same rows in any order verifies equal, while any
    lost/duplicated/altered row changes it.

    Shape: one scan of the written shards grouped by input file — the
    shuffle carries one partial row per (task, file). Run it right
    after export_shards; publish next to the shards."""
    df = spark.read.parquet(path)
    # the module's NULL/negative-count convention (clamp to 0), exactly
    # as pack_stats applies it — a raw sum here would make the audit
    # artifact disagree with pack_stats on the same data (r6 third
    # review #5); the clamped value also feeds the row hash so a NULL
    # count hashes as the 0 tokens it occupies, not as a missing column
    cnt = F.greatest(F.coalesce(F.col(count_col).cast("long"), F.lit(0)),
                     F.lit(0))
    row_hash = F.xxhash64(F.col(id_col), F.col("start_token"), cnt)
    return (
        df.groupBy(F.input_file_name().alias("shard_file"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(cnt).cast("long").alias("n_tokens"),
            F.min("start_token").cast("long").alias("first_token"),
            F.max(F.col("start_token") + cnt)
            .cast("long").alias("last_token_excl"),
            F.sum(row_hash.cast("decimal(38,0)")).alias("content_hash"),
        )
    )


def pack_stats(packed: DataFrame, count_col: str, seq_len: int) -> DataFrame:
    """One-row summary of a pack_sequences result: docs, total tokens,
    number of `seq_len` sequences, and how many docs straddle a
    sequence boundary (the fraction a boundary-respecting sampler would
    need to special-case). Single aggregate, map-side combined."""
    cnt = F.greatest(F.coalesce(F.col(count_col).cast("long"), F.lit(0)),
                     F.lit(0))
    return packed.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum(cnt), F.lit(0)).alias("total_tokens"),
        F.coalesce(F.ceil(F.sum(cnt) / F.lit(seq_len)), F.lit(0))
         .cast("long").alias("n_sequences"),
        F.sum(F.when(F.col("seq_last") > F.col("seq_first"), 1).otherwise(0))
         .cast("long").alias("n_boundary_docs"))
