"""Document chunking: split long documents into fixed-size token windows
(optional overlap) for training/RAG export — the step BEFORE
packing.pack_sequences when documents exceed the context length.

Pure Column implementation, one Generate per doc, zero Python. The whole
per-doc chunk array is built INSIDE the generator expression with the
token array bound ONCE as a lambda variable (element_at(transform(
array(split), ...), 1)) — otherwise CollapseProject moves the narrow
projections above the Generate and the split() re-evaluates once per
emitted chunk (the r5 minhash O(words^2) pitfall, SCALING.md r5).

Conventions:
- tokenization == text.token_count (whitespace split on trim; empty and
  NULL text yield zero tokens) so chunk token counts reconcile with the
  packer's totals;
- zero-token docs emit NO chunks (a restructuring operator, not a
  rewriting one — there is nothing to window);
- a trailing window is emitted only if it contains at least one token
  not covered by the previous window (start + overlap < n), so chunks
  never duplicate a suffix already fully exported.

Scale notes (100 TB): the Generate's child is the corpus scan — no
shuffle at all; output size is ~(1 + overlap/stride) x input text plus
one row per chunk. Chunk rows inherit the scan's partitioning, so a
downstream pack_sequences sees the same layout it would on documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..idioms import bind_once


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    chunk_tokens: int = 512,
    overlap: int = 0,
) -> DataFrame:
    """(id, chunk_id, chunk_text, n_tokens) — chunk_id counts from 0 per
    doc; windows start every (chunk_tokens - overlap) tokens."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap < chunk_tokens, got {overlap}/{chunk_tokens}")
    stride = chunk_tokens - overlap
    t = F.trim(F.col(text_col))

    def windows(ts):
        n = F.size(ts)
        n_chunks = F.greatest(
            F.lit(1),
            F.ceil((n - F.lit(overlap)) / F.lit(float(stride))).cast("int"))
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda k: F.struct(
                k.cast("long").alias("chunk_id"),
                F.array_join(
                    F.slice(ts, k * stride + 1, chunk_tokens), " "
                ).alias("chunk_text"),
                F.least(F.lit(chunk_tokens),
                        n - k * stride).cast("long").alias("n_tokens"),
            ),
        )

    # bind the split array once per row inside the generator (see module
    # docstring); the explode emits the prebuilt structs
    gen = F.explode(bind_once(F.split(t, r"\s+"), windows))
    return (
        df.filter(F.col(text_col).isNotNull() & (F.length(t) > 0))
        .select(F.col(id_col), gen.alias("_c"))
        .select(
            id_col,
            F.col("_c.chunk_id").alias("chunk_id"),
            F.col("_c.chunk_text").alias("chunk_text"),
            F.col("_c.n_tokens").alias("n_tokens"),
        )
    )


def chunk_stats(chunks: DataFrame, id_col: str) -> DataFrame:
    """Per-doc chunk summary: (id, n_chunks, total_tokens, last_tokens).
    One map-side-combinable aggregate."""
    return chunks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").alias("total_tokens"),
        F.max(F.struct("chunk_id", "n_tokens"))["n_tokens"]
        .alias("last_tokens"),
    )
