"""Incremental snapshot dedup: filter a new crawl batch against a prior
corpus snapshot, Bloom-prefiltered so the batch text never shuffles.

Extends the engine's snapshot surface (sources/catalog.py reads,
integrity.referential_violations across snapshots) with the ingest-side
operation a rolling Common-Crawl pipeline runs every cycle: "which of
these new pages have we already got?". The reference has no table scope
at all (it validates one document; lib/parse.js), so this tier is pure
extension, like the rest of the dedup family (dedup.py).

Semantics are EXACT anti-join semantics — keep every new row whose
content key does not appear in the seen snapshot — the Bloom filter is
only a routing device:

1. Build a Bloom bitmap over the seen side's keys with a distributed
   ``bit_or`` aggregation. Only ``m/64`` (word_index, or-of-masks) rows
   ever reach the driver — never the keys themselves.
2. Probe the new batch with a broadcast numpy bitmap inside a
   vectorized pandas UDF (two xxhash64 columns in, booleans out; no
   per-row Python). Bloom negatives are DEFINITELY unseen: they pass
   through with zero shuffle, zero join.
3. Only Bloom positives (true dups + the fp rate) enter the exact
   left-anti join against the seen keys, so the join's new side is
   |dups| + fpp * |new|, not |new|.

Scale notes (100 TB):
- The broadcast ceiling prices the filter: ~9.6 bits/key at fpp=1%,
  so ~1.2 GB per 10^9 distinct seen keys. Per-increment dedup against
  the previous snapshot's *delta* sits comfortably under it; dedup
  against a full 10^12-key history does not — use mode='exact' there,
  bucketed on the key (plans/bucketing.py) so the anti-join is
  exchange-free, or shard the bitmap by key range and run per-shard.
- The exact join's seen side can itself be prefiltered with a second
  Bloom built from the (small) positive set (prefilter_seen=True), so
  neither side of the final join is snapshot-sized.
- Double hashing (r1 + i*r2 mod m, with r1 = h1 mod m, r2 = h2 mod m
  reduced FIRST so the arithmetic never overflows under ANSI mode)
  keeps probe cost at 2 hashes per key for any k; Spark's pmod and
  numpy's floored % agree for positive m, so the JVM build and the
  numpy probe hit identical bits (pinned in tests/test_snapshot.py).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..idioms import ensure_parallelism
from .dedup import content_key, normalized_text

# Second-hash salt: any fixed non-null literal distinct from the bare key
# works; xxhash64(key, salt) and xxhash64(key) are then independent-ish
# streams for double hashing.
_H2_SALT = 0x9E3779B9


def _hash_cols(key: Column) -> tuple[Column, Column]:
    return (
        F.xxhash64(key),
        F.xxhash64(key, F.lit(_H2_SALT)),
    )


def probe_key(text: Column) -> Column:
    """Bloom probe key: the normalized text itself (NULL keys like '',
    dedup.py's pinned KEYING convention) — deliberately a strict
    SUBexpression of the md5 join key; see incremental_dedup for why
    that stops a wasteful inferred filter on the snapshot side."""
    return F.coalesce(normalized_text(text), F.lit(""))


@dataclass
class KeyBloom:
    """Driver-side Bloom bitmap. words is int64 (two's complement, so
    masks match JVM longs bit-for-bit); n_bits is a multiple of 64."""

    n_bits: int
    n_hashes: int
    words: "np.ndarray"
    # one SparkContext broadcast per bitmap, lazily created and reused
    # across probe calls (a per-call broadcast would accumulate blocks
    # over a long-lived batch loop); not part of equality/persistence
    _bc: object = field(default=None, repr=False, compare=False)

    def broadcast(self, sc):
        if self._bc is None or getattr(self._bc, "_jbroadcast", None) is None:
            self._bc = sc.broadcast((self.n_bits, self.n_hashes, self.words))
        return self._bc

    def might_contain(self, h1: "np.ndarray", h2: "np.ndarray") -> "np.ndarray":
        """Vectorized probe: True = maybe seen, False = definitely new."""
        out = np.ones(len(h1), dtype=bool)
        m = np.int64(self.n_bits)
        one = np.int64(1)
        # reduce mod m FIRST (numpy floored % == Spark pmod for m > 0);
        # r1 + i*r2 <= 17*m << 2^63, so no overflow on either engine
        r1 = h1.astype(np.int64, copy=False) % m
        r2 = h2.astype(np.int64, copy=False) % m
        for i in range(self.n_hashes):
            pos = (r1 + np.int64(i) * r2) % m
            word = self.words[(pos >> np.int64(6)).astype(np.int64)]
            out &= (word >> (pos & np.int64(63))) & one != 0
        return out


def save_bloom(bloom: KeyBloom, path: str) -> None:
    """Persist the bitmap as a snapshot artifact: build once when a
    snapshot publishes, reuse for every subsequent batch (the build is
    one pass over the snapshot's keys; the probe is free of it)."""
    import json as _json

    header = _json.dumps(
        {"n_bits": bloom.n_bits, "n_hashes": bloom.n_hashes}).encode()
    with open(path, "wb") as f:
        f.write(len(header).to_bytes(4, "big"))
        f.write(header)
        f.write(bloom.words.tobytes())


def load_bloom(path: str) -> KeyBloom:
    import json as _json

    with open(path, "rb") as f:
        hlen = int.from_bytes(f.read(4), "big")
        meta = _json.loads(f.read(hlen).decode())
        words = np.frombuffer(f.read(), dtype=np.int64).copy()
    assert len(words) == meta["n_bits"] // 64
    return KeyBloom(n_bits=meta["n_bits"], n_hashes=meta["n_hashes"],
                    words=words)


def bloom_parameters(expected_items: int, fpp: float = 0.01,
                     max_bits: int = 1 << 27) -> tuple[int, int]:
    """Classic sizing: m = -n ln(p)/ln(2)^2, k = m/n ln(2), m rounded up
    to a multiple of 64 and capped (the cap trades fpp for broadcast
    size; the exact join downstream keeps the RESULT exact either way)."""
    n = max(1, int(expected_items))
    m = int(math.ceil(-n * math.log(max(fpp, 1e-12)) / (math.log(2) ** 2)))
    m = min(max(m, 64), max_bits)
    m = (m + 63) & ~63
    k = max(1, min(16, round(m / n * math.log(2))))
    return m, int(k)


def build_key_bloom(df: DataFrame, key: Column | str,
                    expected_items: int | None = None,
                    fpp: float = 0.01,
                    max_bits: int = 1 << 27) -> KeyBloom:
    """One distributed pass over df: explode each key into its k bit
    positions, OR the masks per 64-bit word map-side, and collect only
    the <= m/64 non-zero (word, bits) rows. No key ever reaches the
    driver; the collect is bounded by the bitmap size, not the data."""
    key = F.col(key) if isinstance(key, str) else key
    if expected_items is None:
        expected_items = df.agg(
            F.approx_count_distinct(key).alias("d")).first()["d"]
    m, k = bloom_parameters(expected_items, fpp, max_bits)
    h1, h2 = _hash_cols(key)
    rows = (
        df.select(h1.alias("_h1"), h2.alias("_h2"))
        .select(
            F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("_i"),
            "_h1", "_h2",
        )
        .select(
            F.pmod(
                F.pmod("_h1", F.lit(m).cast("long"))
                + F.col("_i").cast("long")
                * F.pmod("_h2", F.lit(m).cast("long")),
                F.lit(m).cast("long"),
            ).alias("_pos"))
        .select(
            F.shiftright("_pos", 6).alias("word"),
            # pyspark's F.shiftleft only takes a literal bit count; the
            # SQL form accepts a column for the per-position shift
            F.expr("shiftleft(1L, cast(pmod(_pos, 64) as int))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    words = np.zeros(m // 64, dtype=np.int64)
    for r in rows:
        words[r["word"]] = np.int64(r["bits"])
    return KeyBloom(n_bits=m, n_hashes=k, words=words)


def bloom_probe_column(spark, bloom: KeyBloom, key: Column | str) -> Column:
    """Boolean Column: True = Bloom-positive (maybe seen). The bitmap is
    a SparkContext broadcast (ships once per executor, never per task,
    and reused across probe calls on the same KeyBloom); the UDF is
    Arrow-batched and numpy-vectorized — no per-row Python."""
    key = F.col(key) if isinstance(key, str) else key
    bc = bloom.broadcast(spark.sparkContext)

    @F.pandas_udf(T.BooleanType())
    def _probe(h1: pd.Series, h2: pd.Series) -> pd.Series:
        n_bits, n_hashes, words = bc.value
        b = KeyBloom(n_bits=n_bits, n_hashes=n_hashes, words=words)
        return pd.Series(b.might_contain(h1.to_numpy(), h2.to_numpy()))

    h1, h2 = _hash_cols(key)
    return _probe(h1, h2)


def incremental_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str = "text",
    mode: str = "bloom",
    expected_items: int | None = None,
    fpp: float = 0.01,
    max_bits: int = 1 << 27,
    prefilter_seen: bool = False,
    bloom: KeyBloom | None = None,
    verify_bloom: bool = True,
) -> DataFrame:
    """Rows of new_df whose content key (dedup.content_key — NULL keys
    like '', the pinned KEYING convention) does not appear in seen_df.

    mode='bloom': Bloom-route then exact anti-join on the positives
    (the default; result identical to 'exact' because Bloom has no
    false negatives). mode='exact': plain left-anti — the path for a
    seen side too big to Bloom-broadcast, where bucketed layouts
    (plans/bucketing.py) make the anti-join exchange-free.

    prefilter_seen additionally builds a second Bloom from the positive
    keys and filters the SEEN side before the anti-join, so at scale
    neither join input is snapshot-sized. Off by default: it re-scans the
    new batch once to build the positive Bloom (scan + hash, zero
    shuffle, no cache held) and only pays off when |positives| << |seen|.

    bloom: a precomputed KeyBloom for seen_df's keys — built with
    build_key_bloom over probe_key(text_col) (or load_bloom of such a
    build) — the operational shape: the bitmap is built ONCE when a
    snapshot publishes and reused for every batch, so the per-batch cost
    is probe + the positives-only join, never a snapshot pass.
    """
    out_cols = list(new_df.columns)
    # r7: spread few-split batches before keying/probing — the md5
    # content key + Arrow probe otherwise run on as many cores as the
    # batch has splits (measured 6.6 s -> 3.3 s at sf1.0 on a 4-split
    # events-derived batch; pass-through on well-split batches)
    new_df = ensure_parallelism(new_df)
    seen_keys = seen_df.select(content_key(F.col(text_col)).alias("_ik"))
    keyed = new_df.withColumn("_ik", content_key(F.col(text_col)))
    if mode == "exact":
        return keyed.join(seen_keys, on="_ik", how="left_anti").select(out_cols)
    if mode != "bloom":
        raise ValueError(f"mode must be 'bloom' or 'exact', got {mode!r}")

    # The Bloom is keyed on probe_key (the normalized text), NOT on the
    # md5 join key, for two load-bearing reasons:
    # 1. the hot negative path never computes md5 at all;
    # 2. Catalyst's InferFiltersFromConstraints copies any filter that is
    #    a function of the whole join-key expression onto the SEEN side
    #    through the join equality — an inferred filter that is always-
    #    true by construction (a Bloom has no false negatives on the keys
    #    it was built from) yet costs a full Arrow probe pass over the
    #    snapshot on every batch. probe_key is a strict SUBexpression of
    #    the join key, and constraint substitution only rewrites whole
    #    join-key trees, so the inference cannot fire (plan-asserted in
    #    tests/test_snapshot.py; an OR-rand() guard was tried first and
    #    got simplified away by the optimizer).
    pk = probe_key(F.col(text_col))
    if bloom is None:
        if expected_items is None:
            # r7: size by ROW count, not approx_count_distinct —
            # build_key_bloom's default sizing pass is a FULL
            # normalize+hash scan of the snapshot before the build pass.
            # count() is metadata-only only when seen_df is a plain file
            # scan; a filtered or derived snapshot pays a full scan here,
            # usually still cheaper than that sizing pass. Duplicate texts
            # only OVER-size the bitmap (lower fpp, capped by max_bits), and
            # the downstream exact anti-join keeps the result identical
            # either way (measured 3.6 s -> 2.9 s at sf1.0).
            expected_items = seen_df.count()
        bloom = build_key_bloom(seen_df.select(pk.alias("_pk")), "_pk",
                                expected_items=expected_items,
                                fpp=fpp, max_bits=max_bits)
    elif verify_bloom:
        # a Bloom keyed on anything but probe_key has false negatives on
        # the very keys it should contain — which silently leaks dups
        # through the negative branch. One bounded sample probe (<=1000
        # seen rows, ~one partition) catches the mismatch at run time.
        miss = (
            seen_df.select(pk.alias("_pk")).limit(1000)
            .filter(~bloom_probe_column(
                seen_df.sparkSession, bloom, F.col("_pk")))
            .count()
        )
        if miss:
            raise ValueError(
                f"prebuilt bloom misses {miss}/1000 sampled seen keys — "
                "it must be built over probe_key(text) "
                "(see incremental_dedup docstring); pass "
                "verify_bloom=False only if you know the bitmap matches")
    probed = keyed.withColumn(
        "_maybe_seen",
        bloom_probe_column(new_df.sparkSession, bloom, pk))
    negatives = probed.filter(~F.col("_maybe_seen")).select(out_cols)
    positives = probed.filter(F.col("_maybe_seen"))
    if prefilter_seen:
        # same subexpression trick on the positive Bloom: key it on _pk
        # so the seen-side filter cannot be inferred back onto the left.
        # expected_items is an explicit over-estimate (the snapshot's key
        # count, reconstructed from its bitmap sizing) so build_key_bloom
        # never runs its approx_count_distinct pass over the batch —
        # over-sizing only LOWERS the fp rate and max_bits caps memory
        pos_bloom = build_key_bloom(
            positives.select(pk.alias("_pk")), "_pk",
            expected_items=max(1, bloom.n_bits // 10),
            fpp=fpp, max_bits=max_bits)
        seen_keys = (
            seen_df.select(F.col(text_col))
            .filter(bloom_probe_column(seen_df.sparkSession, pos_bloom, pk))
            .select(content_key(F.col(text_col)).alias("_ik"))
        )
    survivors = (
        positives.join(seen_keys, on="_ik", how="left_anti").select(out_cols)
    )
    return negatives.unionByName(survivors)


def incremental_dedup_stats(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str = "text",
    expected_items: int | None = None,
    fpp: float = 0.01,
    max_bits: int = 1 << 27,
) -> dict:
    """Routing funnel for the bloom path, from ONE aggregation over the
    probed batch plus one join count: how many rows skipped the join
    (bloom negatives), how many were true dups, and the realized false-
    positive rate. Diagnostic surface — the dedup itself never needs it."""
    pk = probe_key(F.col(text_col))
    seen_keys = seen_df.select(content_key(F.col(text_col)).alias("_ik"))
    bloom = build_key_bloom(seen_df.select(pk.alias("_pk")), "_pk",
                            expected_items=expected_items,
                            fpp=fpp, max_bits=max_bits)
    probed = new_df.select(
        content_key(F.col(text_col)).alias("_ik"),
        bloom_probe_column(new_df.sparkSession, bloom, pk)
        .alias("_maybe_seen"))
    row = probed.agg(
        F.count(F.lit(1)).alias("n_new"),
        F.sum(F.col("_maybe_seen").cast("long")).alias("n_positive"),
    ).first()
    n_true_dup = (
        probed.filter("_maybe_seen")
        .join(seen_keys, on="_ik", how="left_semi").count()
    )
    n_pos = int(row["n_positive"] or 0)
    n_neg_base = int(row["n_new"]) - n_true_dup
    return {
        "n_new": int(row["n_new"]),
        "n_bloom_negative": int(row["n_new"]) - n_pos,
        "n_bloom_positive": n_pos,
        "n_true_dup": int(n_true_dup),
        "n_false_positive": n_pos - int(n_true_dup),
        "fp_rate": (n_pos - n_true_dup) / n_neg_base if n_neg_base else 0.0,
        "bloom_bits": bloom.n_bits,
        "bloom_hashes": bloom.n_hashes,
    }
