"""BPE tokenizer training + application (the Sennrich 2016 subword
recipe every modern LLM data pipeline runs before packing).

The reference (awwright/jsonschemaparse, a single-document JSON
validator) has no counterpart; this sits in the repo's LLM-training-data
tier next to token_count / pack_sequences — those count or pack
whitespace tokens, this learns the subword vocabulary a real training
run would pack with.

Scale shape (the 100-TB argument):
- training is ONE corpus scan: text.word_counts (explode + map-side
  combined hash aggregate whose shuffle is bounded by the distinct-word
  vocabulary, not the corpus). The merge loop then runs DRIVER-SIDE over
  the word-frequency dictionary — this is the published algorithm's own
  shape (BPE merges operate on word *types* weighted by counts, never on
  the corpus), and the dictionary is bounded: `max_words` caps it at the
  most frequent types (deterministic cut, count desc then token asc) and
  the cut is NOT silent — BpeModel.n_dropped_words reports it (the
  engine's no-silent-caps rule). Web-scale corpora have ~1e7 word types;
  1e6 covers >99.9% of occurrences.
- the driver loop is the indexed incremental algorithm: pair counts are
  maintained under each merge by touching only the words that contain
  the merged pair, O(affected words) per merge, not O(vocab).
- application is a pure MAP — zero shuffle, no corpus-keyed exchange:
  an Arrow-batched pandas UDF with the merge-rank table shipped once
  per executor via an explicit sparkContext.broadcast (a closure
  capture would re-pickle the model into every task). Within a batch,
  encodings are memoized per distinct word — natural text repeats
  words, so the greedy merge loop runs per word TYPE per batch, and
  the UDF cost scales with distinct words, not tokens.

Determinism contract (what makes the golden-snapshot oracle sound):
counts are exact integers from an exact aggregate; the merge choice is
max count with ties broken by the lexicographically smallest (left,
right) pair; the word-dict cap is count desc then token asc. Every step
is parallelism-independent, so the trained merges for a fixed corpus +
params are a fixed table (pinned local[8] == local[32] in
tests/test_tokenizer.py, the ann_ivf_partial convention).

Token convention: words are the _NORM whitespace tokens (lowercased,
whitespace-split — dedup.normalized_text), matching the lm/dedup/stats
tier; each word is a tuple of single characters with '</w>' appended to
its final character (the Sennrich end-of-word marker), so decoding is
concatenation + marker-split and round-trips the normalized text
exactly (pinned corpus-wide in pytest).

NULL convention: keyed/metric op — NULL text encodes like empty text
(empty token array), the engine-wide gates-score-NULL-empty rule."""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..idioms import ensure_parallelism
from .dedup import norm_tokens
from .text import word_counts

EOW = "</w>"


@dataclass
class BpeModel:
    """A trained BPE tokenizer: `merges` in rank order (applying them in
    order to character-split words reproduces training), `n_dropped_words`
    (word types cut by max_words before training — the no-silent-caps
    report), and the training params for provenance."""

    merges: "list[tuple[str, str]]" = field(default_factory=list)
    n_dropped_words: int = 0
    min_count: int = 1
    lowercase: bool = True

    def ranks(self) -> "dict[tuple[str, str], int]":
        return {pair: r for r, pair in enumerate(self.merges)}

    def merges_df(self, spark: SparkSession) -> DataFrame:
        """The merge table as a DataFrame (rank, left, right) — the
        shippable artifact a 100-TB run publishes next to its snapshot."""
        schema = T.StructType([
            T.StructField("rank", T.LongType(), False),
            T.StructField("left", T.StringType(), False),
            T.StructField("right", T.StringType(), False),
        ])
        rows = [(r, a, b) for r, (a, b) in enumerate(self.merges)]
        return spark.createDataFrame(rows, schema)

    @staticmethod
    def from_merges_df(mdf: DataFrame, **kw) -> "BpeModel":
        rows = mdf.select("rank", "left", "right").collect()
        rows.sort(key=lambda r: r["rank"])
        return BpeModel(merges=[(r["left"], r["right"]) for r in rows], **kw)


def _split_word(word: str) -> "tuple[str, ...]":
    chars = list(word)
    chars[-1] = chars[-1] + EOW
    return tuple(chars)


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    *,
    n_merges: int,
    min_count: int = 1,
    max_words: int = 1_000_000,
) -> BpeModel:
    """Learn `n_merges` BPE merges from the corpus. One corpus scan
    (word_counts); the merge loop runs on the collected word-frequency
    dict, capped at `max_words` types (count desc, token asc — exact
    integers, so the cut is deterministic). Stops early if no pair
    occurs twice (merging hapax pairs would just memorize words)."""
    wc = word_counts(df, text_col, lowercase=True, min_count=min_count)
    wc = wc.persist()
    try:
        n_types = wc.count()  # the ONE corpus scan; materializes the cache
        n_dropped = 0
        capped = wc
        if n_types > max_words:
            n_dropped = n_types - max_words
            capped = wc.orderBy(
                F.col("n").desc(), F.col("token").asc()).limit(max_words)
        rows = capped.collect()  # vocab-sized, served from the cache
    finally:
        wc.unpersist()
    # deterministic iteration order (collect order is partition order)
    vocab = sorted((r["token"], int(r["n"])) for r in rows)
    words = [_split_word(w) for w, _ in vocab]
    counts = [n for _, n in vocab]

    # indexed incremental pair maintenance: pair -> total count,
    # pair -> {word index} so each merge touches only affected words
    pair_counts: "dict[tuple[str, str], int]" = {}
    pair_words: "dict[tuple[str, str], set[int]]" = {}

    def _add_word(i: int, sign: int) -> None:
        syms, n = words[i], counts[i] * sign
        for a, b in zip(syms, syms[1:]):
            pair_counts[(a, b)] = pair_counts.get((a, b), 0) + n
            s = pair_words.setdefault((a, b), set())
            if sign > 0:
                s.add(i)
            else:
                # full retraction keeps the sets exact, so each merge
                # touches only words that STILL contain the pair (r6
                # review: supersets were correct but re-processed
                # stale words on every later merge)
                s.discard(i)

    for i in range(len(words)):
        _add_word(i, +1)

    merges: "list[tuple[str, str]]" = []
    for _ in range(n_merges):
        best = None
        for pair, n in pair_counts.items():
            if n < 2:
                continue
            if best is None or n > best[0] or (n == best[0] and pair < best[1]):
                best = (n, pair)
        if best is None:
            break
        pair = best[1]
        merges.append(pair)
        merged = pair[0] + pair[1]
        for i in list(pair_words.get(pair, ())):
            _add_word(i, -1)  # retract old pair contributions
            syms = list(words[i])
            j = 0
            out = []
            while j < len(syms):
                if (j + 1 < len(syms) and syms[j] == pair[0]
                        and syms[j + 1] == pair[1]):
                    out.append(merged)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            words[i] = tuple(out)
            _add_word(i, +1)
        # drop exhausted entries so the scan stays O(live pairs)
        for p in [p for p, n in pair_counts.items() if n <= 0]:
            del pair_counts[p]
            pair_words.pop(p, None)
        pair_words.pop(pair, None)
        pair_counts.pop(pair, None)
    return BpeModel(merges=merges, n_dropped_words=n_dropped,
                    min_count=min_count)


def _encode_word(word: str, ranks: "dict[tuple[str, str], int]",
                 memo: dict) -> "list[str]":
    got = memo.get(word)
    if got is not None:
        return got
    syms = list(_split_word(word))
    while len(syms) > 1:
        best_rank, best_j = None, -1
        for j in range(len(syms) - 1):
            r = ranks.get((syms[j], syms[j + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_j = r, j
        if best_rank is None:
            break
        syms[best_j:best_j + 2] = [syms[best_j] + syms[best_j + 1]]
    memo[word] = syms
    return syms


def bpe_encode(
    df: DataFrame, model: BpeModel, text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Adds `out_col`: array<string> of BPE tokens for the normalized
    text. Pure map (zero shuffle); merge ranks broadcast ONCE per
    (model, SparkContext) and reused across calls (r6 review: a fresh
    broadcast per call accumulates blocks over a long session);
    per-batch word-type memoization.

    The word split happens JVM-SIDE (norm_tokens — the engine-wide
    convention) and the UDF receives the token ARRAY, so Python never
    re-tokenizes: Python str.split()/str.lower() disagree with the
    Java regex/locale on NBSP-class whitespace and Unicode-special
    casing (r6 review), and training (word_counts) is JVM-tokenized —
    encode must see byte-identical words.

    Decoding invariant: ''.join(tokens).replace(EOW, ' ').strip() ==
    normalized text, PROVIDED the corpus does not contain the literal
    marker string '</w>' inside a word (the standard Sennrich-marker
    caveat: encoding is always sound — merges never cross word
    boundaries — but decode splits on every marker occurrence; pinned
    in tests/test_tokenizer.py)."""
    import pandas as pd

    # r7: spread few-split inputs so the encode UDF batches use every
    # core (measured 2.8 s -> 1.7 s at sf1.0 on a 2-split input;
    # pass-through on real multi-split corpora)
    df = ensure_parallelism(df)
    sc = df.sparkSession.sparkContext
    cached = getattr(model, "_bc_cache", None)
    if cached is not None and cached[0] == sc.applicationId:
        bc = cached[1]
    else:
        bc = sc.broadcast(model.ranks())
        model._bc_cache = (sc.applicationId, bc)

    @F.pandas_udf("array<string>")
    def _enc(word_arrays):  # pd.Series[list[str]] -> pd.Series
        ranks = bc.value
        memo: dict = {}
        out = []
        for words in word_arrays:
            if words is None:
                out.append([])
                continue
            toks: "list[str]" = []
            for w in words:
                toks.extend(_encode_word(w, ranks, memo))
            out.append(toks)
        return pd.Series(out)

    return df.withColumn(out_col, _enc(norm_tokens(F.col(text_col))))


def bpe_decode_col(tokens_col):
    """Column expression reversing bpe_encode — concatenate and split on
    the end-of-word marker. Pure JVM (no Python), used by the round-trip
    pins and by the driver query's oracle-visible decode."""
    joined = F.array_join(tokens_col, "")
    return F.trim(F.regexp_replace(joined, EOW, " "))
