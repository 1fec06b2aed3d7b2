"""clean_corpus: functions.pipeline.clean_corpus with normalize -> snapshot
(against a seeded prior snapshot) -> exact dedup -> Gopher/C4 gates ->
span dedup -> near-dup (greedy) -> temperature mixture, observe_funnel=True,
writing the cleaned frame.

Inputs: documents of 6-9 generated sentences with stopwords (so every
funnel stage keeps survivors), a source stratum, and planted shares of
exact duplicates (whitespace, case and no-break-space variants), near
duplicates (one word changed in every other sentence), documents already
in the prior snapshot, documents failing each gate, and a shared
three-sentence boilerplate block.

The oracle replays the recipe in plain Python without the package: the
normalize and snapshot/exact keys, the gate predicates the generated text
can trip, C4 span dedup, MinHash LSH with the same portable md5 hashing and
banding, exact Jaccard verification, and the md5 mixture filter.

The workload has no resume phase: an iteration is the one cleaning job, and
its verdict_s and resume_s repeat job_s.
"""

from __future__ import annotations

import hashlib
import math
import random
import re
import string
import threading
import time
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import numpy as np
import pyarrow as pa

from workload import Workload, digest, read_parquet_dir, write_files

N_DOCS, N_SNAPSHOT, N_FILES = 1_000, 200, 4
SOURCES, SOURCE_W = ["web", "news", "forum", "wiki"], [60, 25, 10, 5]
STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"]
BOILERPLATE = (" Subscribe to our newsletter for weekly updates from the team."
               " All rights reserved by the owners of this site."
               " Read the privacy policy before you continue reading.")
NEAR_DUP_THRESHOLD, MIXTURE_FRACTION, MIXTURE_SEED = 0.7, 0.6, 0
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("source", pa.string())])
FUNNEL_TIMEOUT_S = 60

# MinHash constants of the portable hash family (8 hashes, 4 bands)
MINHASH_P = 281474976710597
MINHASH_A = np.array([3, 5, 7, 11, 13, 17, 19, 23], dtype=np.int64)
MINHASH_B = np.array([(1442695040888963407 * (i + 1)) % MINHASH_P for i in range(8)],
                     dtype=np.int64)
BANDS, MAX_BUCKET = 4, 500
CHUNK_RE = re.compile(r"[^.!?]*[.!?]+|[^.!?]+$")


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------
class _Gen:
    def __init__(self, rng: random.Random):
        self.rng = rng
        self.vocab = ["".join(rng.choices(string.ascii_lowercase, k=rng.randint(3, 9)))
                      for _ in range(5_000)]

    def word(self) -> str:
        return self.rng.choice(STOPWORDS) if self.rng.random() < 0.3 else self.rng.choice(self.vocab)

    def sentence(self, n: int) -> str:
        w = [self.word() for _ in range(n)]
        return " ".join([w[0].capitalize()] + w[1:]) + "."

    def doc(self) -> list[str]:
        return [self.sentence(self.rng.randint(9, 13)) for _ in range(self.rng.randint(6, 9))]


def _text(sentences: list[str]) -> str:
    return " ".join(sentences)


def _near_dup(g: _Gen, sentences: list[str]) -> str:
    out = []
    for i, s in enumerate(sentences):
        if i % 2 == 0:
            w = s[:-1].split(" ")
            j = g.rng.randrange(1, len(w))
            w[j] = g.rng.choice(g.vocab)
            s = " ".join(w) + "."
        out.append(s)
    return _text(out)


def _exact_variant(g: _Gen, text: str) -> str:
    kind = g.rng.randrange(3)
    spaces = [i for i, c in enumerate(text) if c == " "]
    i = g.rng.choice(spaces)
    if kind == 0:
        return text[:i] + "  " + text[i + 1:]          # double space
    if kind == 1:
        return text[:i] + "\u00a0" + text[i + 1:]   # no-break space
    return text.upper()                                # case


def _batch(g: _Gen, n: int, pool: list[list[str]], snapshot: list[str]) -> list[tuple[str, str]]:
    """n (text, kind) records; duplicates draw their source from `pool`
    (clean documents generated so far, extended in place)."""
    out = []
    for _ in range(n):
        u = g.rng.random()
        if u < 0.05 and pool:
            out.append((_exact_variant(g, _text(g.rng.choice(pool))), "exact_dup"))
        elif u < 0.09:
            out.append((g.rng.choice(snapshot), "snapshot"))
        elif u < 0.12 and pool:
            out.append((_near_dup(g, g.rng.choice(pool)), "near_dup"))
        elif u < 0.14:        # Gopher: fewer than 50 words, still 3 sentences
            out.append((_text([g.sentence(g.rng.randint(5, 8)) for _ in range(3)]), "gopher"))
        elif u < 0.16:        # C4: braces, lorem ipsum, or fewer than 3 sentences
            d = g.doc()
            k = g.rng.randrange(3)
            if k == 0:
                d[1] = d[1][:-1] + " {see} notes."
            elif k == 1:
                d[2] = "Lorem ipsum " + d[2][0].lower() + d[2][1:]
            else:
                d = [" ".join(s[:-1] for s in d[:4]) + ".", " ".join(s[:-1] for s in d[4:]) + "."]
            out.append((_text(d), "c4"))
        elif u < 0.19:
            out.append((_text(g.doc()) + BOILERPLATE, "boilerplate"))
        else:
            d = g.doc()
            pool.append(d)
            out.append((_text(d), "clean"))
    g.rng.shuffle(out)
    return out


# ---------------------------------------------------------------------------
# oracle
# ---------------------------------------------------------------------------
def _norm(text: str) -> str:
    """lower, trim spaces, collapse ASCII whitespace: the content key's text."""
    return re.sub(r"\s+", " ", text.lower().strip(" "), flags=re.ASCII)


def _gopher_keep(text: str) -> bool:
    words = [w for w in re.split(r"\s+", text, flags=re.ASCII) if w]
    if not 50 <= len(words) <= 100_000:
        return False
    mean_wl = sum(len(w) for w in words) / len(words)
    symbols = text.count("#") + len(re.findall(r"\.\.\.|…", text))
    alpha = sum(1 for w in words if re.search("[A-Za-z]", w)) / len(words)
    return 3 <= mean_wl <= 10 and symbols / len(words) <= 0.1 and alpha >= 0.8


def _c4_keep(text: str) -> bool:
    n_sent = sum(1 for s in re.split(r"[.!?]", text) if s.strip(" "))
    return n_sent >= 3 and "lorem ipsum" not in text.lower() and "{" not in text


def _span_dedup(docs: list[dict], k: int = 3) -> None:
    """C4 span dedup, keep-first by (doc_id, position); rewrites text."""
    chunks, first, count = {}, {}, Counter()
    for d in sorted(docs, key=lambda d: d["doc_id"]):
        ch = CHUNK_RE.findall(d["text"])
        chunks[d["doc_id"]] = ch
        m = [_norm(c) for c in ch]
        for pos in range(len(m) - k + 1):
            span = " ".join(m[pos:pos + k])
            count[span] += 1
            first.setdefault(span, (d["doc_id"], pos))
    for d in docs:
        ch = chunks[d["doc_id"]]
        m = [_norm(c) for c in ch]
        victim = set()
        for pos in range(len(m) - k + 1):
            span = " ".join(m[pos:pos + k])
            if count[span] >= 2 and first[span] != (d["doc_id"], pos):
                victim.update(range(pos, pos + k))
        if victim:
            d["text"] = "".join(c for i, c in enumerate(ch) if i not in victim)


def _shingles(text: str) -> list[str]:
    w = _norm(text).split(" ")
    return [" ".join(w[j:j + 3]) for j in range(len(w) - 2)] if len(w) >= 3 else [" ".join(w)]


def _signature(text: str) -> np.ndarray:
    h = np.array([int(hashlib.md5(s.encode()).hexdigest()[:12], 16) % MINHASH_P
                  for s in _shingles(text)], dtype=np.int64)
    return ((MINHASH_A[:, None] * h[None, :] + MINHASH_B[:, None]) % MINHASH_P).min(axis=1)


def _round6(x: float) -> float:
    """Spark's round(x, 6) on a double: HALF_UP on its shortest decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _near_dup_drops(docs: list[dict]) -> tuple[set[int], int, int]:
    """Greedy near-dup: ids named second in a verified LSH pair, plus the
    bucket-cap overflow counters."""
    buckets: dict[tuple[int, str], list[int]] = {}
    text = {d["doc_id"]: d["text"] for d in docs}
    rows = 8 // BANDS
    for d in docs:
        sig = _signature(d["text"])
        for b in range(BANDS):
            key = "|".join(str(int(v)) for v in sig[b * rows:(b + 1) * rows])
            buckets.setdefault((b, hashlib.md5(key.encode()).hexdigest()), []).append(d["doc_id"])
    pairs, over_b, over_d = set(), 0, 0
    for ids in buckets.values():
        if len(ids) < 2:
            continue
        if len(ids) > MAX_BUCKET:
            over_b, over_d = over_b + 1, over_d + len(ids)
            continue
        ids = sorted(ids)
        pairs.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1:])
    drop = set()
    for a, b in pairs:
        sa, sb = set(_shingles(text[a])), set(_shingles(text[b]))
        union = len(sa | sb)
        if union and _round6(len(sa & sb) / union) >= NEAR_DUP_THRESHOLD:
            drop.add(b)
    return drop, over_b, over_d


def _mixture_keep(docs: list[dict]) -> list[dict]:
    counts = sorted(Counter(d["source"] for d in docs).items())
    n_total = sum(n for _, n in counts)
    target = MIXTURE_FRACTION * float(n_total)
    wsum = 0.0
    for _, n in counts:
        wsum += math.sqrt(float(n))
    thresholds = {}
    for s, n in counts:
        rate = min(1.0, target * (math.sqrt(float(n)) / wsum) / float(n))
        thresholds[s] = "ffffffff~" if rate >= 1.0 else format(int(rate * (1 << 32)), "08x")
    return [d for d in docs
            if hashlib.md5(f"{d['doc_id']}:{MIXTURE_SEED}".encode()).hexdigest()[:8]
            < thresholds[d["source"]]]


def oracle(rows: list[dict], snapshot: list[str]) -> dict:
    docs = [dict(r, text=r["text"].replace("\u00a0", " ")) for r in rows]   # normalize
    counts = {"n_input": len(docs)}
    seen = {_norm(t) for t in snapshot}
    docs = [d for d in docs if _norm(d["text"]) not in seen]
    counts["n_after_snapshot"] = len(docs)
    kept: dict[str, dict] = {}
    for d in docs:
        k = _norm(d["text"])
        if k not in kept or d["doc_id"] < kept[k]["doc_id"]:
            kept[k] = d
    docs = list(kept.values())
    counts["n_after_exact"] = len(docs)
    docs = [d for d in docs if _gopher_keep(d["text"])]
    counts["n_after_gopher"] = len(docs)
    docs = [d for d in docs if _c4_keep(d["text"])]
    counts["n_after_c4"] = len(docs)
    _span_dedup(docs)
    drop, over_b, over_d = _near_dup_drops(docs)
    counts.update(overflow_buckets=over_b, overflow_docs=over_d)
    docs = _mixture_keep([d for d in docs if d["doc_id"] not in drop])
    counts["n_after_mixture"] = len(docs)
    return {"funnel": counts, "n_near_dup": len(drop), "docs": docs,
            "cleaned": _cleaned_digest(docs), "n_cleaned": len(docs)}


def _cleaned_digest(docs) -> str:
    return digest((d["doc_id"], hashlib.sha1(d["text"].encode()).hexdigest(), d["source"])
                  for d in docs)


# ---------------------------------------------------------------------------
# workload
# ---------------------------------------------------------------------------
class CleanCorpus(Workload):
    name = "clean_corpus"
    uses_python = True

    def generate(self) -> None:
        rng = random.Random(self.seed)
        g = _Gen(rng)
        snapshot = [_text(g.doc()) for _ in range(N_SNAPSHOT)]
        rows = [{"doc_id": i + 1, "text": text, "source": rng.choices(SOURCES, SOURCE_W)[0]}
                for i, (text, _kind) in enumerate(_batch(g, N_DOCS, [], snapshot))]
        self.base_files = write_files(rows, DOC_SCHEMA, self.inputs / "docs", N_FILES, "base")
        write_files([{"doc_id": -1 - i, "text": t, "source": "snapshot"}
                     for i, t in enumerate(snapshot)],
                    DOC_SCHEMA, self.inputs / "snapshot", 1, "snapshot")
        self.expect = {"cold": oracle(rows, snapshot)}

    def cold_rows(self) -> int:
        return N_DOCS

    # -- the job -----------------------------------------------------------------
    def _frames(self, spark, it: Path):
        """(batch, seen snapshot, output dir) of the job."""
        seen = spark.read.parquet(str(self.inputs / "snapshot")).select("text")
        return spark.read.parquet(str(it / "input")), seen, it / "out" / "cleaned"

    def cold(self, spark, it: Path, tracer) -> float:
        if tracer is not None:
            return self._staged(spark, it, tracer)
        from jsonschemaparse_spark.functions.pipeline import clean_corpus

        t0 = time.perf_counter()
        df, seen, out_dir = self._frames(spark, it)
        res = clean_corpus(
            df, id_col="doc_id", text_col="text", normalize=True, seen_df=seen,
            span_dedup=True, near_dup_threshold=NEAR_DUP_THRESHOLD, near_dup_mode="greedy",
            mixture_strata="source", mixture_target_fraction=MIXTURE_FRACTION,
            mixture_seed=MIXTURE_SEED, observe_funnel=True)
        res.cleaned.write.mode("overwrite").parquet(str(out_dir))
        self.funnel = read_funnel(res)
        res.unpersist()
        return time.perf_counter() - t0

    def _staged(self, spark, it: Path, tracer) -> float:
        """The recipe's stages called one by one, each materialized inside
        its own span, so every stage's seconds and rows are measured."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from jsonschemaparse_spark.functions.dedup import (
            exact_dedup_linear, minhash_near_duplicates, remove_duplicate_spans)
        from jsonschemaparse_spark.functions.normalize import normalize_text
        from jsonschemaparse_spark.functions.sampling import temperature_mixture
        from jsonschemaparse_spark.functions.snapshot import incremental_dedup
        from jsonschemaparse_spark.functions.text import quality_flags

        t0 = time.perf_counter()
        df, seen, out_dir = self._frames(spark, it)
        cols = df.columns
        held = []
        counts = {"n_input": df.count()}

        def stage(name, build, count_key=None):
            with tracer.span(name):
                out = build().persist()
                n = out.count()
            for h in held:
                h.unpersist()
            held[:] = [out]
            self.rows_out[name] = n
            if count_key:
                counts[count_key] = n
            return out

        self.rows_out = {}
        out = stage("functions.normalize", lambda: normalize_text(df, text_col="text"))
        out = stage("functions.snapshot",
                    lambda: incremental_dedup(out, seen, text_col="text"), "n_after_snapshot")
        out = stage("functions.dedup.exact",
                    lambda: exact_dedup_linear(out, "doc_id", "text"), "n_after_exact")
        with tracer.span("functions.text.gates"):
            flagged = quality_flags(out, "text", gopher=True, c4=True) \
                .select(*cols, "gopher_keep", "quality_keep").persist()
            kept = flagged.agg(F.sum(F.col("gopher_keep").cast("long")).alias("g"),
                               F.sum(F.col("quality_keep").cast("long")).alias("q")).first()
        for h in held:
            h.unpersist()
        held[:] = [flagged]
        counts["n_after_gopher"], counts["n_after_c4"] = kept["g"], kept["q"]
        self.rows_out["functions.text.gates"] = kept["q"]
        out = flagged.filter(F.col("quality_keep")).select(*cols)
        out = stage("functions.dedup.span",
                    lambda: remove_duplicate_spans(out, "doc_id", "text").select(*cols))
        overflow = Observation()

        def near_dup():
            pairs = minhash_near_duplicates(out, "doc_id", "text", threshold=NEAR_DUP_THRESHOLD,
                                            overflow_observation=overflow)
            drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
            return out.join(drop, "doc_id", "left_anti")

        out = stage("functions.dedup.near_dup", near_dup)
        counts.update(overflow.get)
        with tracer.span("functions.sampling.mixture"):
            mixed = temperature_mixture(out, "source", "doc_id", alpha=0.5,
                                        target_fraction=MIXTURE_FRACTION, seed=MIXTURE_SEED)
            mixed.write.mode("overwrite").parquet(str(out_dir))
        for h in held:
            h.unpersist()
        counts["n_after_mixture"] = self.rows_out["functions.sampling.mixture"] = \
            read_parquet_dir(out_dir, ["doc_id"]).num_rows
        self.funnel = counts
        return time.perf_counter() - t0

    def check(self, it: Path, phase: str) -> list[str]:
        exp, errs = self.expect[phase], []
        if isinstance(self.funnel, str):
            return [self.funnel]
        for k, v in exp["funnel"].items():
            if self.funnel.get(k) != v:
                errs.append(f"funnel {k} {self.funnel.get(k)} != {v}")
        for k in ("n_input", "n_after_snapshot", "n_after_exact", "n_after_gopher",
                  "n_after_c4", "n_after_mixture"):
            if not self.funnel.get(k):
                errs.append(f"funnel stage {k} has no survivors")
        rows = read_parquet_dir(it / "out" / "cleaned", ["doc_id", "text", "source"]).to_pylist()
        if _cleaned_digest(rows) != exp["cleaned"]:
            errs.append(f"cleaned rows differ ({len(rows)} rows, expected {exp['n_cleaned']})")
        return errs

    # -- tracing -----------------------------------------------------------------
    def layer_metrics(self, tracer, reader, spans) -> dict[str, float]:
        """Seconds and surviving rows per stage; each stage is its own
        layer, so its stage metrics come with every layer's."""
        from tracing import span_total

        out = {}
        for name in STAGES:
            out[f"{name}.s"] = span_total(spans, name)
            out[f"{name}.rows_out"] = float(self.rows_out.get(name, 0))
        return out


STAGES = ["functions.normalize", "functions.snapshot", "functions.dedup.exact",
          "functions.text.gates", "functions.dedup.span", "functions.dedup.near_dup",
          "functions.sampling.mixture"]


def read_funnel(res) -> dict | str:
    """The funnel Observations, or an error string when they cannot be read
    within FUNNEL_TIMEOUT_S (Observation.get blocks on a query that never
    reported)."""
    box: dict = {}

    def get():
        try:
            box["v"] = res.funnel_counts()
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            box["v"] = f"funnel observation unreadable: {type(e).__name__}"

    t = threading.Thread(target=get, daemon=True)
    t.start()
    t.join(FUNNEL_TIMEOUT_S)
    return box.get("v", "funnel observation unreadable: timed out")
