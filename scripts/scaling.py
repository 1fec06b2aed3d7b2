"""Two-point scale smokes, one spec per operator family.

Each family runs its operators at a small and a big corpus size in one
JVM and checks every probe's result while measuring, so a fast wrong
answer cannot pass. Per point it reports wall seconds and the shuffle
bytes of the timed passes; at the big point a big-vs-small per-doc ratio
of ~1.0 means the family scales linearly in documents.

Run:  python scripts/scaling.py <family> [n_big] [n_small]
      family: ann lines lm minhash monitor pack scrub snapshot spans
              substr tokenizer
Prints one JSON line (SCALING.md records results by hand); appends
nothing.

The session is sized from the host: local[<cores>], 4x cores shuffle
partitions and a driver heap of HEAP_SHARE of physical memory. Shuffle
bytes come from Spark's in-process status store, so the UI stays off and
no port is read.

A spec is `spec(spark, n, small) -> entries`. `small` is None at the
small point; at the big point it is the entries the spec returned at the
small point. An entry key may hold "{}", which the driver fills with the
point's label ("small" or "big"); keys starting with "_" carry values
from the small point to the big one and are not printed.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

CORES = os.cpu_count() or 1
HEAP_SHARE = 0.25
TOKENS_PER_DOC = 40  # lm and tokenizer corpora
N_TRAIN = 100_000    # fixed training slice of lm and tokenizer
SHARED_IDS = 100_000  # cap on the ids compared across sizes (bounded collect)


def heap_mb() -> int:
    """HEAP_SHARE of physical memory (MemTotal in /proc/meminfo), in MiB."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return int(total * HEAP_SHARE / 2**20)


def session(app: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(CORES * 4))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", f"{heap_mb()}m")
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shuffle_bytes(spark, first: int = 0) -> tuple[int, int, int]:
    """(read, write) shuffle bytes summed over this application's stages
    numbered `first` and up, and the number after the last stage. Read
    from the status store the UI's REST API serves (it exists with the UI
    off). The store keeps only the last spark.ui.retainedStages stages,
    so a delta is taken over stage numbers, not over the running total;
    stage metrics arrive through the listener bus, so it is drained
    first."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    stages = jsc.statusStore().stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)
    read = write = end = 0
    for k in range(stages.size()):
        s = stages.apply(k)
        end = max(end, s.stageId() + 1)
        if s.stageId() >= first:
            read += s.shuffleReadBytes()
            write += s.shuffleWriteBytes()
    return read, write, end


def timed(spark, probe, warmup: bool = False, runs: int = 1):
    """Run probe() `runs` times; return (min wall seconds, shuffle read
    bytes, shuffle write bytes, last result), bytes summed over the timed
    runs. warmup=True is the bench methodology: GC, then one untimed run,
    so page-cache fill, JIT tiering and codegen stay out of the timing."""
    if warmup:
        spark._jvm.System.gc()
        probe()
    *_, first = shuffle_bytes(spark)
    walls = []
    for _ in range(runs):
        t0 = time.perf_counter()
        out = probe()
        walls.append(time.perf_counter() - t0)
    read, write, _ = shuffle_bytes(spark, first)
    return min(walls), read, write, out


def ids(spark, n: int):
    return spark.range(0, n, 1, CORES * 2)


def materialized(df, prefix: str):
    """Write df to a fresh temp parquet dir and read it back, so the timed
    passes measure the operator, not the synthesis."""
    path = tempfile.mkdtemp(prefix=f"{prefix}_")
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def hash_words(seed, n_words: int, space: int, tag: str = "w{}x", sep: str = " "):
    """n_words pseudo-words tag.format(j) + |xxhash64(seed, j)| % space."""
    return F.concat_ws(sep, *[
        F.concat(F.lit(tag.format(j)),
                 (F.abs(F.xxhash64(seed, F.lit(j))) % space).cast("string"))
        for j in range(n_words)])


def hash_token(i, t: int, space: int, tag: str):
    """Token t of doc i drawn from a hash space of `space` types."""
    return F.concat(F.lit(tag), (F.abs(F.xxhash64(i * TOKENS_PER_DOC + t))
                                 % space).cast("string"))


def per_doc(n: int, wall: float, write: int, digits: int = 1) -> dict:
    """The fields most probes report for a point of n docs."""
    return {"n_docs": n, "wall_sec": round(wall, 2),
            "docs_per_sec": int(n / wall),
            "shuffle_write_mb": round(write / 1e6, digits)}


def ratio(small: dict, big: dict, key: str = "wall_sec", per: str | None = "n_docs"):
    """Big-vs-small ratio of `key` per `per` (per=None: of `key` itself)."""
    b = big[key] / (big[per] if per else 1)
    s = small[key] / (small[per] if per else 1)
    return round(b / max(s, 1e-9), 3)


def ann(spark, n, small):
    """Similarity tier over deterministic pseudo-embeddings (64 hash lanes
    in [-1, 1]; 5M vectors are ~2.6 GB of float arrays):
      brute    brute_force_topk (exact; TakeOrderedAndProject - the linear
               scan whose per-vector cost must stay constant with scale)
      ivf_fit  ivf_index on a 2% sample (k-means fit + full assignment)
      ivf      ivf_topk at n_probe = n_lists/4 with the prebuilt index
               (the partition-prunable approximate path)
    plus brute-vs-ivf recall@10. Runs with shuffle partitions = cores."""
    from jsonschemaparse_spark.functions.similarity import (
        brute_force_topk,
        ivf_index,
        ivf_topk,
    )

    dim, n_lists, n_probe = 64, 16, 4
    i = F.col("id")
    vec = F.array(*[((F.abs(F.xxhash64(i, F.lit(d))) % 2000) / 1000.0 - 1.0)
                    for d in range(dim)])
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(CORES))
    try:
        emb = materialized(ids(spark, n).select(i.alias("vec_id"),
                                                vec.alias("embedding")),
                           f"ann_smoke_{n}")
        qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
        brute_s, _, _, exact = timed(
            spark, lambda: brute_force_topk(emb, qvec, k=10).collect())

        def fit():
            listed, centroids = ivf_index(emb, n_lists=n_lists,
                                          sample_fraction=0.02)
            # the documented production layout (ivf_index docstring): write
            # the assignment PARTITIONED BY _ivf_list so probes become
            # partition-pruned scans - an unmaterialized index re-runs the
            # k-means transform over the full corpus on every probe (first
            # smoke attempt measured 43 s/probe at 5M that way)
            path = tempfile.mkdtemp(prefix=f"ann_listed_{n}_")
            listed.write.mode("overwrite").partitionBy("_ivf_list").parquet(path)
            return spark.read.parquet(path), centroids

        fit_s, _, _, index = timed(spark, fit)
        ivf_s, _, _, approx = timed(spark, lambda: ivf_topk(
            emb, qvec, k=10, n_lists=n_lists, n_probe=n_probe,
            index=index).collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    exact, approx = {r["vec_id"] for r in exact}, {r["vec_id"] for r in approx}
    m = {
        "n_vectors": n,
        "brute_sec": round(brute_s, 2),
        "brute_vec_per_sec": int(n / brute_s),
        "ivf_fit_sec": round(fit_s, 2),
        "ivf_probe_sec": round(ivf_s, 2),
        "recall_at_10": round(len(exact & approx) / 10, 2),
    }
    out = {"{}": m}
    if small:
        out["brute_per_vec_ratio_big_vs_small"] = ratio(
            small["{}"], m, "brute_sec", "n_vectors")
    return out


def lines(spark, n, small):
    """Line-dedup tier (strip_boilerplate_lines). Corpus: multi-line docs
    (8 unique body lines each from a large token space) sharing 3
    boilerplate lines (header/nav/footer) that appear in every document -
    the exact shape the operator exists for. Per-doc wall and shuffle
    volume should stay ~constant."""
    from jsonschemaparse_spark.functions.dedup import strip_boilerplate_lines

    i = F.col("id")
    text = F.concat(
        F.lit("SITE HEADER NAVIGATION BAR\nSubscribe to our newsletter\n"),
        hash_words(i, 8, 1_000_000, tag="line{} token ", sep="\n"),
        F.lit("\nCopyright footer all rights reserved"),
    )
    docs = materialized(ids(spark, n).select(i.alias("doc_id"),
                                             text.alias("text")),
                        f"lines_smoke_{n}")

    def probe():
        stripped = strip_boilerplate_lines(docs, "doc_id", min_docs=1000)
        # verify-while-measuring: every doc loses exactly the 3 hot lines
        return stripped.select(
            F.count(F.lit(1)),
            F.sum((F.size(F.split("text", "\n")) == 8).cast("long")),
        ).first()

    wall, _, wr, (n_rows, n_clean) = timed(spark, probe)
    assert n_rows == n and n_clean == n, (n_rows, n_clean)
    m = {**per_doc(n, wall, wr),
         "shuffle_write_bytes_per_doc": round(wr / n, 1)}
    out = {"{}": m}
    if small:
        out["per_doc_ratio_big_vs_small"] = ratio(small["{}"], m)
    return out


def lm(spark, n, small):
    """Bigram-LM perplexity scoring. Corpus: docs of 40 tokens drawn from a
    ~50k-token hash-derived vocabulary (realistic type/token ratio - the
    r5 smoke-corpus lesson: a tiny vocab makes every bigram seen and the
    broadcast trivially small), with 10% of docs injected as high-OOV
    (tokens from a disjoint hash space) so the score separation is
    verifiable in-measure.

    The model is trained once, at the small point, on a FIXED N_TRAIN-doc
    slice (training cost reported separately - the production shape
    trains on a reference corpus, not the scored one). Checked in-measure,
    columnar: n_bigrams == 39 for every doc; every score finite (smoothing
    never yields NULL/inf for >=2-token docs); mean OOV-doc perplexity >
    mean in-vocab perplexity."""
    from jsonschemaparse_spark.functions.lm import (
        lm_perplexity,
        train_bigram_lm,
    )

    def corpus(n: int, oov_share: bool):
        i = F.col("id")
        # zipf-ish skew via a second, smaller space for half the positions
        # (frequent function-word analogs) so bigram counts vary
        # realistically
        oov = (i % 10 == 0) if oov_share else F.lit(False)
        words = [
            F.when(oov, hash_token(i, t, 50_000, "z"))
            .otherwise(hash_token(i, t, 1_000, "f") if t % 2 == 0
                       else hash_token(i, t, 50_000, "w"))
            for t in range(TOKENS_PER_DOC)
        ]
        return materialized(ids(spark, n).select(
            i.alias("doc_id"), F.concat_ws(" ", *words).alias("text")),
            f"lm_smoke_{n}")

    out = {}
    if small is None:
        train = corpus(N_TRAIN, oov_share=False)
        wall, _, _, model = timed(
            spark, lambda: train_bigram_lm(train, id_col="doc_id"))
        out["train"] = {"n_docs": N_TRAIN, "wall_sec": round(wall, 2),
                        "bigram_types": model.bigrams.count(),
                        "vocab": model.vocab_size}
        out["_model"] = model
    else:
        model = small["_model"]

    docs = corpus(n, oov_share=True)
    oov = F.col("doc_id") % 10 == 0
    wall, _, wr, (n_rows, n_bg_ok, n_finite, ppl_oov, ppl_in) = timed(
        spark, lambda: lm_perplexity(docs, model, "doc_id").select(
            F.count(F.lit(1)),
            F.sum((F.col("n_bigrams") == TOKENS_PER_DOC - 1).cast("long")),
            F.sum((~F.isnan("log2_ppl")
                   & F.col("log2_ppl").isNotNull()).cast("long")),
            F.avg(F.when(oov, F.col("log2_ppl"))),
            F.avg(F.when(~oov, F.col("log2_ppl"))),
        ).first())
    assert n_rows == n, n_rows
    assert n_bg_ok == n, (n_bg_ok, n)
    assert n_finite == n, (n_finite, n)
    assert ppl_oov > ppl_in, (ppl_oov, ppl_in)
    m = {**per_doc(n, wall, wr),
         "shuffle_write_bytes_per_doc": round(wr / n, 1),
         "log2ppl_oov_vs_in": [round(float(ppl_oov), 3), round(float(ppl_in), 3)]}
    out["{}"] = m
    if small:
        out["per_doc_ratio_big_vs_small"] = ratio(small["{}"], m)
    return out


def minhash(spark, n, small):
    """Dedup tier: minhash_near_duplicates, the (doc, H longs) shuffle
    story at data scale.

    Corpus: deterministic hash-token text (20-199 words/doc drawn from a
    100k-token space) plus 2% exact clones with shifted ids and ~0.2%
    empty docs. The token-space size matters: synthesize_webpages' 34-word
    bench vocabulary makes random-pair jaccard ~0.002, which at 500k docs
    already mints ~2M spurious LSH candidates (quadratic - the r5 first
    attempt ran for 18 min before being killed). Real web text is diverse;
    with a 100k token space random-pair jaccard ~ 0 and candidates are the
    clones plus the capped identical-empty-doc cluster, which is the regime
    the operator is designed for. hash_mode='fast' (xxhash64) + bucket cap
    is the documented at-scale configuration. A per-doc ratio of ~1.0 means
    the pipeline scales linearly in documents (the shuffle carries one
    (doc, H longs) row per doc either way)."""
    from jsonschemaparse_spark.functions.dedup import minhash_near_duplicates

    n_base = int(n * (1 - 0.02))
    n_clone = n - n_base
    i = F.col("id")
    n_words = (20 + F.abs(F.xxhash64(i, F.lit(3))) % 180).cast("int")
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_words),
            lambda j: F.concat(
                F.lit("w"),
                (F.abs(F.xxhash64(i, j)) % 100_000).cast("string"),
            ),
        ),
        " ",
    )
    text = F.when(F.abs(F.xxhash64(i, F.lit(9))) % 500 == 0,
                  F.lit("")).otherwise(text)
    base = ids(spark, n_base).select(i.alias("doc_id"), text.alias("text"))
    clones = base.filter(F.col("doc_id") < n_clone).select(
        (F.col("doc_id") + 100_000_000).alias("doc_id"), "text"
    )
    docs = materialized(base.unionByName(clones), f"minhash_smoke_{n}")
    # the at-scale configuration: xxhash64 + bucket cap (identical-doc
    # clusters - empty pages here - would otherwise go quadratic; the
    # capped buckets are named by minhash_bucket_overflow)
    wall, rd, wr, pairs = timed(spark, lambda: minhash_near_duplicates(
        docs, "doc_id", threshold=0.8, hash_mode="fast",
        max_bucket_size=100,
    ).count())
    m = {**per_doc(n, wall, wr), "pairs_found": pairs,
         "shuffle_read_mb": round(rd / 1e6, 1)}
    out = {"{}": m}
    if small:
        out["per_doc_ratio_big_vs_small"] = ratio(small["{}"], m)
        out["shuffle_write_bytes_per_doc"] = {
            label: round(p["shuffle_write_mb"] * 1e6 / p["n_docs"], 1)
            for label, p in (("small", small["{}"]), ("big", m))}
    return out


MONITOR_LANGS = ["en", "de", "fr", "es", "zh", "ru"]
MONITOR_SOURCES = ["crawl", "news", "wiki", "forum"]


def monitor(spark, n, small):
    """Monitoring family: quality_report (per-group fused-gate pass rates)
    and keep_rate_drift (crawl-over-crawl 2x2 chi2). The claim under test:
    the views' SHUFFLE is bounded by the group cardinality (one
    map-side-combined partial row per (task, group)), not the corpus - so
    per-doc shuffle bytes must FALL ~10x when the corpus grows 10x over a
    fixed group set.

    Corpus: docs over 24 (lang, source) groups; doc_id%7==0 rows are
    gate-failing (bullet lists) so pass rates are non-trivial; the 'new'
    version for drift drops every third doc and perturbs one lang's text
    so exactly that lang drifts. Checked in-measure: quality_report emits
    exactly the 24 groups, total n_docs == n; keep_rate_drift flags the
    perturbed lang and ONLY it (the perturbation flips a gate, not
    noise)."""
    from jsonschemaparse_spark.functions.integrity import keep_rate_drift
    from jsonschemaparse_spark.functions.text import (
        quality_flags,
        quality_report,
    )

    i = F.col("id")
    # no repeated phrases: Gopher's duplicated-n-gram char fraction
    # rejects templated repetition (the first cut repeated a 5-gram
    # three times and every doc failed the gate)
    good = F.concat(
        F.lit("A varied opening sentence with plenty of distinct "
              "words numbered "),
        i.cast("string"),
        F.lit(" should pass each gate comfortably. Subsequent prose "
              "continues differently, offering fresh vocabulary and "
              "genuine variety. Readers expect several complete "
              "thoughts before any closing remark appears. Final "
              "statements wrap things up politely today. Ten more "
              "plain words are added so the fifty word floor is "
              "cleared with a little room to spare. Good end!"),
    )
    bad = F.lit("- bullets\n- only\n- here")
    docs = materialized(ids(spark, n).select(
        i.alias("doc_id"),
        F.when(i % 7 == 0, bad).otherwise(good).alias("text"),
        F.element_at(F.array(*[F.lit(x) for x in MONITOR_LANGS]),
                     (i % 6 + 1).cast("int")).alias("lang"),
        # i%6 and i%4 share gcd 2 -> only 12 combos; divide first so
        # the two indices cycle independently (full 24 groups)
        F.element_at(F.array(*[F.lit(x) for x in MONITOR_SOURCES]),
                     (F.floor(i / 6) % 4 + 1).cast("int")).alias("source"),
    ), f"mon_smoke_{n}")

    rep_wall, _, rep_wr, rep = timed(spark,
                                     lambda: quality_report(docs).collect())
    assert len(rep) == len(MONITOR_LANGS) * len(MONITOR_SOURCES), len(rep)
    assert sum(r["n_docs"] for r in rep) == n

    # drift: new version drops every 3rd doc and breaks 'zh' docs
    old = quality_flags(docs).select("doc_id", "lang", "quality_keep")
    new_docs = docs.filter(F.col("doc_id") % 3 != 0).withColumn(
        "text",
        F.when(F.col("lang") == "zh", F.lit("- broken\n- bullets"))
        .otherwise(F.col("text")))
    new = quality_flags(new_docs).select("doc_id", "lang", "quality_keep")
    drift_wall, _, drift_wr, drift = timed(spark, lambda: keep_rate_drift(
        old, new, "quality_keep", ("lang",)).collect())
    flagged = sorted(r["lang"] for r in drift if r["drifted"])
    assert flagged == ["zh"], flagged

    m = {
        "n_docs": n,
        "report_wall_sec": round(rep_wall, 2),
        "report_docs_per_sec": int(n / rep_wall),
        "report_shuffle_bytes_per_doc": round(rep_wr / n, 3),
        "drift_wall_sec": round(drift_wall, 2),
        "drift_shuffle_bytes_per_doc": round(drift_wr / n, 3),
    }
    out = {"{}": m}
    if small:
        out["report_shuffle_per_doc_ratio"] = ratio(
            small["{}"], m, "report_shuffle_bytes_per_doc", per=None)
    return out


SEQ_LEN = 2048


def pack(spark, n, small):
    """Export tier: classify_quality, pack_sequences, latest_capture, each
    timed warm (GC, untimed warmup, min of 2; shuffle bytes cover both
    timed passes). Corpora are synthesized from the row id:
      * classifier: docs of 20 id-derived pseudo-words - every row computes
        20 md5 weights (the worst case: no short docs). Expect constant
        per-doc wall, ZERO shuffle (pure Project into a 1-row agg), and the
        keep-decision set on the shared id range identical at both sizes
        (the decision reads only the row's own text).
      * packing: (doc_id, n_tokens = id % 13). Expect per-doc shuffle
        ~constant (the window moves one narrow (id, count) row per doc)
        and the arithmetic invariants to hold: total_tokens ==
        sum(id % 13), last sequence == ceil(total / L) - 1.
      * latest_capture: n captures over n/10 urls, 10 rounds; the survivor
        of url u is deterministically the round-9 capture. Expect shuffle
        bounded by DISTINCT URLS (B/url ~constant, B/capture shrinking) -
        the map-side struct-max combine is the claim being measured."""
    from jsonschemaparse_spark.functions.classifier import classify_quality
    from jsonschemaparse_spark.functions.packing import pack_sequences
    from jsonschemaparse_spark.functions.web import latest_capture

    i = F.col("id")
    out = {}

    docs = materialized(ids(spark, n).select(
        i.alias("doc_id"), hash_words(i, 20, 50_000).alias("text")),
        f"pack_smoke_cls_{n}")
    scored = classify_quality(docs, threshold=0.0)
    wall, _, wr, (n_rows, n_keep) = timed(spark, lambda: scored.select(
        F.count(F.lit(1)),
        F.sum(F.col("classifier_keep").cast("long"))).first(),
        warmup=True, runs=2)
    assert n_rows == n
    out["classifier_{}"] = {**per_doc(n, wall, wr, 2), "n_keep": n_keep}
    # keep-set determinism on the id range both corpora share (the
    # decision reads only the row's own text, so it cannot depend on
    # corpus size)
    shared = small["_shared"] if small else min(n, SHARED_IDS)
    checksum = scored.filter(F.col("doc_id") < shared).select(F.sum(
        F.when(F.col("classifier_keep"), F.col("doc_id")).otherwise(0))
    ).first()[0]
    assert small is None or checksum == small["_keep_checksum"], \
        (checksum, small["_keep_checksum"])
    out.update(_shared=shared, _keep_checksum=checksum)

    # token counts are pure id arithmetic
    counts = ids(spark, n).select(i.alias("doc_id"),
                                  (i % 13).alias("n_tokens"))
    packed = pack_sequences(counts, "doc_id", "n_tokens", SEQ_LEN)
    wall, _, wr, (n_rows, total, max_end, last_seq) = timed(
        spark, lambda: packed.select(
            F.count(F.lit(1)), F.sum("n_tokens"),
            F.max(F.col("start_token") + F.col("n_tokens")),
            F.max("seq_last")).first(),
        warmup=True, runs=2)
    exp_total = 78 * (n // 13) + sum(range(n % 13))
    assert n_rows == n and total == exp_total == max_end, \
        (n_rows, total, exp_total, max_end)
    assert last_seq == (exp_total - 1) // SEQ_LEN
    out["pack_{}"] = {**per_doc(n, wall, wr, 2),
                      "shuffle_b_per_doc": round(wr / n, 1)}

    # 10 rounds over n//10 urls
    n_urls = n // 10
    caps = ids(spark, n).select(
        F.concat(F.lit("https://h"), ((i % n_urls) % 7).cast("string"),
                 F.lit(".test/p/"), (i % n_urls).cast("string")).alias("url"),
        (i / n_urls).cast("long").alias("warc_ts"),
        i.alias("event_id"))
    latest = latest_capture(caps, url_col="url", ts_col="warc_ts",
                            id_col="event_id")
    wall, _, wr, (n_out, min_ts, id_sum) = timed(spark, lambda: latest.select(
        F.count(F.lit(1)), F.min("warc_ts"), F.sum("event_id")).first(),
        warmup=True, runs=2)
    # survivor of url u is capture 9*n_urls + u (the round-9 row)
    exp_sum = 9 * n_urls * n_urls + n_urls * (n_urls - 1) // 2
    assert n_out == n_urls and min_ts == 9 and id_sum == exp_sum, \
        (n_out, min_ts, id_sum, exp_sum)
    out["capture_{}"] = {
        "n_captures": n, "n_urls": n_urls, "wall_sec": round(wall, 2),
        "captures_per_sec": int(n / wall),
        "shuffle_write_mb": round(wr / 1e6, 2),
        "shuffle_b_per_url": round(wr / n_urls, 1)}

    if small:
        for op, per in (("classifier", "n_docs"), ("pack", "n_docs"),
                        ("capture", "n_captures")):
            out[f"{op}_per_doc_ratio_big_over_small"] = ratio(
                small[op + "_{}"], out[op + "_{}"], per=per)
    return out


SAMPLE_FRACTIONS = {"en": 0.9, "de": 0.5, "fr": 0.25, "es": 1.0}


def scrub(spark, n, small):
    """Scrub/sampling tier: pii_flags + redact_pii, stratified_sample.

    Corpus: docs whose text embeds one email, one phone, one IP, and an
    SSN around unique filler (the worst case for the scrub: every doc has
    matches, so redaction rewrites every row). Expectations:
      * pii: per-doc wall ~constant, shuffle EXACTLY 0 bytes (pure Project
        feeding a 1-row agg... the agg moves a partial row per task,
        ~nothing);
      * sample: per-doc wall ~constant, zero shuffle, and the same ids
        kept at both sizes on the ids both corpora hold (the decision is
        per-key) - the determinism claim measured, not assumed.
    Both probes are timed warm (GC, untimed warmup, min of 2): the first
    cold pass on a fresh corpus conflates page-cache fill + JIT tiering +
    the host's throttle phases with engine cost - an un-warmed first cut
    of this smoke read per-doc ratio 2.03 at 10x; the warmed interleaved
    A/B adjudicated it to 0.85 (SCALING.md r6)."""
    from jsonschemaparse_spark.functions.pii import pii_flags, redact_pii
    from jsonschemaparse_spark.functions.sampling import stratified_sample

    i = F.col("id")
    text = F.concat(
        F.lit("Contact user"), i.cast("string"),
        F.lit("@example.com or +1 555-123-4567 from 10.2."),
        (i % 256).cast("string"),
        F.lit(".7 id 123-45-6789. "), hash_words(i, 20, 1_000_000),
    )
    lang = F.element_at(
        F.array(F.lit("en"), F.lit("de"), F.lit("fr"), F.lit("es"),
                F.lit("zh")),
        (i % 5 + 1).cast("int"))
    docs = materialized(ids(spark, n).select(
        i.alias("doc_id"), text.alias("text"), lang.alias("lang")),
        f"scrub_smoke_{n}")
    out = {}

    scrubbed = pii_flags(redact_pii(docs, out_col="red"))
    # verify-while-measuring: every doc has all 4 PII kinds and the
    # redaction removes every one of them from the rewritten text
    wall, _, wr, (n_rows, n_all4, n_left) = timed(spark, lambda: scrubbed.select(
        F.count(F.lit(1)),
        F.sum(((F.col("n_emails") == 1) & (F.col("n_phones") == 1)
               & (F.col("n_ipv4") == 1) & (F.col("n_ssn_ids") == 1))
              .cast("long")),
        F.sum((F.col("red").rlike("@example|555-123|123-45-6789"))
              .cast("long")),
    ).first(), warmup=True, runs=2)
    assert n_rows == n and n_all4 == n and n_left == 0, \
        (n_rows, n_all4, n_left)
    out["pii_{}"] = per_doc(n, wall, wr, 2)

    kept = stratified_sample(docs, SAMPLE_FRACTIONS, "lang", "doc_id",
                             seed=11, default_fraction=0.15)
    wall, _, wr, n_kept = timed(spark, kept.count, warmup=True, runs=2)
    out["sample_{}"] = {**per_doc(n, wall, wr, 2), "n_kept": n_kept}
    # determinism across corpus sizes: the kept subset of the ids shared
    # by both corpora must be IDENTICAL
    shared = small["_shared"] if small else min(n, SHARED_IDS)
    kept_ids = {r["doc_id"] for r in kept.filter(F.col("doc_id") < shared)
                .select("doc_id").collect()}
    out.update(_shared=shared, _kept_ids=kept_ids)
    if small:
        assert kept_ids == small["_kept_ids"], "kept-set drift across corpus sizes"
        out["kept_set_identical_on_shared_keys"] = True
        for fam in ("pii", "sample"):
            out[f"{fam}_per_doc_ratio_big_vs_small"] = ratio(
                small[fam + "_{}"], out[fam + "_{}"])
    return out


def snapshot(spark, n, small):
    """Incremental snapshot dedup (functions/snapshot.py): Bloom-routed
    batch-vs-snapshot dedup. Corpus: a "seen" snapshot of n docs (unique
    ~25-token texts) and a new batch of n/5 docs, half exact re-crawls of
    seen texts, half fresh. Probes, warm, shuffle per timed pass:
      * build   - one-time bitmap build over the snapshot keys (the
                  amortized per-snapshot-publish cost; shuffle is the
                  (word, mask) agg, bounded by k*N narrow rows map-combined)
      * route   - incremental_dedup with the PREBUILT bloom (the per-batch
                  operational path): expect shuffle ~ positives only - the
                  batch text of definite-new rows never moves
      * exact   - mode='exact' plain anti-join: the whole batch (text
                  included) plus all snapshot keys shuffle
    Checked in-measure: every route count == exact count and equals the
    constructed expectation (fresh half survives, re-crawl half drops)."""
    from jsonschemaparse_spark.functions.snapshot import (
        build_key_bloom,
        incremental_dedup,
        probe_key,
    )

    b = n // 5
    i = F.col("id")
    # ~25 hash-derived tokens from a ~100k token space (realistic vocab -
    # SCALING.md r5 smoke-corpus lesson)
    seen = materialized(ids(spark, n).select(
        i.alias("doc_id"), hash_words(i, 25, 100_000, tag="t{}_").alias("text")),
        f"snap_seen_{n}")
    # even batch rows re-crawl seen texts (content seed id/2 % n); odd
    # rows are fresh (seed outside the seen range)
    seed = F.when(i % 2 == 0, (i / 2).cast("long") % n).otherwise(i + 10 * n)
    new = materialized(ids(spark, b).select(
        (i + n).alias("doc_id"),
        hash_words(seed, 25, 100_000, tag="t{}_").alias("text")),
        f"snap_new_{n}")
    # constructed truth: odd rows (fresh) survive - their hash-token texts
    # cannot collide with seen's (disjoint seed ranges)
    n_expected = b // 2

    # the reuse contract: a prebuilt bloom is keyed on probe_key
    seen_keys = seen.select(probe_key(F.col("text")).alias("_pk"))
    wall, _, wr, bloom = timed(spark, lambda: build_key_bloom(
        seen_keys, "_pk", expected_items=n), warmup=True)
    out = {"build_{}": {
        "n_seen": n, "wall_sec": round(wall, 2),
        "keys_per_sec": int(n / wall),
        "bitmap_mb": round(bloom.n_bits / 8 / 1e6, 2),
        "k": bloom.n_hashes,
        "shuffle_write_mb": round(wr / 1e6, 2),
    }}

    counts = {}
    for name, probe in (
        # verify_bloom=False: the one-time sample guard is not part of the
        # per-batch operational path being measured
        ("route", lambda: incremental_dedup(
            new, seen, bloom=bloom, verify_bloom=False).count()),
        # the full-scale config: snapshot keys are ALSO bloom-prefiltered
        # before the anti-join
        ("route_pf", lambda: incremental_dedup(
            new, seen, bloom=bloom, prefilter_seen=True,
            verify_bloom=False).count()),
        # the no-bloom alternative
        ("exact", lambda: incremental_dedup(new, seen, mode="exact").count()),
    ):
        wall, _, wr, counts[name] = timed(spark, probe, warmup=True, runs=2)
        out[name + "_{}"] = {
            "n_batch": b, "n_new_docs": counts[name],
            "wall_sec": round(wall, 2),
            "docs_per_sec": int(b / wall),
            "shuffle_write_mb": round(wr / 2 / 1e6, 2),
        }
    assert counts["route"] == counts["route_pf"] == counts["exact"] == n_expected, \
        (counts, n_expected)
    return out


SPAN_INTRO = ("Shared intro sentence one. Common second point here. "
              "Common third point closes.")


def spans(spark, n, small):
    """C4 span dedup (remove_duplicate_spans). Corpus: 90% of docs share a
    3-sentence boilerplate intro (ONE span duplicated corpus-wide - the
    operator's reason to exist, and the skew worst case: a single span key
    carrying ~N occurrences) followed by unique body sentences; 10% are
    fully unique (byte-identity controls). Checked in-measure, columnar:
    untouched (fully-unique) docs round-trip byte-identically; every
    non-first intro doc loses EXACTLY the intro (length arithmetic); the
    single global first occurrence keeps it."""
    from jsonschemaparse_spark.functions.dedup import remove_duplicate_spans

    i = F.col("id")
    # body tokens carry the row id itself: globally unique by
    # construction, so NO body span can collide across docs (a
    # hashed-token space produced a birthday-collision tail that broke
    # the exact length check at 5k docs already)
    body = F.concat_ws(" ", *[
        F.concat(F.lit(f"Body sentence {j} token "), i.cast("string"), F.lit("."))
        for j in range(6)])
    text = F.when(i % 10 != 0, F.concat(F.lit(SPAN_INTRO + " "), body)) \
        .otherwise(body)
    docs = materialized(ids(spark, n).select(i.alias("doc_id"),
                                             text.alias("text")),
                        f"spans_smoke_{n}")

    def probe():
        out = remove_duplicate_spans(docs, "doc_id")
        # doc 1 is the global first intro occurrence (min (doc, pos));
        # every OTHER intro doc must lose exactly the intro's three chunks
        # = len(SPAN_INTRO) chars (the following separator space belongs
        # to the NEXT chunk and survives); unique docs round-trip
        # byte-identically
        intro_doc = F.col("doc_id") % 10 != 0
        first_doc = F.col("doc_id") == 1
        expected_len = F.when(
            intro_doc & ~first_doc,
            F.length("orig") - len(SPAN_INTRO)
        ).otherwise(F.length("orig"))
        joined = out.alias("o").join(
            docs.select("doc_id", F.col("text").alias("orig")), "doc_id")
        return joined.select(
            F.count(F.lit(1)),
            F.sum((F.length("text") == expected_len).cast("long")),
            F.sum((~intro_doc & (F.col("text") == F.col("orig")))
                  .cast("long")),
        ).first()

    wall, _, wr, (n_rows, n_len_ok, n_unique_identical) = timed(spark, probe)
    assert n_rows == n, n_rows
    assert n_len_ok == n, (n_len_ok, n)
    assert n_unique_identical == n // 10, n_unique_identical
    m = {**per_doc(n, wall, wr),
         "shuffle_write_bytes_per_doc": round(wr / n, 1)}
    out = {"{}": m}
    if small:
        out["per_doc_ratio_big_vs_small"] = ratio(small["{}"], m)
    return out


SUBSTR_INTRO = ("boilerplate navigation header menu about contact privacy "
                "terms subscribe newsletter follow twitter facebook linkedin "
                "rss sitemap copyright reserved login register")  # 20 tokens
SUBSTR_K = 20


def substr(spark, n, small):
    """Exact substring dedup (remove_duplicate_substrings): the spans
    protocol one granularity down (token windows instead of sentence
    spans). Corpus: 90% of docs share a 20-token boilerplate intro (ONE
    window hash duplicated corpus-wide - the skew worst case: the firsts
    join-back key carries ~0.9N occurrences) followed by 8 body tokens that
    embed the row id (globally unique, so no body window can collide).
    min_tokens=20 -> exactly one duplicated window per intro doc at pos 0.
    Checked in-measure, columnar: unique docs round-trip byte-identically;
    every non-first intro doc rebuilds to exactly its body (prefix-strip
    arithmetic on the original string); the single global first
    occurrence (doc 1) keeps its intro."""
    from jsonschemaparse_spark.functions.dedup import (
        remove_duplicate_substrings,
    )

    assert len(SUBSTR_INTRO.split()) == SUBSTR_K
    i = F.col("id")
    body = F.concat_ws(" ", *[F.concat(F.lit(f"body{j}tok"), i.cast("string"))
                              for j in range(8)])
    text = F.when(i % 10 != 0, F.concat(F.lit(SUBSTR_INTRO + " "), body)) \
        .otherwise(body)
    docs = materialized(ids(spark, n).select(i.alias("doc_id"),
                                             text.alias("text")),
                        f"substr_smoke_{n}")

    def probe():
        out = remove_duplicate_substrings(docs, "doc_id", min_tokens=SUBSTR_K)
        intro_doc = F.col("doc_id") % 10 != 0
        first_doc = F.col("doc_id") == 1
        # victims rebuild to exactly the body = the original minus the
        # intro prefix and its separator space
        expected = F.when(
            intro_doc & ~first_doc,
            F.substring(F.col("orig"), len(SUBSTR_INTRO) + 2, 1 << 30),
        ).otherwise(F.col("orig"))
        joined = out.alias("o").join(
            docs.select("doc_id", F.col("text").alias("orig")), "doc_id")
        return joined.select(
            F.count(F.lit(1)),
            F.sum((F.col("text") == expected).cast("long")),
            F.sum((~intro_doc & (F.col("text") == F.col("orig")))
                  .cast("long")),
        ).first()

    wall, _, wr, (n_rows, n_ok, n_unique_identical) = timed(spark, probe)
    assert n_rows == n, n_rows
    assert n_ok == n, (n_ok, n)
    assert n_unique_identical == n // 10, n_unique_identical
    m = {**per_doc(n, wall, wr),
         "shuffle_write_bytes_per_doc": round(wr / n, 1)}
    out = {"{}": m}
    if small:
        out["per_doc_ratio_big_vs_small"] = ratio(small["{}"], m)
    return out


PHRASE = "planted phrasemark"


def tokenizer(spark, n, small):
    """Retrieval/tokenizer family: BPE encoding, and inverted-index build +
    phrase search. Corpus: docs of 40 tokens from a hash-derived
    vocabulary with a zipf-ish split (half the positions from a small
    frequent space - the r5 smoke-corpus lesson), plus a known two-token
    phrase planted in docs where doc_id % 1000 == 7 so phrase recall is
    verifiable in-measure. The BPE model is trained once, at the small
    point, on a fixed N_TRAIN-doc slice (the published-artifact shape).
    Checked in-measure, columnar: BPE decode round-trips the normalized
    text for every doc (the byte-identity control the line/span smokes
    use); bpe_encode is ZERO shuffle (pure map); phrase search returns
    exactly the planted docs; index build shuffle B/doc ~constant."""
    from jsonschemaparse_spark.functions.dedup import normalized_text
    from jsonschemaparse_spark.functions.index import (
        build_inverted_index,
        search_phrase,
    )
    from jsonschemaparse_spark.functions.tokenizer import (
        bpe_decode_col,
        bpe_encode,
        train_bpe,
    )

    def corpus(n: int):
        i = F.col("id")
        words = [
            hash_token(i, t, 1_000, "f") if t % 2 == 0
            else hash_token(i, t, 50_000, "w")
            for t in range(TOKENS_PER_DOC - 2)
        ]
        planted = F.when(i % 1000 == 7, F.lit(PHRASE)).otherwise(F.concat_ws(
            " ", hash_token(i, 97, 50_000, "w"), hash_token(i, 98, 50_000, "w")))
        return materialized(ids(spark, n).select(
            i.alias("doc_id"),
            F.concat_ws(" ", *(words + [planted])).alias("text"),
        ), f"tok_smoke_{n}")

    out = {}
    if small is None:
        train = corpus(N_TRAIN)
        wall, _, _, model = timed(spark, lambda: train_bpe(
            train, n_merges=500, min_count=2, max_words=200_000))
        out["train"] = {"n_docs": N_TRAIN,
                        "wall_sec": round(wall, 2),
                        "n_merges": len(model.merges),
                        "n_dropped_words": model.n_dropped_words}
        out["_model"] = model
    else:
        model = small["_model"]

    docs = corpus(n)
    # BPE encode: zero-shuffle map + in-measure round-trip
    bpe_wall, _, bpe_shuffle, (n_rows, n_rt) = timed(
        spark, lambda: bpe_encode(docs, model).select(
            F.count(F.lit(1)),
            F.sum((bpe_decode_col(F.col("bpe_tokens"))
                   == F.coalesce(normalized_text(F.col("text")), F.lit(""))
                   ).cast("long")),
        ).first())
    assert n_rows == n, n_rows
    assert n_rt == n, (n_rt, n)
    # zero-shuffle is a CONTRACT, not a statistic (r6 review): tolerate
    # only broadcast bookkeeping
    assert bpe_shuffle < 1_000_000, bpe_shuffle

    # index BUILD, materialized: count+sum action over the full postings -
    # without it, Catalyst pushes the search term filter below the
    # aggregate and only the phrase's tokens are ever aggregated; good for
    # ad-hoc search, but the smoke must price the build
    def build():
        idx = build_inverted_index(docs)  # uncapped: no overflow stage
        return idx, idx.postings.select(F.count(F.lit(1)), F.sum("n")).first()

    idx_wall, _, idx_wr, (idx, (n_postings, n_positions)) = timed(spark, build)
    assert n_positions == n * TOKENS_PER_DOC, n_positions

    # phrase search on the UN-materialized index: measures the pushdown
    # property (only the phrase's postings aggregate)
    search_wall, _, _, (n_hits, bad_docs) = timed(
        spark, lambda: search_phrase(idx, PHRASE).select(
            F.count(F.lit(1)),
            F.sum((F.col("doc") % 1000 != 7).cast("long")),
        ).first())
    expected = len(range(7, n, 1000))
    assert n_hits == expected, (n_hits, expected)
    assert bad_docs == 0, bad_docs

    m = {
        "n_docs": n,
        "bpe_wall_sec": round(bpe_wall, 2),
        "bpe_docs_per_sec": int(n / bpe_wall),
        "bpe_shuffle_write_bytes": int(bpe_shuffle),
        "index_wall_sec": round(idx_wall, 2),
        "index_docs_per_sec": int(n / idx_wall),
        "index_shuffle_write_bytes_per_doc": round(idx_wr / n, 1),
        "n_postings": int(n_postings),
        "search_wall_sec": round(search_wall, 2),
        "phrase_hits": int(n_hits),
    }
    out["{}"] = m
    if small:
        out["bpe_per_doc_ratio_big_vs_small"] = ratio(
            small["{}"], m, "bpe_wall_sec")
        out["index_per_doc_ratio_big_vs_small"] = ratio(
            small["{}"], m, "index_wall_sec")
    return out


FAMILIES = {f.__name__: f for f in (ann, lines, lm, minhash, monitor, pack,
                                    scrub, snapshot, spans, substr, tokenizer)}


def run(spark, family: str, n_big: int, n_small: int) -> dict:
    """One family at n_small, then n_big; returns the printed result."""
    spec, result, small = FAMILIES[family], {}, None
    for label, n in (("small", n_small), ("big", n_big)):
        entries = spec(spark, n, small)
        result.update((k.format(label), v) for k, v in entries.items()
                      if not k.startswith("_"))
        small = entries
    return result


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in FAMILIES:
        sys.exit(__doc__)
    family = sys.argv[1]
    n_big = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000_000
    n_small = int(sys.argv[3]) if len(sys.argv) > 3 else 500_000
    spark = session(f"scaling-{family}")
    print(json.dumps(run(spark, family, n_big, n_small)))
    spark.stop()


if __name__ == "__main__":
    main()
