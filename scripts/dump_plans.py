"""Dump formatted physical plans, in one of two modes.

  python scripts/dump_plans.py
      Regenerate PLANS.md: the headline pipelines' plans with scale
      commentary. Run after plan-affecting changes.

  python scripts/dump_plans.py --tag TAG [--tree DIR] [--out DIR]
                               [QUERY ...]
      Write explain('formatted') of the named __spark_entry__.queries()
      entries (default: all of them) at SF, imported from the tree DIR
      (default: this repo), to OUT/<query>_<TAG>.txt (default OUT:
      this repo's plans/). What differs between processes is masked
      before writing: expression ids (#n), plan-node counters
      (plan_id=n), RDD ids, Observation UUIDs, the tree and working
      directory paths and lambda variable numbers (x_n). Dump two trees
      under one tag into two OUT directories and `diff -r` them to show
      a change leaves plans alone. Run with PYTHONHASHSEED=0, so
      IN-lists built from Python sets print in one order, and dump one
      tree at a time: webpages_flagship writes a fixed temp path.
"""

from __future__ import annotations

import argparse
import io
import os
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

SF = "/root/testdata/sf0.01"


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# (pattern, replacement) pairs that mask what differs between processes
MASKS = [
    (re.compile(r"#\d+"), "#n"),
    (re.compile(r"plan_id=\d+"), "plan_id=n"),
    (re.compile(r"RDD\[\d+\]"), "RDD[n]"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
     "<uuid>"),
    (re.compile(r"\bx_\d+\b"), "x_n"),
]


def masked(text: str, tree: Path) -> str:
    for path in sorted({str(tree), os.getcwd()}, key=len, reverse=True):
        text = text.replace(path, "<tree>")
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text


def plan_of(df) -> str:
    # keep the operator tree + the first detail blocks; truncate huge exprs
    lines = []
    for line in plan_text(df).splitlines():
        lines.append(line if len(line) < 400 else line[:400] + " …")
    return "\n".join(lines[:70])


def session():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def dump_queries(tag: str, tree: Path, out_dir: Path,
                 names: list[str]) -> None:
    sys.path.insert(0, str(tree))
    # entries that run Python UDFs while building need the tree on the
    # Spark Python workers' path too; they inherit this environment
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [str(tree), os.environ.get("PYTHONPATH")]))
    import __spark_entry__ as entry

    out_dir.mkdir(parents=True, exist_ok=True)
    spark = session()
    qs = entry.queries()
    for name in names or list(qs):
        if name not in qs:
            print(f"skip {name}: not in queries()")
            continue
        try:
            text = masked(plan_text(qs[name](spark, SF)), tree)
        except Exception as e:  # noqa: BLE001
            print(f"FAILED {name}: {type(e).__name__}: {e}")
            continue
        (out_dir / f"{name}_{tag}.txt").write_text(text)
        print(f"wrote {name}_{tag}.txt")
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser(description="Dump formatted physical plans.")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--tag", help="dump named queries() entries, not PLANS.md")
    ap.add_argument("--tree", type=Path, default=REPO)
    ap.add_argument("--out", type=Path, default=REPO / "plans")
    args = ap.parse_args()
    if args.tag:
        dump_queries(args.tag, args.tree.resolve(), args.out, args.queries)
        return
    if args.queries:
        ap.error("query names need --tag")
    write_plans_md()


def write_plans_md() -> None:
    sys.path.insert(0, str(REPO))
    from pyspark.sql import functions as F

    spark = session()

    import __spark_entry__ as entry
    from jsonschemaparse_spark.functions.dedup import minhash_candidates
    from jsonschemaparse_spark.functions.integrity import referential_violations
    from jsonschemaparse_spark.functions.similarity import brute_force_topk
    from jsonschemaparse_spark.plans import validate_dataframe

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = ["# PLANS — physical-plan evidence for the headline pipelines",
           "",
           "Generated by scripts/dump_plans.py at sf0.01 (plans are scale-",
           "invariant in shape). Annotations call out the properties the",
           "100-TB design relies on.", ""]

    res = validate_dataframe(docs, entry.DOC_RULES, key_cols=["doc_id"])
    out += [
        "## 1. Single-pass validation (flagship)",
        "",
        "Expected: Scan -> one WholeStageCodegen Project. NO Exchange, no",
        "Python. The row-struct wrapper collapses to bare columns",
        "(SimplifyExtractValueOps); enum is an InSet probe.",
        "",
        "```", plan_of(res.annotated), "```", "",
    ]

    verd = res.verdicts()
    out += [
        "## 2. Per-partition verdicts",
        "",
        "Grouping key IS spark_partition_id, so the hash aggregate's",
        "partial phase already produces one row per partition; the final",
        "exchange moves one row per partition, not per input row.",
        "",
        "```", plan_of(verd), "```", "",
    ]

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    customer = spark.read.parquet(f"{SF}/customer.parquet")
    ref = referential_violations(orders, "o_custkey", customer, "c_custkey")
    out += [
        "## 3. Referential integrity (anti-join)",
        "",
        "Expected: BroadcastHashJoin LeftAnti — the dimension-sized parent",
        "broadcasts; the fact side streams with zero shuffle.",
        "",
        "```", plan_of(ref), "```", "",
    ]

    cands = minhash_candidates(docs, "doc_id")
    out += [
        "## 4. MinHash LSH candidates",
        "",
        "Signature computed once per doc behind a repartition barrier (the",
        "exchange carries id+text); band join keys on (band_id, band_hash)",
        "— high-cardinality, well-spread shuffle; AQE handles residual skew.",
        "",
        "```", plan_of(cands), "```", "",
    ]

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    top = brute_force_topk(emb, q, k=10)
    out += [
        "## 5. ANN brute-force top-k",
        "",
        "Expected: TakeOrderedAndProject — per-partition top-k then driver",
        "merge; no global sort, no full shuffle.",
        "",
        "```", plan_of(top), "```", "",
    ]

    from jsonschemaparse_spark.functions.dedup import simhash
    from jsonschemaparse_spark.plans import validate_json_column

    sh = simhash(docs, "doc_id")
    out += [
        "## 6. SimHash fingerprints (round 2: pure expression)",
        "",
        "Expected: Scan -> one WholeStageCodegen Project, no Python node —",
        "the 60-bit vote accumulator is a single array aggregate inside",
        "codegen (was a per-row mapInPandas loop in r1).",
        "",
        "```", plan_of(sh), "```", "",
    ]

    ev = spark.read.parquet(f"{SF}/events.parquet")
    hybrid = validate_json_column(ev, "props", entry.EVENT_PROPS_RULES,
                                  key_cols=["event_id"])
    out += [
        "## 7. Hybrid JSON validation (round 2: auto-routed)",
        "",
        "Expected: from_json + compiled kernels inside codegen produce the",
        "verdict and a needs-python flag; ONE ArrowEvalPython/mapInPandas",
        "stage passes clean rows through and re-evaluates only flagged rows",
        "(exact report parity at ~typed-path speed).",
        "",
        "```", plan_of(hybrid.annotated), "```", "",
    ]

    from jsonschemaparse_spark.functions.integrity import ks_drift  # noqa: F401
    from jsonschemaparse_spark.multimodal import (
        decoded_dims,
        resize_images,
        synthesize_bmp_media,
    )

    media = resize_images(synthesize_bmp_media(spark, 100), 16, 16, use_codec=True)
    out += [
        "## 8. Media codec pipeline (round 3: real BMP decode/resize)",
        "",
        "Expected: Range -> chained ArrowEvalPython/mapInPandas stages with",
        "NO Exchange between them — synthesis, resize and header-read are",
        "all 1:1 row maps, so the three Python stages pipeline inside one",
        "task per partition; partitioning set at the Range source.",
        "",
        "```", plan_of(decoded_dims(media)), "```", "",
        "## 9. ks_drift (round 3: two driver actions)",
        "",
        "Not a single DataFrame (statistic math runs on the driver over",
        "(side, bucket, count) triples) — evidence is the job-count test",
        "tests/test_functions.py::test_ks_drift_two_jobs_and_bounds_param:",
        "one union'd min/max agg + one side-tagged histogram agg, shuffle",
        "payload constant-sized regardless of table size; bounds= drops to",
        "a single scan per side.",
        "",
    ]

    (REPO / "PLANS.md").write_text("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
