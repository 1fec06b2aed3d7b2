"""Paired, interleaved A/B of two source trees over named declared queries.

Usage:
  python scripts/ab.py TREE_A TREE_B QUERY [QUERY ...] --sf SF_DIR
                       [--cores N]

TREE_A and TREE_B are two checkouts of this repo (e.g. `git archive`
exports of two commits); SF_DIR holds the parquet tables the entries
read (documents.parquet, ...). One worker process per tree imports that
tree's `__spark_entry__` and package and keeps one local Spark session
warm: it runs every named `queries()` entry once untimed, then serves
timed runs. A timed run builds the entry's DataFrame and collects it.
Each of 10 pairs times every query on both workers, A first
on even pairs and B first on odd ones, so a slow host phase lands on
both sides of a pair. Per query it prints A's and B's median and
quartiles (seconds) and the share of pairs A won (ran faster).
"""

from __future__ import annotations

import argparse
import os
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

RESULT = "@ab "  # prefix of the worker's result lines on stdout
PAIRS = 10


def serve(sf: str, cores: int) -> None:
    """Worker loop: read query names from stdin, answer with seconds."""
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("ab")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    for line in sys.stdin:
        t0 = time.perf_counter()
        qs[line.strip()](spark, sf).collect()
        print(f"{RESULT}{time.perf_counter() - t0:.6f}", flush=True)
    spark.stop()


class Worker:
    def __init__(self, tree: str, sf: str, cores: int):
        self.tree = tree
        workdir = tempfile.mkdtemp(prefix="ab_")  # own spark-warehouse
        self.log = Path(workdir) / "worker.log"
        self.log_file = self.log.open("w")
        # PYTHONPATH, not sys.path: Spark's Python workers inherit it too
        env = dict(os.environ, PYTHONPATH=os.pathsep.join(
            filter(None, [tree, os.environ.get("PYTHONPATH")])))
        self.proc = subprocess.Popen(
            [sys.executable, str(Path(__file__).resolve()), "--serve",
             "--sf", sf, "--cores", str(cores)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log_file, text=True, cwd=workdir, env=env)

    def run(self, query: str) -> float:
        self.proc.stdin.write(query + "\n")
        self.proc.stdin.flush()
        for line in self.proc.stdout:
            if line.startswith(RESULT):
                return float(line[len(RESULT):])
        raise RuntimeError(f"worker for {self.tree} died; see {self.log}")

    def close(self) -> None:
        self.proc.stdin.close()  # the worker's loop ends at EOF
        self.proc.wait()
        self.log_file.close()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("trees", nargs="*", help="TREE_A TREE_B QUERY [QUERY ...]")
    ap.add_argument("--sf", required=True, help="scale-factor data dir")
    ap.add_argument("--cores", type=int,
                    default=max((os.cpu_count() or 2) // 2, 1))
    ap.add_argument("--serve", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.serve:
        serve(args.sf, args.cores)
        return
    if len(args.trees) < 3:
        ap.error("need TREE_A TREE_B and at least one QUERY")
    tree_a, tree_b, *queries = args.trees
    # workers run in temp dirs, so relative paths must be resolved here
    sf = str(Path(args.sf).resolve())
    a, b = (Worker(str(Path(t).resolve()), sf, args.cores)
            for t in (tree_a, tree_b))
    try:
        for q in queries:  # warm-up: untimed, on both sides
            a.run(q)
            b.run(q)
        times = {(w, q): [] for w in (a, b) for q in queries}
        for i in range(PAIRS):
            for q in queries:
                for w in ((a, b) if i % 2 == 0 else (b, a)):
                    times[w, q].append(w.run(q))
    finally:
        a.close()
        b.close()

    print(f"A = {tree_a}\nB = {tree_b}\n{PAIRS} pairs, sf {sf}, "
          f"local[{args.cores}] per worker; seconds: median [q1, q3]")
    for q in queries:
        ta, tb = times[a, q], times[b, q]
        qa, qb = (statistics.quantiles(t, n=4, method="inclusive")
                  for t in (ta, tb))
        won = sum(x < y for x, y in zip(ta, tb)) / len(ta)
        print(f"{q:24s} A {qa[1]:.3f} [{qa[0]:.3f}, {qa[2]:.3f}]  "
              f"B {qb[1]:.3f} [{qb[0]:.3f}, {qb[2]:.3f}]  "
              f"A won {won:.0%} of pairs")


if __name__ == "__main__":
    main()
