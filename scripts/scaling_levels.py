"""N-vs-4N scaling efficiency of the webpages validation job (north rule:
>= 0.8 from N to 4N).

Run:  python scripts/scaling_levels.py <local|cluster> [n_pages]
Prints one JSON line; appends nothing (SCALING.md is curated by hand).

Both modes run the same protocol on the same materialized input:
  1. synthesize n_pages webpages once -> parquet on tmpfs (a disk-backed
     /tmp let disk I/O variance drown the signal; /dev/shm removes the
     storage variable entirely)
  2. each level runs in its own subprocess = fresh JVM, no JIT bleed:
     untimed passes (JIT + codegen + page cache), then one timed pass of
     the single-pass rules validation -> per-partition verdicts
  3. the levels are interleaved, 4N first, so noisy-neighbour VM variance
     hits both levels equally; per level the median docs/sec is reported
  4. efficiency = (docs/sec at 4N / docs/sec at N) / 4

  local    local[8] vs local[32] in one JVM: the single-host stand-in for
           the two-cluster-size run (it scales threads per memory system,
           not executors; see scaling_multijvm.py for the per-box protocol)
  cluster  local-cluster[2,4,2500] vs local-cluster[8,4,2500]: REAL
           executor JVMs (separate processes, own heaps) against an
           in-process master - the closest single-host form of "a
           multi-executor cluster at N and 4N executors"
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

from scaling import heap_mb, session  # noqa: E402

_HEAP = min(20 * 1024, heap_mb())

# per mode: default size, rounds, untimed passes per child, the (N, 4N)
# levels as (result key, master, cores, identity fields) and the child
# session conf (shuffle partitions = the level's cores on top)
MODES = {
    "local": {
        "n_pages": 500_000, "rounds": 4, "untimed": 1,
        "levels": (("local8", "local[8]", 8, {"cpus": 8}),
                   ("local32", "local[32]", 32, {"cpus": 32})),
        "speedup": "speedup_8_to_32",
        "about": {
            "job": "single-pass rules validation -> per-partition verdicts",
            "input": "materialized parquet (shared across levels)",
            "methodology": "4 interleaved fresh-JVM invocations per level, "
                           "warmup pass + timed pass each, median docs/sec",
        },
        "conf": {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.files.maxPartitionBytes": "32m",
            "spark.driver.memory": f"{_HEAP}m",
            "spark.driver.extraJavaOptions":
                f"-XX:+UseParallelGC -Xms{_HEAP}m -XX:+AlwaysPreTouch",
        },
    },
    "cluster": {
        "n_pages": 2_000_000, "rounds": 3, "untimed": 2,
        "levels": (("N_executors", "local-cluster[2,4,2500]", 8,
                    {"executors": 2, "cores_total": 8}),
                   ("4N_executors", "local-cluster[8,4,2500]", 32,
                    {"executors": 8, "cores_total": 32})),
        "speedup": "speedup_N_to_4N",
        "about": {"mode": "local-cluster (separate executor JVMs)"},
        "conf": {
            "spark.sql.files.maxPartitionBytes": "16m",
            "spark.executor.memory": "2g",
            "spark.executor.extraJavaOptions": "-XX:+UseParallelGC",
            "spark.driver.memory": "4g",
            # local-cluster executors register with distinct hosts; without
            # this, the scheduler WAITS spark.locality.wait (3s default) per
            # level before giving a task to a "remote" executor - at 8
            # executors that serializes into the anti-scaling r1 measured
            "spark.locality.wait": "0s",
        },
    },
}


def generate(path: str, n_pages: str) -> None:
    """Child: synthesize the shared webpages input."""
    from jsonschemaparse_spark.sources import synthesize_webpages

    spark = session("scaling-levels-input")
    synthesize_webpages(spark, int(n_pages), partitions=64) \
        .write.mode("overwrite").parquet(path)
    spark.stop()


def level(master: str, path: str, untimed: str, conf: str) -> None:
    """Child: untimed passes, then one timed validation pass at `master`."""
    import time

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry
    from jsonschemaparse_spark.plans import validate_dataframe

    builder = SparkSession.builder.master(master).config("spark.ui.enabled", "false")
    for key, value in json.loads(conf).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def one_pass():
        df = spark.read.parquet(path)
        res = validate_dataframe(df, entry.WEBPAGE_RULES, key_cols=["url"])
        return sum(r["n_rows"] for r in res.verdicts().collect())

    for _ in range(int(untimed)):
        n = one_pass()
    t0 = time.perf_counter()
    one_pass()
    wall = time.perf_counter() - t0
    print(json.dumps({"wall_sec": round(wall, 3), "n_rows": n,
                      "docs_per_sec": round(n / wall, 1)}))
    spark.stop()


def _spawn(fn: str, *args) -> dict | None:
    """Run fn(*args) of this module in a fresh python (and so a fresh JVM);
    return the last JSON line it prints, if any."""
    src = (f"import sys; sys.path.insert(0, {str(HERE)!r}); "
           f"import scaling_levels; scaling_levels.{fn}(*sys.argv[1:])")
    out = subprocess.run([sys.executable, "-c", src, *map(str, args)],
                         capture_output=True, text=True, timeout=1200)
    if out.returncode:
        raise RuntimeError(out.stderr[-2000:])
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    return json.loads(lines[-1]) if lines else None


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in MODES:
        sys.exit(__doc__)
    mode = MODES[sys.argv[1]]
    n_pages = int(sys.argv[2]) if len(sys.argv) > 2 else mode["n_pages"]
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    runs = {key: [] for key, *_ in mode["levels"]}
    with tempfile.TemporaryDirectory(prefix="scaling_pages_", dir=base) as tmp:
        path = os.path.join(tmp, "webpages")
        _spawn("generate", path, n_pages)
        for _ in range(mode["rounds"]):
            for key, master, cores, _ident in reversed(mode["levels"]):
                conf = {**mode["conf"], "spark.sql.shuffle.partitions": str(cores)}
                runs[key].append(_spawn("level", master, path, mode["untimed"],
                                        json.dumps(conf)))

    summary = {}
    for key, _master, _cores, ident in mode["levels"]:
        rates = sorted(r["docs_per_sec"] for r in runs[key])
        summary[key] = {**ident, "n_rows": runs[key][0]["n_rows"],
                        "docs_per_sec_median": statistics.median(rates),
                        "docs_per_sec_all": rates,
                        "wall_sec_all": sorted(r["wall_sec"] for r in runs[key])}
    (lo_key, *_), (hi_key, *_) = mode["levels"]
    speed = (summary[hi_key]["docs_per_sec_median"]
             / summary[lo_key]["docs_per_sec_median"])
    print(json.dumps({
        **mode["about"],
        "n_pages": n_pages,
        **summary,
        mode["speedup"]: round(speed, 3),
        "scaling_efficiency": round(speed / 4.0, 3),
        "north_rule_target": 0.8,
        "meets_target": speed / 4.0 >= 0.8,
    }))


if __name__ == "__main__":
    main()
