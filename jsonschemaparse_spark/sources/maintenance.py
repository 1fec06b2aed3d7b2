"""Table maintenance: small-file compaction for parquet directories.

The 100-TB operational problem: streaming ingests and per-batch
appends leave thousands of KB-scale parquet files per partition;
scan-time task scheduling and footer reads then dominate (the classic
small-files problem). Compaction rewrites a directory to
~target_bytes files — the parquet analog of Iceberg's rewrite_data_files
action (the Iceberg-native call is environment-blocked here, same as
sources/catalog.py's snapshot reads; this keeps the API shaped for the
swap).

Safety: the rewrite goes to a STAGING sibling directory first and the
swap is two renames (live -> .old, staging -> live) with the .old kept
until the new listing is verified readable — the materialize_index
stage-then-swap convention (r6 second review: drop-first shapes can
destroy their own source). A killed call leaves the original at the
path or under .old, and the next call settles it first (restore_swap).

Row-count verification is part of the contract (compact_parquet
returns (n_files_before, n_files_after, n_rows)): a compaction that
loses rows must raise, not report success."""

from __future__ import annotations

import math
import os
import shutil
from pathlib import Path

from pyspark.sql import SparkSession


def _local_path(path: str) -> Path:
    # only local paths are supported: the rename-based swap below is a
    # posix-filesystem operation. Remote stores (s3/hdfs/abfs) need the
    # Hadoop FileSystem API — raising here beats the silent
    # "0 files found, success" no-op (r6 third review #4)
    if "://" in path and not path.startswith("file://"):
        raise NotImplementedError(
            f"compact_parquet supports local paths only, got {path!r}; "
            "the remote-store variant is the Hadoop FileSystem swap "
            "point (same contract: stage, verify, swap)")
    return Path(path.removeprefix("file://").removeprefix("file:"))


def _parquet_files(p: Path) -> "list[Path]":
    return [f for f in p.rglob("*.parquet") if f.is_file()]


def restore_swap(live: "str | Path", old: "str | Path") -> None:
    """Settle a stage-then-swap that a killed run left behind: rename
    `old` back when `live` is missing (killed between the two renames),
    drop it when both exist (killed while dropping the old copy)."""
    if not os.path.exists(old):
        return
    if os.path.exists(live):
        shutil.rmtree(old)
    else:
        os.rename(old, live)


def compact_parquet(
    spark: SparkSession, path: str, *,
    target_bytes: int = 256 * 1024 * 1024,
    min_files: int = 2,
) -> "tuple[int, int, int]":
    """Rewrite the parquet directory at `path` into
    ceil(total_bytes / target_bytes) files. No-op (returns unchanged
    counts) when the directory already has fewer than `min_files`
    files. Returns (n_files_before, n_files_after, n_rows).

    Guards (r6 third review — each refused loudly, never silently):
    - streaming file-sink dirs (`_spark_metadata` present) are REJECTED:
      spark.read resolves them through the sink log, so untracked files
      would be excluded from the rewrite yet deleted with the old dir,
      and the running query's log would be destroyed;
    - hive-partitioned roots (any `k=v` subdirectory) are REJECTED:
      a flat rewrite would silently destroy the partition layout —
      compact each leaf partition directory instead (the staging/old
      siblings are dot-prefixed, which partition discovery ignores, so
      per-leaf compaction never surfaces bogus partition values);
    - files appended CONCURRENTLY by another writer are detected after
      the swap (the old dir holds files not in the original listing):
      the swap is rolled back and the call raises — quiesce writers or
      re-run; the alternative was silently deleting their rows."""
    p = _local_path(path)
    old = p.with_name("." + p.name + ".__jsp_old__")
    restore_swap(p, old)
    if (p / "_spark_metadata").exists():
        raise ValueError(
            f"{path} is a streaming file-sink directory (_spark_metadata "
            "present); compacting it would drop sink-untracked files and "
            "destroy the sink log — stop the query and migrate the data "
            "instead")
    part_dirs = [d.name for d in p.iterdir()
                 if d.is_dir() and "=" in d.name]
    if part_dirs:
        raise ValueError(
            f"{path} looks hive-partitioned (e.g. {part_dirs[0]!r}); "
            "compact each leaf partition directory instead — a flat "
            "rewrite would destroy the partition layout")
    files = _parquet_files(p)
    n_before = len(files)
    if n_before < min_files:
        n_rows = spark.read.parquet(path).count()
        return n_before, n_before, n_rows
    total = sum(f.stat().st_size for f in files)
    n_out = max(1, math.ceil(total / target_bytes))
    if n_out >= n_before:
        n_rows = spark.read.parquet(path).count()
        return n_before, n_before, n_rows

    df = spark.read.parquet(path)
    n_rows = df.count()
    original_names = {f.relative_to(p) for f in files}
    # dot-prefixed siblings: invisible to Spark/Hive directory listings
    # while they exist next to live data
    staging = p.with_name("." + p.name + ".__jsp_compact__")
    shutil.rmtree(staging, ignore_errors=True)
    df.repartition(n_out).write.mode("overwrite").parquet(str(staging))

    new_rows = spark.read.parquet(str(staging)).count()
    if new_rows != n_rows:
        shutil.rmtree(staging, ignore_errors=True)
        raise RuntimeError(
            f"compaction row-count mismatch: {n_rows} -> {new_rows}; "
            "staging discarded, original untouched")

    p.rename(old)
    try:
        staging.rename(p)
    except OSError:
        old.rename(p)  # roll back: restore the original listing
        raise
    # concurrent-append detection: files that landed between the
    # original listing and the swap ride along into `old`; deleting
    # them would silently lose their rows (review #2)
    appended = {f.relative_to(old)
                for f in _parquet_files(old)} - original_names
    if appended:
        shutil.rmtree(p, ignore_errors=True)
        old.rename(p)
        raise RuntimeError(
            f"concurrent append detected during compaction "
            f"({len(appended)} new file(s), e.g. "
            f"{sorted(map(str, appended))[0]!r}); rolled back — quiesce "
            "writers and re-run")
    # verify the swapped-in listing before dropping the original
    if spark.read.parquet(path).count() != n_rows:
        shutil.rmtree(p, ignore_errors=True)
        old.rename(p)
        raise RuntimeError("post-swap verification failed; rolled back")
    shutil.rmtree(old, ignore_errors=True)
    return n_before, len(_parquet_files(p)), n_rows
