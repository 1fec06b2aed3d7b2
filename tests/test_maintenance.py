"""Small-file compaction (sources/maintenance.py)."""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from conftest import Killed
from jsonschemaparse_spark.sources.maintenance import compact_parquet


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "frag")
    spark.range(0, 10_000).withColumn("v", F.col("id") * 2) \
        .repartition(64).write.parquet(path)
    before, after, n_rows = compact_parquet(
        spark, path, target_bytes=64 * 1024 * 1024)
    assert before == 64 and after < before and n_rows == 10_000
    got = spark.read.parquet(path)
    assert got.count() == 10_000
    assert got.agg(F.sum("v")).first()[0] == 2 * (9999 * 10000 // 2)
    # no staging/backup leftovers
    leftovers = [d.name for d in tmp_path.iterdir() if "__jsp" in d.name]
    assert leftovers == []


def test_compact_noop_below_min_files(spark, tmp_path):
    path = str(tmp_path / "small")
    spark.range(0, 10).coalesce(1).write.parquet(path)
    before, after, n_rows = compact_parquet(spark, path)
    assert (before, after, n_rows) == (1, 1, 10)


def test_compact_noop_when_already_compact(spark, tmp_path):
    path = str(tmp_path / "ok")
    spark.range(0, 1000).repartition(2).write.parquet(path)
    # tiny target -> desired file count >= current -> leave layout alone
    before, after, n_rows = compact_parquet(spark, path, target_bytes=1)
    assert before == 2 and after == 2 and n_rows == 1000


def test_compact_killed_between_renames_recovers_on_rerun(spark, tmp_path,
                                                          monkeypatch):
    path = str(tmp_path / "frag")
    spark.range(0, 1000).repartition(8).write.parquet(path)
    real_rename = Path.rename

    def rename(self, target):
        if Path(target) == Path(path):  # staging -> live, the second rename
            raise Killed()
        return real_rename(self, target)

    monkeypatch.setattr(Path, "rename", rename)
    with pytest.raises(Killed):
        compact_parquet(spark, path, target_bytes=64 * 1024 * 1024)
    monkeypatch.undo()
    assert not Path(path).exists()  # the original sits only in .old

    before, after, n_rows = compact_parquet(
        spark, path, target_bytes=64 * 1024 * 1024)
    assert (before, after, n_rows) == (8, 1, 1000)
    assert spark.read.parquet(path).count() == 1000
    assert [d.name for d in tmp_path.iterdir() if "__jsp" in d.name] == []
