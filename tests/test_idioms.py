"""ensure_parallelism, the package's one spread helper: streaming
pass-through, the one-split spread, and that it launches no Spark job
on a scan, a shuffled, a persisted or a locally checkpointed frame."""

import pytest
from pyspark.sql import functions as F

from conftest import jobs_of
from jsonschemaparse_spark.idioms import ensure_parallelism


def _one_file_parquet(spark, tmp_path):
    path = str(tmp_path / "one_file")
    spark.range(200).withColumn("text", F.lit("a b c")).coalesce(1) \
        .write.parquet(path)
    return spark.read.parquet(path)


def test_streaming_frame_passes_through_unchanged(spark):
    stream = spark.readStream.format("rate").load()
    assert ensure_parallelism(stream) is stream


def test_one_file_parquet_gets_exactly_one_round_robin(spark, tmp_path):
    df = _one_file_parquet(spark, tmp_path)
    assert df.rdd.getNumPartitions() == 1
    spread = ensure_parallelism(df)
    plan = spread._jdf.queryExecution().executedPlan().toString()
    assert plan.count("RoundRobinPartitioning") == 1, plan
    assert spread.count() == 200


def _jobs_of_spread(spark, df, group):
    """(ensure_parallelism(df), Spark jobs it launched), with a positive
    control: an action on `df` in a group of its own is counted."""
    out, jobs = jobs_of(spark, group, lambda: ensure_parallelism(df))
    _, control = jobs_of(spark, group + "-action", df.count)
    assert control >= 1
    return out, jobs


def test_probe_launches_no_job_on_plain_file_scan(spark, tmp_path):
    df = _one_file_parquet(spark, tmp_path)
    _, jobs = _jobs_of_spread(spark, df, "idioms-probe")
    assert jobs == 0


@pytest.mark.parametrize("shape", ["grouped", "persisted"])
def test_shuffled_and_persisted_frames_pass_through_without_a_job(
        spark, tmp_path, shape):
    """AQE sizes post-shuffle partitions, so reading a split count there
    would re-run the upstream stages as jobs of their own."""
    df = _one_file_parquet(spark, tmp_path)
    if shape == "grouped":
        df = df.groupBy((F.col("id") % 7).alias("k")).agg(F.count("*").alias("n"))
    else:
        df = df.persist()
    try:
        out, jobs = _jobs_of_spread(spark, df, f"idioms-{shape}")
    finally:
        df.unpersist()
    assert out is df
    assert jobs == 0


def test_local_checkpoint_frame_launches_no_job(spark, tmp_path):
    df = _one_file_parquet(spark, tmp_path).localCheckpoint()
    out, jobs = _jobs_of_spread(spark, df, "idioms-local-checkpoint")
    assert jobs == 0
    assert out.count() == 200
