"""ensure_parallelism, the package's one spread helper: streaming
pass-through, the one-split spread, and what its probe costs."""

from pyspark.sql import functions as F

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


def test_probe_launches_no_job_on_plain_file_scan(spark, tmp_path):
    df = _one_file_parquet(spark, tmp_path)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("idioms-probe", "spread probe on a file scan")
    ensure_parallelism(df)
    # control: an action in a group of its own is seen by the same counter
    sc.setJobGroup("idioms-action", "count on the same scan")
    df.count()
    sc.setJobGroup("", "")
    assert list(tracker.getJobIdsForGroup("idioms-probe")) == []
    assert len(tracker.getJobIdsForGroup("idioms-action")) >= 1
