import os
import shutil
import sys
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(__file__))  # for cases_2019_09
sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF01_DIR = "/root/testdata/sf0.01"


class Killed(BaseException):
    """A kill in a test: not an Exception, so no handler or rollback in
    the code under test sees it."""


@contextmanager
def mutation_points(kill_at=None):
    """Count the mutation points a block passes: parquet writes, renames
    and deletes. With `kill_at=k`, raise Killed in place of the k-th.
    Yields the list of points passed so far, by primitive name."""
    from pyspark.sql.readwriter import DataFrameWriter

    seen = []
    targets = [(DataFrameWriter, "parquet"), (os, "replace"), (os, "rename"),
               (os, "remove"), (os, "unlink"), (shutil, "rmtree")]
    saved = [(owner, name, getattr(owner, name)) for owner, name in targets]

    def point(name, real):
        def hooked(*a, **kw):
            seen.append(name)
            if len(seen) == kill_at:
                raise Killed(f"killed at mutation point {kill_at} ({name})")
            return real(*a, **kw)
        return hooked

    for owner, name, real in saved:
        setattr(owner, name, point(name, real))
    try:
        yield seen
    finally:
        for owner, name, real in saved:
            setattr(owner, name, real)


def stored_rdds(spark) -> set:
    """The ids of the RDDs with blocks stored (cached or checkpointed)."""
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def jobs_of(spark, group: str, fn):
    """(fn(), the number of Spark jobs it launched), counted under job
    group `group`; the group is cleared afterwards, also on error."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def file_scan_rows(spark, first: int = 0) -> tuple[int, int]:
    """(input rows of the stages numbered `first` and up that scan files,
    the number after the last stage), read from the in-process status
    store as scripts/scaling.py reads shuffle bytes. A stage that reads
    cached or checkpointed blocks counts input rows too, so only stages
    whose RDD graph holds a FileScanRDD count."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    stages = store.stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)
    rows = end = 0
    for k in range(stages.size()):
        s = stages.apply(k)
        end = max(end, s.stageId() + 1)
        if s.stageId() < first:
            continue
        todo, names = [store.operationGraphForStage(s.stageId()).rootCluster()], set()
        while todo:
            c = todo.pop()
            nodes, clusters = c.childNodes(), c.childClusters()
            names.update(nodes.apply(i).name() for i in range(nodes.size()))
            todo.extend(clusters.apply(i) for i in range(clusters.size()))
        if "FileScanRDD" in names:
            rows += s.inputRecords()
    return rows, end


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("jsonschemaparse-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")
