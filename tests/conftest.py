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
