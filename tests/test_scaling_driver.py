"""scripts/scaling.py at tiny sizes: every family spec runs on the shared
session, so each family's in-measure asserts execute here."""

import importlib.util
import json
import tempfile
from pathlib import Path

import pytest

_PATH = Path(__file__).resolve().parents[1] / "scripts" / "scaling.py"
_spec = importlib.util.spec_from_file_location("scaling_driver", _PATH)
scaling = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(scaling)

# (n_big, n_small) where 2_000 / 200 is too small for the family's own
# parameters: ann fits 16 k-means lists on a 2% sample, and lines strips
# lines found in at least min_docs=1000 documents
SIZES = {"ann": (20_000, 2_000), "lines": (20_000, 2_000)}


@pytest.mark.parametrize("family", sorted(scaling.FAMILIES))
def test_family_runs_at_tiny_sizes(spark, family, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(scaling, "N_TRAIN", 2_000)
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    result = scaling.run(spark, family, *SIZES.get(family, (2_000, 200)))
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions
    json.dumps(result)  # the printed line
    assert not [k for k in result if "{" in k or k.startswith("_")]
    assert any(k.endswith("small") for k in result)
    assert any(k.endswith("big") for k in result)


def test_shuffle_bytes_read_in_process(spark):
    *_, first = scaling.shuffle_bytes(spark)
    spark.range(0, 10_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    read, write, end = scaling.shuffle_bytes(spark, first)
    assert read > 0 and write > 0 and end > first
    assert scaling.shuffle_bytes(spark, end)[:2] == (0, 0)
