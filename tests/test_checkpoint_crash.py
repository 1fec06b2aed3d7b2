"""Kill the checkpoint runners at every mutation point.

A dry run counts a scenario's K mutation points (parquet writes, renames,
deletes). Then, for each k in 1..K, the scenario runs on a fresh copy of
its pre-state and is killed at point k. Read through the runners' own
reads (the commit log, live metric and violation files), the state must
show the old content or the new content, never a mix; and a rerun must
leave an uncrashed run's verdicts and violation rows.
"""

import shutil

import pytest
from conftest import Killed, mutation_points
from pyspark.sql.types import LongType, StringType, StructField, StructType

from jsonschemaparse_spark.plans.checkpoint import (
    _JSON_METRICS,
    _ROW_METRICS,
    _live,
    _manifests,
    _read,
    run_json_with_checkpoint,
    run_with_checkpoint,
)
from jsonschemaparse_spark.plans.kernels import VIOLATION_STRUCT

ROW_RULES = {"properties": {"id": {"type": "integer", "maximum": 12}}}
JSON_RULES = {"properties": {"k": {"type": "integer", "maximum": 5}}}
SNAP = "snap0"
_ID = [StructField("id", LongType())]
ROW_VIOLATIONS = StructType(_ID + VIOLATION_STRUCT.fields)
JSON_VIOLATIONS = StructType(_ID + [StructField("file", StringType())]
                             + VIOLATION_STRUCT.fields
                             + [StructField("snapshot_id", StringType())])


def _append_file(spark, data, ids):
    spark.createDataFrame(
        [(i, '{"k": %d}' % (i % 9)) for i in ids], "id long, doc string"
    ).coalesce(1).write.mode("append").parquet(data)


def _run(spark, kind, phase, data, state):
    if kind == "row":
        return run_with_checkpoint(spark, data, ROW_RULES, state, key_cols=["id"])
    return run_json_with_checkpoint(spark, data, "doc", JSON_RULES, state,
                                    key_cols=["id"], reprocess=phase == "reprocess")


def _view(spark, kind, state):
    """The done set, verdict rows and violation rows of the committed state."""
    live = _live(_manifests(state), SNAP)
    ddl, viols = ((_ROW_METRICS, ROW_VIOLATIONS) if kind == "row"
                  else (_JSON_METRICS, JSON_VIOLATIONS))
    return (
        sorted(f for m in live for f in m["inputs"]),
        sorted(tuple(r) for r in _read(spark, state, SNAP, "metrics", live, ddl).collect()),
        sorted(tuple(r) for r in _read(spark, state, SNAP, "violations", live, viols).collect()),
    )


@pytest.fixture(scope="module")
def crash_inputs(spark, tmp_path_factory):
    """2 input files x 10 rows, and each scenario's pre-state: none for a
    cold run, a run over the first file for a resume, a run over both
    files for a reprocess."""
    root = tmp_path_factory.mktemp("crash")
    data = str(root / "in")
    _append_file(spark, data, range(10))
    pre = {("row", "cold"): None, ("json", "cold"): None}
    for kind in ("row", "json"):
        pre[(kind, "resume")] = str(root / f"{kind}_resume")
        _run(spark, kind, "cold", data, pre[(kind, "resume")])
    _append_file(spark, data, range(10, 20))
    pre[("json", "reprocess")] = str(root / "json_reprocess")
    _run(spark, "json", "cold", data, pre[("json", "reprocess")])
    return data, pre


@pytest.mark.parametrize("kind,phase", [
    ("row", "cold"), ("row", "resume"),
    ("json", "cold"), ("json", "resume"), ("json", "reprocess"),
])
def test_checkpoint_killed_at_every_mutation_point(spark, crash_inputs, tmp_path,
                                                   kind, phase):
    data, pre = crash_inputs
    pre_state = pre[(kind, phase)]

    def fresh(name):
        state = str(tmp_path / name)
        if pre_state is not None:
            shutil.copytree(pre_state, state)
        return state

    old = _view(spark, kind, fresh("old"))
    uncrashed = fresh("uncrashed")
    with mutation_points() as points:
        _run(spark, kind, phase, data, uncrashed)
    new = _view(spark, kind, uncrashed)
    # both writes and the commit; a reprocess leaves the same verdicts
    assert len(points) >= 3 and (old != new) == (phase != "reprocess"), points

    for k in range(1, len(points) + 1):
        state = fresh(f"k{k}")
        with pytest.raises(Killed), mutation_points(kill_at=k):
            _run(spark, kind, phase, data, state)
        assert _view(spark, kind, state) in (old, new), (k, points[k - 1])
        _run(spark, kind, phase, data, state)
        assert _view(spark, kind, state) == new, (k, points[k - 1])
