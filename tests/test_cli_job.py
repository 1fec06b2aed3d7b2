"""scripts/run_validation_job.py end to end: a --json-col --state run, the
same command again (resume), then --reprocess (typed skip); and a flat run
with a boolean rules document. Each run is its own process, because
main() stops its Spark session."""

import json
import os
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parents[1]
RULES = {"type": "object", "properties": {"k": {"type": "number", "maximum": 50}}}


def _job(tmp_path, *extra, json_state=True):
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [str(REPO), env.get("PYTHONPATH")]))
    cmd = [
        sys.executable, str(REPO / "scripts" / "run_validation_job.py"),
        "--input", str(tmp_path / "in"), "--rules", str(tmp_path / "rules.json"),
        "--output", str(tmp_path / "out"), "--key-cols", "id", *extra,
    ]
    if json_state:
        cmd += ["--state", str(tmp_path / "state"), "--json-col", "doc"]
    proc = subprocess.run(cmd, env=env, cwd=tmp_path, capture_output=True,
                          text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_json_state_resume_and_typed_reprocess(tmp_path):
    (tmp_path / "in").mkdir()
    for i, ks in enumerate([range(0, 40), range(40, 70)]):
        pq.write_table(
            pa.table({"id": list(ks), "doc": ['{"k": %d}' % k for k in ks]}),
            tmp_path / "in" / f"part-{i}.parquet",
        )
    (tmp_path / "rules.json").write_text(json.dumps(RULES))

    first = _job(tmp_path)
    assert (first["n_files_total"], first["n_files_skipped"]) == (2, 0)
    assert first["engine_used"] == "auto"
    violations = pq.read_table(tmp_path / "out" / "violations")
    assert sorted(violations.column("id").to_pylist()) == list(range(51, 70))
    assert set(violations.column("keyword").to_pylist()) == {"maximum"}

    again = _job(tmp_path)
    assert again["n_files_skipped"] == again["n_files_total"] == 2

    reprocessed = _job(tmp_path, "--reprocess")
    assert reprocessed["engine_used"] == "typed"
    assert reprocessed["n_files_typed"] == 2


def test_flat_run_with_boolean_false_rules(tmp_path):
    """A draft 2019-09 boolean schema is a valid rules document: `false`
    fails every row."""
    (tmp_path / "in").mkdir()
    pq.write_table(pa.table({"id": [1, 2, 3], "k": [5, 60, 7]}),
                   tmp_path / "in" / "part-0.parquet")
    (tmp_path / "rules.json").write_text("false")

    summary = _job(tmp_path, json_state=False)
    assert summary["pass"] is False
    assert (summary["rows"]["n_rows"], summary["rows"]["n_failed_rows"]) == (3, 3)
    verdicts = pq.read_table(tmp_path / "out" / "verdicts")
    assert sum(verdicts.column("n_failed_rows").to_pylist()) == 3
