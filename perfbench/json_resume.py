"""json_resume: the CLI's --json-col --state job
(scripts/run_validation_job.py -> plans.checkpoint.run_json_with_checkpoint).

Inputs: F parquet files of (doc_id, payload) where payload is a nested JSON
document with string, pattern and enum leaves, so engine='auto' takes the
Arrow/Python evaluator. About 1 % of payloads are malformed and 3 % break
exactly one rule. The cold job validates the F files into an empty state
directory; then K more files land and the resume job validates only those.
The oracle knows each planted violation (keyword, path) by construction.
"""

from __future__ import annotations

import json
import random
import string
import time
from pathlib import Path

import pyarrow as pa

from tracing import span_or_none
from workload import Workload, compiled_rules, digest, read_parquet_dir, write_files

N_FILES, N_DELTA_FILES, DOCS_PER_FILE = 8, 2, 1_000
COUNTRIES = ["US", "DE", "FR", "JP", "BR", "IN"]
KINDS = ["view", "click", "buy"]
EMAIL_RE = r"^[a-z0-9.]+@[a-z0-9]+\.[a-z]+$"
SCHEMA = {
    "type": "object",
    "required": ["id", "user", "event"],
    "properties": {
        "id": {"type": "integer", "minimum": 1},
        "user": {
            "type": "object",
            "required": ["name", "country"],
            "properties": {
                "name": {"type": "string", "minLength": 1, "maxLength": 24},
                "country": {"enum": COUNTRIES},
                "email": {"type": "string", "pattern": EMAIL_RE},
            },
        },
        "event": {
            "type": "object",
            "required": ["kind", "ts"],
            "properties": {
                "kind": {"enum": KINDS},
                "ts": {"type": "integer", "minimum": 0},
                "tags": {"type": "array", "maxItems": 5,
                         "items": {"type": "string", "maxLength": 12}},
            },
        },
    },
}
# one planted violation per invalid document: (keyword, path, mutation)
BREAKS = [
    ("enum", "/user/country", lambda d, r: d["user"].update(country="XX")),
    ("minLength", "/user/name", lambda d, r: d["user"].update(name="")),
    ("pattern", "/user/email", lambda d, r: d["user"].update(email="no-at-sign")),
    ("maxItems", "/event/tags", lambda d, r: d["event"].update(tags=["t"] * 7)),
    ("enum", "/event/kind", lambda d, r: d["event"].update(kind="scroll")),
    ("minimum", "/event/ts", lambda d, r: d["event"].update(ts=-r.randint(1, 99))),
]
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("payload", pa.string())])
SAMPLE_DOCS = 2_000


def _word(rng: random.Random, lo: int, hi: int) -> str:
    return "".join(rng.choices(string.ascii_lowercase, k=rng.randint(lo, hi)))


class JsonResume(Workload):
    name = "json_resume"
    uses_python = True

    def generate(self) -> None:
        rng = random.Random(self.seed)
        total = (N_FILES + N_DELTA_FILES) * DOCS_PER_FILE
        rows, planted = [], []
        for i in range(1, total + 1):
            name = _word(rng, 3, 12)
            doc = {
                "id": i,
                "user": {"name": name, "country": rng.choice(COUNTRIES),
                         "email": f"{name}.{rng.randint(1, 99)}@mail{rng.randint(1, 9)}.com"},
                "event": {"kind": rng.choice(KINDS), "ts": rng.randint(1, 2_000_000_000),
                          "tags": [_word(rng, 2, 10) for _ in range(rng.randint(0, 4))]},
            }
            u = rng.random()
            if u < 0.01:
                payload = json.dumps(doc)[:-7]
                planted.append((i, "syntax", ""))
            else:
                if u < 0.04:
                    kw, path, mutate = rng.choice(BREAKS)
                    mutate(doc, rng)
                    planted.append((i, kw, path))
                payload = json.dumps(doc)
            rows.append({"doc_id": i, "payload": payload})
        n_base = N_FILES * DOCS_PER_FILE
        self.base_files = write_files(rows[:n_base], DOC_SCHEMA, self.inputs / "docs",
                                      N_FILES, "base")
        self.delta_files = write_files(rows[n_base:], DOC_SCHEMA, self.inputs / "docs",
                                       N_DELTA_FILES, "delta")
        self.sample = [r["payload"] for r in rows[:SAMPLE_DOCS]]
        base = [p for p in planted if p[0] <= n_base]
        self.expect = {
            "cold": {"violations": digest(base), "n_violations": len(base),
                     "n_rows": n_base, "n_failed": len(base),
                     "files": N_FILES, "skipped": 0},
            "resume": {"violations": digest(planted), "n_violations": len(planted),
                       "n_rows": total, "n_failed": len(planted),
                       "files": N_FILES + N_DELTA_FILES, "skipped": N_FILES},
        }

    def setup(self, spark) -> None:
        from jsonschemaparse_spark.engine import compile_rule_suite

        t0 = time.perf_counter()
        self.suite = compile_rule_suite({"schema": SCHEMA})
        self.compile_s = time.perf_counter() - t0

    def cold_rows(self) -> int:
        return N_FILES * DOCS_PER_FILE

    # -- the job -----------------------------------------------------------------
    def _job(self, spark, it: Path, tracer) -> float:
        from jsonschemaparse_spark.plans.checkpoint import run_json_with_checkpoint

        t0 = time.perf_counter()
        out = it / "out"
        with span_or_none(tracer, "plans.checkpoint", "plans.checkpoint"):
            jrun = run_json_with_checkpoint(
                spark, str(it / "input"), "payload", self.suite.schema, str(it / "state"),
                snapshot_id="snap0", key_cols=["doc_id"])
        verdict_s = time.perf_counter() - t0
        with span_or_none(tracer, "plans.checkpoint.output_write", "plans.checkpoint"):
            jrun.violations.write.mode("append").parquet(str(out / "violations"))
            jrun.verdicts.write.mode("overwrite").parquet(str(out / "verdicts"))
        summary = {"n_files_total": jrun.n_files_total,
                   "n_files_skipped": jrun.n_files_skipped,
                   "n_files_typed": jrun.n_files_typed,
                   "engine_used": jrun.engine_used}
        with span_or_none(tracer, "job.summary_write", "job"):
            spark.createDataFrame([(json.dumps(summary),)], "value string") \
                .coalesce(1).write.mode("overwrite").text(str(out / "summary.json"))
        self.summary = summary
        return verdict_s

    def cold(self, spark, it: Path, tracer) -> float:
        return self._job(spark, it, tracer)

    def resume(self, spark, it: Path, tracer) -> None:
        self._job(spark, it, tracer)

    def check(self, it: Path, phase: str) -> list[str]:
        exp, s, errs = self.expect[phase], self.summary, []
        if (s["n_files_total"], s["n_files_skipped"]) != (exp["files"], exp["skipped"]):
            errs.append(f"files total/skipped {s['n_files_total']}/{s['n_files_skipped']} "
                        f"!= {exp['files']}/{exp['skipped']}")
        out = it / "out"
        v = read_parquet_dir(out / "violations", ["doc_id", "keyword", "path"]).to_pylist()
        got = digest((r["doc_id"], r["keyword"], r["path"]) for r in v)
        if got != exp["violations"] or len(v) != exp["n_violations"]:
            errs.append(f"violation rows digest {got} ({len(v)}) != "
                        f"{exp['violations']} ({exp['n_violations']})")
        vd = read_parquet_dir(out / "verdicts").to_pylist()
        got = (len(vd), sum(r["n_rows"] for r in vd), sum(r["n_failed_rows"] for r in vd))
        if got != (exp["files"], exp["n_rows"], exp["n_failed"]):
            errs.append(f"per-file verdicts (files, rows, failed) {got} != "
                        f"{(exp['files'], exp['n_rows'], exp['n_failed'])}")
        return errs

    # -- tracing -----------------------------------------------------------------
    def install_hooks(self, tracer) -> None:
        import jsonschemaparse_spark.plans.json_validator as jv
        from pyspark.sql.readwriter import DataFrameWriter

        self.results = []
        tracer.patch(jv, "validate_json_column", "plans.json_validator.validate",
                     "plans.json_validator", lazy=True, on_result=self.results.append)
        tracer.patch(DataFrameWriter, "parquet", "plans.checkpoint.state_write",
                     "plans.checkpoint", lazy=False, within="plans.checkpoint")

    def layer_metrics(self, tracer, reader, spans) -> dict[str, float]:
        from tracing import input_records, span_total

        res = self.results[-1]
        if res.flagged_observation is not None:
            route = 2.0   # hybrid: JVM from_json, Python for flagged rows
            obs = res.flagged_observation.get
            share = obs["jsp_flagged"] / max(obs["jsp_rows"], 1)
        elif res.rule_table is not None:
            route, share = 3.0, 0.0   # typed: no Python stage
        else:
            route, share = 1.0, 1.0   # Arrow: every document in Python
        ck = [s for s in spans if s.name == "plans.checkpoint"]
        list_s = 0.0
        for c in ck:
            kids = tracer.children(c)
            list_s += (min(k.start for k in kids) if kids else c.end) - c.start
        io = ck + [s for s in spans if s.name == "plans.checkpoint.output_write"]
        jobs = [j for c in io for s in tracer.subtree(c) for j in s.jobs]
        all_jobs = [j for s in spans for j in s.jobs]
        new_rows = (N_FILES + N_DELTA_FILES) * DOCS_PER_FILE
        out = {
            "plans.json_validator.route": route,
            "plans.json_validator.python_row_share": share,
            "plans.checkpoint.list_s": list_s,
            "plans.checkpoint.state_write_s": span_total(spans, "plans.checkpoint.state_write"),
            "plans.checkpoint.output_write_s": span_total(spans, "plans.checkpoint.output_write"),
            "plans.checkpoint.files_skipped_ratio":
                self.summary["n_files_skipped"] / self.summary["n_files_total"],
            "plans.checkpoint.scan_rows_ratio": input_records(reader, jobs) / new_rows,
        }
        for k, v in reader.python_metrics(all_jobs).items():
            out[f"plans.json_validator.{k}"] = v
        return out

    def run_metrics(self) -> dict[str, float]:
        """Single-thread driver throughput of the strict parser and the
        evaluator on a fixed sample of this run's documents."""
        from jsonschemaparse_spark.schema.evaluate import Evaluator
        from jsonschemaparse_spark.schema.strict_json import loads_strict

        t0 = time.perf_counter()
        values = []
        for doc in self.sample:
            try:
                values.append(loads_strict(doc))
            except ValueError:
                pass
        t1 = time.perf_counter()
        ev = Evaluator(extensions=False)
        for v in values:
            ev.validate(self.suite.schema, v)
        t2 = time.perf_counter()
        return {"schema.compiler.compile_ms": 1e3 * self.compile_s,
                "schema.compiler.rules": float(compiled_rules(self.suite)),
                "schema.strict_json.docs_per_s": len(self.sample) / (t1 - t0),
                "schema.evaluate.docs_per_s": len(values) / (t2 - t1)}
