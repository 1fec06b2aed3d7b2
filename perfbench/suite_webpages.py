"""suite_webpages: the CLI's flat rule-suite job over a materialized
webpages table (scripts/run_validation_job.py without --state).

The suite is the row schema plus unique(url), referential(host_id ->
hosts) and a chi-square drift check of `lang` against a prior snapshot.
The job computes the suite verdict, then writes the violation rows, the
per-partition verdicts, the table-check violations and summary.json. The
CLI job is stateless, so the workload has no resume phase: its resume_s
repeats job_s.

Inputs: pages with Zipf-skewed hosts and a trickle of planted anomalies
(schema failures, duplicate URLs, orphan hosts); a hosts table; a prior
snapshot whose language mix has drifted. The oracle re-checks every row
against the rules in plain Python and counts duplicates, orphans and the
chi-square statistic itself.
"""

from __future__ import annotations

import json
import random
import re
import time
from collections import Counter
from pathlib import Path

import pyarrow as pa

from tracing import span_or_none
from workload import Workload, compiled_rules, digest, read_parquet_dir, write_files

N_PAGES = 40_000
N_FILES = 8
N_HOSTS = 2_000
LANGS = ["en", "de", "fr", "es", "zh", "ja", "ru", "pt", "it", "nl"]
LANG_W = [42, 12, 10, 9, 8, 6, 5, 3, 3, 2]
PREV_LANG_W = [30, 16, 12, 10, 9, 7, 6, 4, 3, 3]   # the planted drift
MAX_URL = 60
URL_RE = r"^https://host[0-9]+\.example/p/[0-9]+$"
FETCH_LIMIT = 60_000.0

RULESET = {
    "schema": {
        "type": "object",
        "required": ["url", "host_id", "lang", "n_chars", "fetch_ms"],
        "properties": {
            "url": {"type": "string", "pattern": URL_RE, "maxLength": MAX_URL},
            "host_id": {"type": "integer", "minimum": 0},
            "lang": {"enum": LANGS},
            "n_chars": {"type": "integer", "minimum": 1, "maximum": 1_000_000},
            "fetch_ms": {"type": "number", "minimum": 0,
                         "exclusiveMaximum": FETCH_LIMIT},
        },
    },
    "unique": [{"keys": ["url"]}],
    "referential": [{"child_key": "host_id", "parent": "hosts",
                     "parent_key": "host_id"}],
    "drift": [{"column": "lang", "test": "chi2", "against": "prev"}],
}

PAGE_SCHEMA = pa.schema([("url", pa.string()), ("host_id", pa.int64()),
                         ("lang", pa.string()), ("n_chars", pa.int64()),
                         ("fetch_ms", pa.float64())])


def row_violations(r: dict) -> list[tuple[str, str]]:
    """(keyword, path) of every rule the row breaks — the oracle's own
    reading of RULESET['schema']."""
    out = []
    url = r["url"]
    if re.search(URL_RE.replace("$", r"\Z"), url) is None:
        out.append(("pattern", "/url"))
    if len(url) > MAX_URL:
        out.append(("maxLength", "/url"))
    if r["lang"] not in LANGS:
        out.append(("enum", "/lang"))
    if not 1 <= r["n_chars"] <= 1_000_000:
        out.append(("minimum" if r["n_chars"] < 1 else "maximum", "/n_chars"))
    if r["fetch_ms"] < 0:
        out.append(("minimum", "/fetch_ms"))
    elif r["fetch_ms"] >= FETCH_LIMIT:
        out.append(("exclusiveMaximum", "/fetch_ms"))
    return out


def chi2_statistic(left: Counter, right: Counter) -> float:
    cats = sorted(set(left) | set(right))
    n1, n2 = sum(left.values()), sum(right.values())
    stat = 0.0
    for c in cats:
        o1, o2 = left.get(c, 0), right.get(c, 0)
        e1 = (o1 + o2) * n1 / (n1 + n2)
        e2 = (o1 + o2) * n2 / (n1 + n2)
        stat += (o1 - e1) ** 2 / e1 + (o2 - e2) ** 2 / e2
    return stat


class SuiteWebpages(Workload):
    name = "suite_webpages"

    def generate(self) -> None:
        rng = random.Random(self.seed)
        total = N_PAGES
        rows = []
        for i in range(total):
            host = int((rng.random() ** 4) * N_HOSTS)
            rows.append({
                "url": f"https://host{host}.example/p/{i}",
                "host_id": host,
                "lang": rng.choices(LANGS, LANG_W)[0],
                "n_chars": rng.randint(200, 50_000),
                "fetch_ms": round(rng.uniform(5.0, 5_000.0), 3),
            })
        # a ~1.5 % trickle of schema failures, one broken rule per row
        idx = rng.sample(range(total), int(total * 0.03))
        fail, dup, orphan = idx[:len(idx) // 2], idx[len(idx) // 2:len(idx) * 3 // 4], idx[len(idx) * 3 // 4:]
        for i in fail:
            r = rows[i]
            kind = rng.randrange(5)
            if kind == 0:
                r["lang"] = "xx"
            elif kind == 1:
                r["n_chars"] = 0
            elif kind == 2:
                r["fetch_ms"] = FETCH_LIMIT + rng.randint(0, 5_000)
            elif kind == 3:
                r["url"] = r["url"].replace("/p/", "/q/")
            else:
                r["url"] = f"https://host{r['host_id']}.example/p/{i}{'0' * 40}"
        clean = sorted(set(range(total)) - set(idx))
        for i in dup:      # duplicate URLs: copy a clean row's URL
            rows[i]["url"] = rows[rng.choice(clean)]["url"]
        for i in orphan:   # orphans: a host id with no hosts row
            rows[i]["host_id"] = N_HOSTS + rng.randrange(100)
        self.rows = rows
        self.base_files = write_files(rows, PAGE_SCHEMA, self.inputs / "pages", N_FILES, "base")
        write_files([{"host_id": h, "name": f"host{h}"} for h in range(N_HOSTS)],
                    pa.schema([("host_id", pa.int64()), ("name", pa.string())]),
                    self.inputs / "hosts", 1, "hosts")
        prev = [{"lang": rng.choices(LANGS, PREV_LANG_W)[0]} for _ in range(N_PAGES // 2)]
        write_files(prev, pa.schema([("lang", pa.string())]), self.inputs / "prev", 2, "prev")
        self.prev_langs = Counter(r["lang"] for r in prev)
        self.expect = {"cold": self._oracle(rows)}

    def _oracle(self, rows: list[dict]) -> dict:
        viols = [(r["url"], kw, path) for r in rows for kw, path in row_violations(r)]
        urls = Counter(r["url"] for r in rows)
        dups = {(u, n) for u, n in urls.items() if n > 1}
        orphans = [r["url"] for r in rows if r["host_id"] >= N_HOSTS]
        return {
            "n_rows": len(rows),
            "n_failed_rows": sum(1 for r in rows if row_violations(r)),
            "n_violations": len(viols),
            "violations": digest(viols),
            "dups": digest(dups), "n_dup_keys": len(dups),
            "orphans": digest((u,) for u in orphans), "n_orphans": len(orphans),
            "chi2": chi2_statistic(self.prev_langs, Counter(r["lang"] for r in rows)),
        }

    def setup(self, spark) -> None:
        from jsonschemaparse_spark.engine import compile_rule_suite

        t0 = time.perf_counter()
        self.suite = compile_rule_suite(RULESET)
        self.compile_s = time.perf_counter() - t0

    def cold_rows(self) -> int:
        return N_PAGES

    # -- the job -----------------------------------------------------------------
    def cold(self, spark, it: Path, tracer) -> float:
        from jsonschemaparse_spark.engine import run_rule_suite

        t0 = time.perf_counter()
        out = it / "out"
        df = spark.read.parquet(str(it / "input"))
        tables = {"hosts": spark.read.parquet(str(self.inputs / "hosts")),
                  "prev": spark.read.parquet(str(self.inputs / "prev"))}
        with span_or_none(tracer, "engine.run_rule_suite", "engine"):
            report = run_rule_suite(df, self.suite, tables=tables, key_cols=["url"])
        with span_or_none(tracer, "plans.validator.summary", "plans.validator"):
            summary = report.summary()
        verdict_s = time.perf_counter() - t0
        with span_or_none(tracer, "plans.validator.violations", "plans.validator"):
            report.row_result.violations().write.mode("overwrite").parquet(str(out / "violations"))
        with span_or_none(tracer, "plans.validator.verdicts", "plans.validator"):
            report.row_result.verdicts().write.mode("overwrite").parquet(str(out / "verdicts"))
        with span_or_none(tracer, "functions.integrity.write", "functions.integrity"):
            for cid, bad in report.table_violations.items():
                name = re.sub(r"[^A-Za-z0-9]+", "_", cid).strip("_")
                bad.write.mode("overwrite").parquet(str(out / "table" / name))
        with span_or_none(tracer, "job.summary_write", "job"):
            spark.createDataFrame([(json.dumps(summary),)], "value string") \
                .coalesce(1).write.mode("overwrite").text(str(out / "summary.json"))
        self.summary = summary
        return verdict_s

    def check(self, it: Path, phase: str) -> list[str]:
        exp, s, errs = self.expect[phase], self.summary, []
        rows = s["rows"]
        for k in ("n_rows", "n_failed_rows", "n_violations"):
            if rows[k] != exp[k]:
                errs.append(f"{k} {rows[k]} != {exp[k]}")
        checks = {c["kind"]: c for c in s["table_checks"]}
        if checks["unique"]["n_duplicate_keys"] != exp["n_dup_keys"]:
            errs.append(f"duplicate keys {checks['unique']['n_duplicate_keys']} != {exp['n_dup_keys']}")
        if checks["referential"]["n_orphans"] != exp["n_orphans"]:
            errs.append(f"orphans {checks['referential']['n_orphans']} != {exp['n_orphans']}")
        stat = checks["drift"]["statistic"]
        if abs(stat - exp["chi2"]) > 1e-6 * max(1.0, exp["chi2"]) or checks["drift"]["pass"]:
            errs.append(f"drift statistic {stat} vs {exp['chi2']}, pass={checks['drift']['pass']}")
        if s["pass"]:
            errs.append("suite passed although anomalies were planted")
        out = it / "out"
        v = read_parquet_dir(out / "violations", ["url", "keyword", "path"]).to_pylist()
        got = digest((r["url"], r["keyword"], r["path"]) for r in v)
        if got != exp["violations"] or len(v) != exp["n_violations"]:
            errs.append(f"violation rows digest {got} ({len(v)}) != {exp['violations']} ({exp['n_violations']})")
        vd = read_parquet_dir(out / "verdicts").to_pylist()
        if (sum(r["n_rows"] for r in vd), sum(r["n_failed_rows"] for r in vd)) != \
                (exp["n_rows"], exp["n_failed_rows"]):
            errs.append("per-partition verdicts do not add up")
        dups = read_parquet_dir(out / "table" / "unique_url").to_pylist()
        if digest((r["url"], r["n_duplicates"]) for r in dups) != exp["dups"]:
            errs.append("duplicate-url rows differ")
        orph = read_parquet_dir(out / "table" / "referential_host_id_hosts_host_id").to_pylist()
        if digest((r["url"],) for r in orph) != exp["orphans"]:
            errs.append("orphan rows differ")
        if not list((out / "summary.json").glob("part-*")):
            errs.append("summary.json missing")
        return errs

    # -- tracing -----------------------------------------------------------------
    def install_hooks(self, tracer) -> None:
        import jsonschemaparse_spark.engine as engine

        tracer.patch(engine, "validate_dataframe", "plans.validator.plan",
                     "plans.validator", lazy=True)
        tracer.patch(engine, "uniqueness_violations", "functions.integrity.unique",
                     "functions.integrity", lazy=True)
        tracer.patch(engine, "referential_violations", "functions.integrity.referential",
                     "functions.integrity", lazy=True)
        tracer.patch(engine, "chi2_drift", "functions.integrity.drift",
                     "functions.integrity", lazy=False)

    def layer_metrics(self, tracer, reader, spans) -> dict[str, float]:
        from tracing import input_records, span_total

        eng = [s for s in spans if s.name == "engine.run_rule_suite"]
        eng_jobs = [j for e in eng for s in tracer.subtree(e) for j in s.jobs]
        rows = self.expect["cold"]["n_rows"]
        return {
            "engine.spark_jobs": float(len(eng_jobs)),
            "engine.scan_rows_ratio": input_records(reader, eng_jobs) / rows,
            "plans.validator.plan_ms": 1e3 * span_total(spans, "plans.validator.plan"),
            "plans.validator.summary_s": span_total(spans, "plans.validator.summary"),
            "plans.validator.violations_s": span_total(spans, "plans.validator.violations"),
            "plans.validator.verdicts_s": span_total(spans, "plans.validator.verdicts"),
            "plans.validator.violation_rows": float(self.summary["rows"]["n_violations"]),
            "functions.integrity.unique_s": span_total(spans, "functions.integrity.unique"),
            "functions.integrity.referential_s": span_total(spans, "functions.integrity.referential"),
            "functions.integrity.drift_s": span_total(spans, "functions.integrity.drift"),
        }

    def run_metrics(self) -> dict[str, float]:
        return {"schema.compiler.compile_ms": 1e3 * self.compile_s,
                "schema.compiler.rules": float(compiled_rules(self.suite))}
