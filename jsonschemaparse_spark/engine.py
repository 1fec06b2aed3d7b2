"""Rule-suite engine: one declarative document -> one validation report.

The north-star contract (BASELINE.json): compile JSON-Schema-style rules —
type/min/max/pattern/enum (row scope) PLUS uniqueness, referential
integrity, and KS/chi-square distribution drift (table scope) — and evaluate
the row-scope part in a single per-partition pass, the table-scope part as
the minimal set of follow-up aggregations/joins.

Ruleset document shape (validated at compile time like the reference's
Schema constructor rejects malformed keywords):

{
  "schema": { ...JSON-Schema rules over row columns... },
  "unique":      [{"keys": ["url"]}],
  "referential": [{"child_key": "o_custkey", "parent": "customer",
                   "parent_key": "c_custkey"}],
  "drift":       [{"column": "n_chars", "test": "ks",  "against": "prev"},
                  {"column": "lang",    "test": "chi2", "against": "prev"}]
}

`parent`/`against` name entries in the `tables` dict passed to run — the
sandbox stand-in for Iceberg table@snapshot references.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .errors import SchemaError
from .functions.integrity import (
    chi2_drift,
    ks_drift,
    referential_violations,
    uniqueness_violations,
)
from .plans.validator import ValidationResult, validate_dataframe
from .schema.compiler import CompiledSchema, compile_rules

_TABLE_KEYS = {"schema", "unique", "referential", "drift"}


@dataclass
class CompiledRuleSuite:
    schema: Optional[CompiledSchema]
    unique: list[dict]
    referential: list[dict]
    drift: list[dict]


def compile_rule_suite(ruleset: dict) -> CompiledRuleSuite:
    if not isinstance(ruleset, dict):
        raise SchemaError("Expected ruleset to be an object")
    unknown = set(ruleset) - _TABLE_KEYS
    if unknown:
        raise SchemaError(f"Unknown ruleset sections: {sorted(unknown)}")
    schema = compile_rules(ruleset["schema"]) if "schema" in ruleset else None

    def _entries(section):
        v = ruleset.get(section, [])
        return [v] if isinstance(v, dict) else list(v)  # single entry ok

    unique = _entries("unique")
    for u in unique:
        if not isinstance(u, dict) or not isinstance(u.get("keys"), list) or not u["keys"]:
            raise SchemaError('Each "unique" entry needs a non-empty "keys" list')
    referential = _entries("referential")
    for r in referential:
        for k in ("child_key", "parent", "parent_key"):
            if not isinstance(r.get(k), str):
                raise SchemaError(f'Each "referential" entry needs string "{k}"')
    drift = _entries("drift")
    for d in drift:
        if d.get("test") not in ("ks", "chi2"):
            raise SchemaError('Each "drift" entry needs "test": "ks"|"chi2"')
        for k in ("column", "against"):
            if not isinstance(d.get(k), str):
                raise SchemaError(f'Each "drift" entry needs string "{k}"')
    return CompiledRuleSuite(schema, unique, referential, drift)


@dataclass
class TableCheck:
    kind: str          # unique | referential | drift
    constraint_id: str
    passed: bool
    details: dict = field(default_factory=dict)


@dataclass
class RuleSuiteReport:
    row_result: Optional[ValidationResult]
    table_checks: list[TableCheck]
    table_violations: dict[str, DataFrame]  # constraint_id -> offending rows

    @property
    def passed(self) -> bool:
        return self.summary()["pass"]

    def summary(self) -> dict:
        out: dict[str, Any] = {
            "table_checks": [
                {"kind": c.kind, "constraint_id": c.constraint_id,
                 "pass": c.passed, **c.details}
                for c in self.table_checks
            ],
        }
        passed = all(c.passed for c in self.table_checks)
        if self.row_result is not None:
            out["rows"] = self.row_result.summary()
            passed = passed and out["rows"]["pass"]
        out["pass"] = passed
        return out


def run_rule_suite(
    df: DataFrame,
    ruleset: dict | CompiledRuleSuite,
    tables: Optional[dict[str, DataFrame]] = None,
    key_cols=None,
    alpha: float = 0.01,
) -> RuleSuiteReport:
    suite = ruleset if isinstance(ruleset, CompiledRuleSuite) else compile_rule_suite(ruleset)
    tables = tables or {}

    row_result = None
    if suite.schema is not None:
        row_result = validate_dataframe(df, suite.schema, key_cols=key_cols)
        row_result.evaluation()  # read by the summary and the row reports

    checks: list[TableCheck] = []
    violations: dict[str, DataFrame] = {}

    for u in suite.unique:
        cid = "unique:" + ",".join(u["keys"])
        bad = uniqueness_violations(df, u["keys"])
        n = bad.count()
        checks.append(TableCheck("unique", cid, n == 0, {"n_duplicate_keys": n}))
        if n:
            violations[cid] = bad

    for r in suite.referential:
        cid = f"referential:{r['child_key']}->{r['parent']}.{r['parent_key']}"
        parent = tables.get(r["parent"])
        if parent is None:
            raise SchemaError(f'referential parent table "{r["parent"]}" not provided')
        bad = referential_violations(df, r["child_key"], parent, r["parent_key"])
        n = bad.count()
        checks.append(TableCheck("referential", cid, n == 0, {"n_orphans": n}))
        if n:
            violations[cid] = bad

    for d in suite.drift:
        cid = f"drift:{d['test']}:{d['column']}@{d['against']}"
        other = tables.get(d["against"])
        if other is None:
            raise SchemaError(f'drift reference table "{d["against"]}" not provided')
        a = d.get("alpha", alpha)
        res = (
            ks_drift(other, df, d["column"], alpha=a)
            if d["test"] == "ks"
            else chi2_drift(other, df, d["column"], alpha=a)
        )
        checks.append(
            TableCheck(
                "drift", cid, not res.drifted,
                {"statistic": round(res.statistic, 6), "p_value": res.p_value,
                 "n_left": res.n_left, "n_right": res.n_right},
            )
        )

    return RuleSuiteReport(row_result, checks, violations)
