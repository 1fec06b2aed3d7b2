"""PII detection + redaction (functions/pii): pattern semantics, the
NULL conventions, and a DuckDB differential proving the Java-regex
(Spark) and RE2 (oracle) engines agree on every pattern — the same
portability bar functions/web.py's canonical_url is held to."""

import duckdb
import pytest

from pyspark.sql import functions as F

from jsonschemaparse_spark.functions.pii import (
    pii_flags,
    pii_oracle_sql,
    redact_pii,
    redact_text,
)

SAMPLES = [
    (1, "Write to jane.doe+spam@mail.example.co.uk or call +44 20 7946 0958."),
    (2, "Server 192.168.0.1 fell over; failover at 10.0.255.254 took it."),
    (3, "SSN on file: 123-45-6789. Backup contact bob@example.com."),
    (4, "No pii here, just a version string v1.2.3 and the year 2024."),
    (5, "+1 555-123-4567 texted +1 555 987 6543 about a@b.io twice: a@b.io"),
    (6, ""),
    (7, None),
    (8, "Edge: trailing dot host x@y.com. and ip 1.2.3.4."),
]


def _df(spark):
    return spark.createDataFrame(SAMPLES, "doc_id long, text string")


def test_counts(spark):
    rows = {r["doc_id"]: r for r in pii_flags(_df(spark)).collect()}
    assert (rows[1]["n_emails"], rows[1]["n_phones"]) == (1, 1)
    assert rows[2]["n_ipv4"] == 2
    assert (rows[3]["n_ssn_ids"], rows[3]["n_emails"]) == (1, 1)
    assert rows[4]["has_pii"] is False
    assert (rows[5]["n_phones"], rows[5]["n_emails"]) == (2, 2)
    # metric op: NULL and empty both score zero / has_pii False
    for i in (6, 7):
        assert rows[i]["has_pii"] is False
        assert rows[i]["n_emails"] == 0


def test_redact(spark):
    rows = {r["doc_id"]: r["text"]
            for r in redact_pii(_df(spark)).collect()}
    assert rows[1] == "Write to <EMAIL> or call <PHONE>."
    assert rows[2] == "Server <IP> fell over; failover at <IP> took it."
    assert rows[3] == "SSN on file: <ID>. Backup contact <EMAIL>."
    assert rows[4] == SAMPLES[3][1]  # untouched
    assert rows[5].count("<PHONE>") == 2 and rows[5].count("<EMAIL>") == 2
    assert rows[6] == ""
    assert rows[7] is None  # rewriting op preserves NULL
    # the SSN pattern must not eat phone tails nor vice versa
    assert "<ID>" not in rows[5]


def test_redact_out_col_keeps_original(spark):
    out = redact_pii(_df(spark), out_col="clean").where("doc_id = 1").first()
    assert "<EMAIL>" in out["clean"] and "@" in out["text"]


def test_year_and_version_not_flagged(spark):
    r = pii_flags(_df(spark)).where("doc_id = 4").first()
    assert (r["n_emails"], r["n_phones"], r["n_ipv4"], r["n_ssn_ids"]) \
        == (0, 0, 0, 0)


def test_duckdb_differential(spark):
    """Every pattern, both directions (counts + rewrite), Spark vs RE2
    on the full sample corpus — the engines must agree byte-for-byte."""
    counts_sql, redacted_sql = pii_oracle_sql("text")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE s (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO s VALUES (?, ?)", SAMPLES)
    oracle = {
        r[0]: r[1:]
        for r in con.execute(
            f"SELECT doc_id, {counts_sql}, {redacted_sql} AS red FROM s"
        ).fetchall()
    }
    got = pii_flags(redact_pii(_df(spark), out_col="red")).collect()
    assert len(got) == len(oracle)
    for r in got:
        exp = oracle[r["doc_id"]]
        assert (r["n_emails"], r["n_phones"], r["n_ipv4"], r["n_ssn_ids"],
                r["red"]) == exp, r["doc_id"]


def test_single_projection_plan(spark, documents):
    """The whole scrub (4 counts + has_pii + redaction) is one Project
    over one scan — no Exchange, no Generate, no Python eval. (r7:
    few-split inputs are spread by ensure_parallelism first; the
    zero-shuffle pin is asserted on a well-split input via an eager
    localCheckpoint that truncates the spreading repartition.)"""
    wide = documents.repartition(
        documents.sparkSession.sparkContext.defaultParallelism
    ).localCheckpoint()
    out = pii_flags(redact_pii(wide, out_col="red"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Generate" not in plan
    assert "Python" not in plan
    assert plan.count("Project") <= 2  # Catalyst collapses withColumns


def test_fuzz_differential(spark):
    """Seeded fuzz over an adversarial alphabet (digit runs, '@', '+',
    separators, dots) — Spark (Java regex) and DuckDB (RE2) must agree
    on every count AND the redacted bytes for every generated string.
    This is the empirical backing for the 'alternation-free greedy
    patterns behave identically' portability argument: ambiguous
    near-matches ('+1 2 3', '1.2.3.4.5', 'a@b', '123-45-678') are
    exactly what the generator produces."""
    import random

    rng = random.Random(42)
    atoms = [
        "a", "bob", "x9", "@", "+", "-", ".", " ", "  ", "\n",
        "1", "12", "123", "1234", "45", "6789", "555",
        "example.com", "b.co", ".uk", "@b.io", "+44", "+1 ",
        "192.168.0.1", "1.2.3.4.5", "123-45-6789", "123-45-678",
        "555-123-4567", "v1.2.3", "10.0.255.254", "%", "_", "see:",
    ]
    cases = [(i, "".join(rng.choice(atoms) for _ in range(rng.randint(1, 12))))
             for i in range(400)]

    counts_sql, redacted_sql = pii_oracle_sql("text")
    con = duckdb.connect()
    con.execute("CREATE TABLE f (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO f VALUES (?, ?)", cases)
    oracle = {r[0]: r[1:] for r in con.execute(
        f"SELECT doc_id, {counts_sql}, {redacted_sql} AS red FROM f"
    ).fetchall()}

    df = spark.createDataFrame(cases, "doc_id long, text string")
    got = pii_flags(redact_pii(df, out_col="red")).collect()
    mismatches = [
        (r["doc_id"], cases[r["doc_id"]][1],
         (r["n_emails"], r["n_phones"], r["n_ipv4"], r["n_ssn_ids"], r["red"]),
         oracle[r["doc_id"]])
        for r in got
        if (r["n_emails"], r["n_phones"], r["n_ipv4"], r["n_ssn_ids"],
            r["red"]) != oracle[r["doc_id"]]
    ]
    assert not mismatches, mismatches[:5]
