"""M7 checkpoint/resume + M8 streaming tests."""

import pytest

from pyspark.sql import functions as F

from conftest import jobs_of

RULES = {
    "type": "object",
    "required": ["url", "text", "lang"],
    "properties": {
        "text": {"type": "string", "minLength": 1},
        "lang": {"enum": ["en", "de", "fr", "es", "zh", "ja", "ru", "pt", "it", "nl"]},
    },
}


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    from jsonschemaparse_spark.sources import synthesize_webpages

    d = str(tmp_path_factory.mktemp("pages"))
    synthesize_webpages(spark, 3000, partitions=6).write.mode("overwrite").parquet(d)
    return d


def test_checkpoint_resume(spark, pages_dir, tmp_path_factory):
    from jsonschemaparse_spark.plans.checkpoint import run_with_checkpoint

    state = str(tmp_path_factory.mktemp("state"))

    first = run_with_checkpoint(spark, pages_dir, RULES, state, key_cols=["url"])
    assert first.n_files_skipped == 0
    assert first.n_files_total >= 6
    total_rows = sum(r["n_rows"] for r in first.verdicts.collect())
    assert total_rows == 3000
    base_failed = sum(r["n_failed_rows"] for r in first.verdicts.collect())

    # resume: everything already done -> zero work, identical verdicts
    second = run_with_checkpoint(spark, pages_dir, RULES, state, key_cols=["url"])
    assert second.n_files_skipped == second.n_files_total
    assert second.violations.count() == 0
    assert sum(r["n_rows"] for r in second.verdicts.collect()) == 3000
    assert sum(r["n_failed_rows"] for r in second.verdicts.collect()) == base_failed

    # different snapshot id -> full re-run (lineage is per snapshot)
    third = run_with_checkpoint(spark, pages_dir, RULES, state, snapshot_id="snap1", key_cols=["url"])
    assert third.n_files_skipped == 0


def test_checkpoint_partial_resume(spark, pages_dir, tmp_path_factory):
    """Kill-and-rerun: with only half the state present, the rerun touches
    only the missing files and final verdicts match a fresh full run."""
    from jsonschemaparse_spark.plans.checkpoint import run_with_checkpoint

    full_state = str(tmp_path_factory.mktemp("state_full"))
    full = run_with_checkpoint(spark, pages_dir, RULES, full_state, key_cols=["url"])
    full_metrics = {r["file"]: r["n_rows"] for r in full.verdicts.collect()}

    # simulate a crash: state contains only half the files
    half_state = str(tmp_path_factory.mktemp("state_half"))
    keep = sorted(full_metrics)[: len(full_metrics) // 2]
    (
        spark.read.parquet(f"{full_state}/metrics")
        .filter(F.col("file").isin(keep))
        .write.mode("overwrite")
        .parquet(f"{half_state}/metrics")
    )
    resumed = run_with_checkpoint(spark, pages_dir, RULES, half_state, key_cols=["url"])
    assert resumed.n_files_skipped == len(keep)
    got = {r["file"]: r["n_rows"] for r in resumed.verdicts.collect()}
    assert got == full_metrics


def test_streaming_validation(spark, pages_dir, tmp_path_factory):
    """availableNow file stream through the same kernels + windowed rollup."""
    from jsonschemaparse_spark.streaming import validate_stream, windowed_verdicts

    schema = spark.read.parquet(pages_dir).schema
    stream = spark.readStream.schema(schema).parquet(pages_dir)
    assert stream.isStreaming

    annotated = validate_stream(stream, RULES)
    verd = windowed_verdicts(annotated, ts_col="warc_ts", window="10 minutes",
                             watermark="2 hours")
    q = (
        verd.writeStream.format("memory")
        .queryName("verdicts_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from verdicts_stream").collect()
    assert rows, "no windows emitted"
    # batch pass over the same data must agree on totals
    batch_total = spark.read.parquet(pages_dir).count()
    stream_total = sum(r["n_rows"] for r in rows)
    assert stream_total == batch_total
    # the same rule evaluation: per-window failures sum to the batch count
    from jsonschemaparse_spark.plans import validate_dataframe

    batch_failed = validate_dataframe(
        spark.read.parquet(pages_dir), RULES, key_cols=["url"]
    ).summary()["n_failed_rows"]
    assert sum(r["n_failed_rows"] for r in rows) == batch_failed


def test_foreach_batch_sink(spark, pages_dir):
    from jsonschemaparse_spark.streaming import foreach_batch_sink

    schema = spark.read.parquet(pages_dir).schema
    stream = spark.readStream.schema(schema).parquet(pages_dir)
    seen = {}

    def on_batch(violations, verdicts, batch_id):
        seen["violations"] = violations.count()
        seen["rows"] = sum(r["n_rows"] for r in verdicts.collect())

    from conftest import stored_rdds

    before = stored_rdds(spark)
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_sink(RULES, on_batch, key_cols=["url"])
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert seen["rows"] == 3000
    assert seen["violations"] > 0
    assert stored_rdds(spark) <= before  # each batch's evaluation was freed


def test_streaming_dedup(spark, tmp_path_factory):
    """dropDuplicatesWithinWatermark stream agrees with batch dropDuplicates
    when all duplicates fall inside the watermark horizon."""
    from jsonschemaparse_spark.sources import synthesize_webpages
    from jsonschemaparse_spark.streaming import streaming_dedup

    d = str(tmp_path_factory.mktemp("dup_pages"))
    base = synthesize_webpages(spark, 500, partitions=2)
    base.unionByName(base).write.mode("overwrite").parquet(d)  # every url twice

    schema = spark.read.parquet(d).schema
    stream = spark.readStream.schema(schema).parquet(d)
    deduped = streaming_dedup(stream, "url", ts_col="warc_ts", watermark="1 hour")
    q = (
        deduped.writeStream.format("memory").queryName("dedup_sink")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("select count(*) n, count(distinct url) d from dedup_sink").first()
    assert got["n"] == 500 and got["d"] == 500


def test_stateful_validation_monitor(spark, pages_dir):
    """applyInPandasWithState accumulates per-key totals across
    micro-batches; final per-key totals equal the batch groupBy."""
    from jsonschemaparse_spark.streaming import (
        stateful_validation_monitor,
        validate_stream,
    )

    schema = spark.read.parquet(pages_dir).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "2").parquet(pages_dir)
    annotated = validate_stream(stream, RULES)
    monitored = stateful_validation_monitor(annotated, "lang", threshold=0.99)
    q = (
        monitored.writeStream.format("memory").queryName("monitor_sink")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)

    # last emission per key = cumulative totals = batch ground truth
    got = {
        r["lang"]: (r["n_rows"], r["n_failed"])
        for r in spark.sql(
            "select lang, max(n_rows) n_rows, max(n_failed) n_failed "
            "from monitor_sink group by lang"
        ).collect()
    }
    from jsonschemaparse_spark.plans import validate_dataframe

    batch = validate_dataframe(spark.read.parquet(pages_dir), RULES, key_cols=["url"])
    truth = {
        r["lang"]: (r["n"], r["f"])
        for r in batch.annotated.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.when(F.col("_jsp_valid"), 0).otherwise(1)).alias("f"))
        .collect()
    }
    assert got == truth


# ---------------------------------------------------------------------------
# r4 stretch (VERDICT r3 #9): JSON checkpoint + the SOUND typed-skip e2e
# ---------------------------------------------------------------------------
JSON_RULES = {
    "type": "object",
    "required": ["k"],
    "properties": {"k": {"type": "integer", "maximum": 30}},
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _verdict_map(run):
    return {
        r["file"].rsplit("/", 1)[-1]: (r["n_rows"], r["n_failed_rows"],
                                       r["n_violations"], r["pass"])
        for r in run.verdicts.collect()
    }


def test_json_checkpoint_kill_rerun_and_typed_skip(spark, tmp_path_factory,
                                                   monkeypatch):
    import jsonschemaparse_spark.plans.json_validator as jv
    from jsonschemaparse_spark.plans.checkpoint import run_json_with_checkpoint

    # record every result the runner builds (it looks the validators up
    # on their module at call time)
    built = []

    def recording(real):
        def wrapper(*a, **kw):
            built.append(real(*a, **kw))
            return built[-1]
        return wrapper

    for name in ("validate_json_column", "validate_json_typed"):
        monkeypatch.setattr(jv, name, recording(getattr(jv, name)))

    data = str(tmp_path_factory.mktemp("json_data"))
    state = str(tmp_path_factory.mktemp("json_state"))

    # batch 1: all docs parse cleanly; ids > 30 violate maximum (violations
    # WITHOUT any row hitting the rescue UDF -> the run is provably clean)
    spark.createDataFrame(
        [(i, '{"k": %d}' % i) for i in range(50)], "id long, doc string"
    ).coalesce(1).write.mode("append").parquet(data)

    r1 = run_json_with_checkpoint(spark, data, "doc", JSON_RULES, state)
    assert (r1.n_files_total, r1.n_files_skipped, r1.engine_used) == (1, 0, "auto")
    assert all(r["clean_typed_ok"] for r in r1.verdicts.collect())
    # the hybrid first pass carries the Python rescue stage in-plan
    assert len(built) == 1 and "Python" in _plan(built[0].annotated)
    v1 = _verdict_map(r1)

    # "kill" after batch 1's state landed; new data arrives
    spark.createDataFrame(
        [(100 + i, '{"k": %d}' % i) for i in range(40)], "id long, doc string"
    ).coalesce(1).write.mode("append").parquet(data)

    r2 = run_json_with_checkpoint(spark, data, "doc", JSON_RULES, state)
    assert (r2.n_files_total, r2.n_files_skipped) == (2, 1)
    v2 = _verdict_map(r2)
    assert set(v1) < set(v2) and all(v2[f] == v1[f] for f in v1)

    # identical results vs a from-scratch run over the same inputs
    fresh_state = str(tmp_path_factory.mktemp("json_state_fresh"))
    rf = run_json_with_checkpoint(spark, data, "doc", JSON_RULES, fresh_state)
    assert _verdict_map(rf) == v2
    assert rf.violations.count() == (
        spark.read.parquet(f"{state}/violations").count()
    )  # resumed runs accumulated exactly the fresh run's violation rows

    # reprocess: every file proved clean -> UDF-free typed plan end-to-end
    n_built = len(built)
    r3 = run_json_with_checkpoint(
        spark, data, "doc", JSON_RULES, state, reprocess=True
    )
    assert (r3.engine_used, r3.n_files_typed) == ("typed", 2)
    assert len(built) == n_built + 1  # one evaluation for both files
    assert "Python" not in _plan(built[-1].annotated)  # the skipped stage
    assert _verdict_map(r3) == v2  # identical verdicts, rows, violations


def test_json_checkpoint_flagged_files_stay_on_auto(spark, tmp_path_factory):
    """A run with rows routed to the rescue UDF (type-mismatch docs) must
    NOT be marked clean; reprocess keeps those files on the full engine."""
    from jsonschemaparse_spark.plans.checkpoint import run_json_with_checkpoint

    data = str(tmp_path_factory.mktemp("json_dirty"))
    state = str(tmp_path_factory.mktemp("json_dirty_state"))
    spark.createDataFrame(
        [(1, '{"k": 5}'), (2, '{"k": "not-an-int"}'), (3, '{"k": 60}')],
        "id long, doc string",
    ).coalesce(1).write.mode("append").parquet(data)

    r1 = run_json_with_checkpoint(spark, data, "doc", JSON_RULES, state)
    assert not any(r["clean_typed_ok"] for r in r1.verdicts.collect())
    v1 = _verdict_map(r1)

    r2 = run_json_with_checkpoint(
        spark, data, "doc", JSON_RULES, state, reprocess=True
    )
    assert (r2.engine_used, r2.n_files_typed) == ("auto", 0)
    assert _verdict_map(r2) == v1


def test_json_checkpoint_per_file_graduation_and_no_dup(spark, tmp_path_factory):
    """r4 review fixes #3/#5: a clean file in the same batch as a dirty
    file still graduates to the typed skip (per-file flag aggregation, not
    the run-wide observation), and reprocess SUPERSEDES the snapshot's
    persisted violations instead of appending duplicates."""
    from jsonschemaparse_spark.plans.checkpoint import run_json_with_checkpoint

    data = str(tmp_path_factory.mktemp("json_mixed"))
    state = str(tmp_path_factory.mktemp("json_mixed_state"))
    # file 1: clean-parsing docs (some violate maximum -> violations only)
    spark.createDataFrame(
        [(i, '{"k": %d}' % i) for i in range(40)], "id long, doc string"
    ).coalesce(1).write.mode("append").parquet(data)
    # file 2: contains a type-mismatch doc -> flagged rows
    spark.createDataFrame(
        [(100, '{"k": 1}'), (101, '{"k": "zzz"}')], "id long, doc string"
    ).coalesce(1).write.mode("append").parquet(data)

    r1 = run_json_with_checkpoint(spark, data, "doc", JSON_RULES, state)
    by_file = {r["file"]: r["clean_typed_ok"] for r in r1.verdicts.collect()}
    assert sorted(by_file.values()) == [False, True]  # one graduates, one not
    v1 = _verdict_map(r1)
    n_persisted_1 = spark.read.parquet(f"{state}/violations").count()

    # reprocess: ONE file on the typed plan, the dirty one stays on auto
    r2 = run_json_with_checkpoint(
        spark, data, "doc", JSON_RULES, state, reprocess=True
    )
    assert (r2.engine_used, r2.n_files_typed) == ("mixed", 1)
    assert _verdict_map(r2) == v1
    # supersede, not append: the durable violations store did not grow
    assert spark.read.parquet(f"{state}/violations").count() == n_persisted_1

    # a second reprocess is idempotent too
    r3 = run_json_with_checkpoint(
        spark, data, "doc", JSON_RULES, state, reprocess=True
    )
    assert _verdict_map(r3) == v1
    assert spark.read.parquet(f"{state}/violations").count() == n_persisted_1


def test_validate_json_stream(spark, tmp_path_factory):
    """Streaming JSON validation (typed + arrow engines) agrees with the
    batch hybrid pass on verdict totals; the typed plan is a pure
    projection (composes with availableNow file streams)."""
    from jsonschemaparse_spark.plans.json_validator import validate_json_column
    from jsonschemaparse_spark.streaming import validate_json_stream

    d = str(tmp_path_factory.mktemp("json_stream"))
    spark.createDataFrame(
        [(i, '{"k": %d}' % (i % 70)) for i in range(400)]
        + [(1000, '{"k": "bad"}'), (1001, None)],
        "id long, doc string",
    ).write.mode("overwrite").parquet(d)
    batch = spark.read.parquet(d)
    expected_failed = (
        validate_json_column(batch, "doc", JSON_RULES, key_cols=["id"])
        .annotated.filter("NOT _jsp_valid").count()
    )

    schema = batch.schema
    for engine in ("typed", "arrow"):
        stream = spark.readStream.schema(schema).parquet(d)
        ann = validate_json_stream(stream, "doc", JSON_RULES,
                                   key_cols=["id"], engine=engine)
        assert ann.isStreaming
        name = f"json_stream_{engine}"
        q = (ann.writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = spark.sql(
            f"select count(*) n, sum(case when _jsp_valid then 0 else 1 end) f "
            f"from {name}").first()
        assert got["n"] == 402
        assert got["f"] == expected_failed, engine


# =========================================================================
# moved from test_round2_fixes.py (round-fix regression pins, split by
# topic per VERDICT r5 #8)
# =========================================================================
import pytest  # noqa: E402,F811,F401
from pyspark.sql import functions as F  # noqa: E402,F811,F401
from jsonschemaparse_spark.plans import VALID_COL  # noqa: E402,F811,F401

def test_checkpoint_no_helper_column_corruption(spark, tmp_path):
    """A root schema with additionalProperties must not see the internal
    _jsp_file column as a property of the row object."""
    from jsonschemaparse_spark.plans.checkpoint import run_with_checkpoint

    inp = str(tmp_path / "in")
    spark.createDataFrame(
        [("u1", "hello"), ("u2", "world")], "url string, text string"
    ).repartition(2).write.parquet(inp)

    rules = {
        "properties": {
            "url": {"type": "string"},
            "text": {"type": "string", "minLength": 1},
        },
        "additionalProperties": False,
        "required": ["url"],
    }
    state = str(tmp_path / "state")
    run = run_with_checkpoint(spark, inp, rules, state, key_cols=["url"])
    verdicts = run.verdicts.collect()
    assert sum(r["n_failed_rows"] for r in verdicts) == 0
    assert run.violations.count() == 0

    # resume: nothing fresh; violations frame must carry the FULL schema
    run2 = run_with_checkpoint(spark, inp, rules, state, key_cols=["url"])
    assert run2.n_files_skipped == run2.n_files_total
    assert run2.violations.columns == [
        "url", "constraint_id", "path", "keyword", "expected", "actual", "message"
    ]
    assert run2.violations.count() == 0


def test_checkpoint_survives_arrow_fallback(spark, tmp_path):
    """Rules that force the whole-row Arrow fallback must still checkpoint
    per REAL file (finding #4: input_file_name above an exchange is '')."""
    from jsonschemaparse_spark.plans.checkpoint import run_with_checkpoint

    inp = str(tmp_path / "in")
    spark.createDataFrame(
        [(f"u{i}", "look" * (i % 3)) for i in range(20)], "url string, text string"
    ).repartition(3).write.parquet(inp)
    # ECMAScript-only regex at the ROOT patternProperties -> whole-row fallback
    rules = {"patternProperties": {"\\p{L}+": {}},
             "properties": {"text": {"type": "string"}}}
    state = str(tmp_path / "state")
    run1 = run_with_checkpoint(spark, inp, rules, state, key_cols=["url"])
    files = {r["file"] for r in run1.verdicts.collect()}
    assert run1.n_files_skipped == 0 and "" not in files and len(files) >= 3
    run2 = run_with_checkpoint(spark, inp, rules, state, key_cols=["url"])
    assert run2.n_files_skipped == run2.n_files_total


# =========================================================================
# moved from test_round5_fixes.py (round-fix regression pins, split by
# topic per VERDICT r5 #8)
# =========================================================================
import pytest  # noqa: E402,F811,F401
from pyspark.sql import functions as F  # noqa: E402,F811,F401

def test_checkpoint_empty_input_no_state(spark, tmp_path):
    from jsonschemaparse_spark.plans.checkpoint import (
        run_json_with_checkpoint,
        run_with_checkpoint,
    )

    empty_in = str(tmp_path / "empty_in")
    spark.createDataFrame([], "id long, doc string") \
        .coalesce(1).write.parquet(empty_in)
    # the zero-row file is an input file: processed once, with no
    # verdict row (verdicts group rows by file), and skipped after
    run = run_json_with_checkpoint(
        spark, empty_in, "doc", {"properties": {}},
        state_dir=str(tmp_path / "state_a"), key_cols=["id"],
    )
    assert run.verdicts.count() == 0
    assert run.n_files_total == 1 and run.engine_used in ("none", "auto")
    again = run_json_with_checkpoint(
        spark, empty_in, "doc", {"properties": {}},
        state_dir=str(tmp_path / "state_a"), key_cols=["id"],
    )
    assert (again.n_files_skipped, again.engine_used) == (1, "none")

    run2 = run_with_checkpoint(
        spark, empty_in, {"properties": {}},
        state_dir=str(tmp_path / "state_b"), key_cols=["id"],
    )
    assert run2.verdicts.count() == 0
    assert run2.n_files_total == 1
    again2 = run_with_checkpoint(
        spark, empty_in, {"properties": {}},
        state_dir=str(tmp_path / "state_b"), key_cols=["id"],
    )
    assert again2.n_files_skipped == 1


def test_checkpoint_verdicts_column_order_consistent(spark, tmp_path):
    """Fresh-state empty verdicts and existing-state reads expose the same
    column ORDER (review #8)."""
    from jsonschemaparse_spark.plans.checkpoint import run_with_checkpoint

    empty_in = str(tmp_path / "in")
    spark.createDataFrame([], "id long, text string").coalesce(1) \
        .write.parquet(empty_in)
    fresh = run_with_checkpoint(
        spark, empty_in, {"properties": {}},
        state_dir=str(tmp_path / "st"), key_cols=["id"])
    data_in = str(tmp_path / "in2")
    spark.createDataFrame([(1, "x")], "id long, text string").coalesce(1) \
        .write.parquet(data_in)
    real = run_with_checkpoint(
        spark, data_in, {"properties": {}},
        state_dir=str(tmp_path / "st2"), key_cols=["id"])
    assert fresh.verdicts.columns == real.verdicts.columns



# =========================================================================
# what the checkpoint runners must keep: state column lists, Spark job
# counts per run kind, a reprocess killed at its commit, and a state dir
# from before the commit log
# =========================================================================
REPORT_COLS = ["constraint_id", "path", "keyword", "expected", "actual", "message"]
ROW_RULES = {"properties": {"id": {"type": "integer", "maximum": 2000}}}


def _three_files(spark, path):
    """3 parquet files x 1000 rows of (id, doc)."""
    spark.range(3000).select(
        F.col("id"),
        F.format_string('{"k": %d}', (F.col("id") % 70).cast("int")).alias("doc"),
    ).repartition(3).write.parquet(path)


def test_checkpoint_runners_free_their_evaluation_blocks(spark, tmp_path,
                                                         monkeypatch):
    """Both state writes of a run read each result's checkpointed
    evaluation, and the run frees its blocks once they are written."""
    from jsonschemaparse_spark.plans.checkpoint import (
        run_json_with_checkpoint,
        run_with_checkpoint,
    )
    from jsonschemaparse_spark.plans.validator import ValidationResult

    built = {}
    evaluation = ValidationResult.evaluation

    def recorded(self):
        frame = evaluation(self)
        built[self._blocks.id()] = self._blocks
        return frame

    monkeypatch.setattr(ValidationResult, "evaluation", recorded)
    data = str(tmp_path / "in")
    _three_files(spark, data)
    run_with_checkpoint(spark, data, ROW_RULES, str(tmp_path / "row_state"),
                        key_cols=["id"])
    run_json_with_checkpoint(spark, data, "doc", JSON_RULES,
                             str(tmp_path / "json_state"), key_cols=["id"])
    assert len(built) == 2
    kept = spark.sparkContext._jsc.sc().getPersistentRDDs()
    assert not any(kept.contains(i) for i in built)


def test_checkpoint_state_columns_and_cold_run_jobs(spark, tmp_path):
    from jsonschemaparse_spark.plans.checkpoint import (
        run_json_with_checkpoint,
        run_with_checkpoint,
    )

    data = str(tmp_path / "in")
    _three_files(spark, data)
    row_state, json_state = str(tmp_path / "row_state"), str(tmp_path / "json_state")

    run, row_jobs = jobs_of(spark, "ckpt-row-cold", lambda: run_with_checkpoint(
        spark, data, ROW_RULES, row_state, key_cols=["id"]))
    assert run.n_files_total == 3
    jrun, json_jobs = jobs_of(spark, "ckpt-json-cold", lambda: run_json_with_checkpoint(
        spark, data, "doc", JSON_RULES, json_state, key_cols=["id"]))
    assert jrun.n_files_total == 3
    # the counts of this input (Spark 4.1.2, local[4], AQE on): listing
    # the input files runs no job; the row runner infers the pending
    # files' schema (one footer job) and the JSON runner the input's, to
    # read its two columns; each result is evaluated once for both writes
    assert row_jobs <= 5 and json_jobs <= 5, (row_jobs, json_jobs)
    # the row runner's violations are read back from its batch: writing
    # them scans those files and runs no validator
    _, write_jobs = jobs_of(spark, "ckpt-row-out", lambda: run.violations.write
                            .parquet(str(tmp_path / "out")))
    # a resume learns its done set from the commit log, on the driver, and
    # with nothing pending reads no footer: its empty violations take the
    # key types the last batch recorded
    resumed, resume_jobs = jobs_of(spark, "ckpt-row-resume", lambda: run_with_checkpoint(
        spark, data, ROW_RULES, row_state, key_cols=["id"]))
    assert resumed.n_files_skipped == 3
    assert resumed.violations.columns == ["id"] + REPORT_COLS
    assert resumed.violations.schema["id"].dataType.simpleString() == "bigint"
    jresumed, json_resume_jobs = jobs_of(spark, "ckpt-json-resume", lambda: (
        run_json_with_checkpoint(spark, data, "doc", JSON_RULES, json_state,
                                 key_cols=["id"])))
    assert jresumed.n_files_skipped == 3 and jresumed.engine_used == "none"
    assert resume_jobs == json_resume_jobs == 0, (resume_jobs, json_resume_jobs)
    # a reprocess reads this snapshot's clean flags (one job) and
    # rewrites nothing
    rerun, reprocess_jobs = jobs_of(spark, "ckpt-json-reprocess", lambda: (
        run_json_with_checkpoint(spark, data, "doc", JSON_RULES, json_state,
                                 key_cols=["id"], reprocess=True)))
    assert rerun.n_files_typed == 3
    assert write_jobs <= 1 and reprocess_jobs <= 6, (write_jobs, reprocess_jobs)

    def cols(path):
        return spark.read.parquet(path).columns

    assert cols(f"{row_state}/metrics") == [
        "file", "n_rows", "n_failed_rows", "n_violations", "pass", "snapshot_id"]
    assert cols(f"{row_state}/violations") == ["id"] + REPORT_COLS
    assert cols(f"{json_state}/metrics") == [
        "snapshot_id", "file", "n_rows", "n_failed_rows", "n_violations", "pass",
        "clean_typed_ok"]
    assert cols(f"{json_state}/violations") == (
        ["id", "file"] + REPORT_COLS + ["snapshot_id"])


def test_checkpoint_resume_validates_a_column_an_appended_file_adds(spark,
                                                                     tmp_path):
    """The row runner validates every data column of the PENDING files,
    so a file appended with a new column has that column checked on
    resume, though the input's schema (one file's footer) lacks it."""
    from jsonschemaparse_spark.plans.checkpoint import run_with_checkpoint

    data, state = tmp_path / "in", str(tmp_path / "state")
    rules = {"properties": {"id": {"type": "integer"},
                            "b": {"type": "integer", "maximum": 5}}}
    spark.range(10).write.parquet(str(data / "a"))
    first = run_with_checkpoint(spark, str(data / "a"), rules, state,
                                key_cols=["id"])
    assert first.violations.count() == 0
    spark.range(10, 20).withColumn("b", F.col("id")).write.parquet(str(data / "z"))
    for f in (data / "z").glob("*.parquet"):
        f.rename(data / "a" / f"z-{f.name}")  # sorts after the first file

    run = run_with_checkpoint(spark, str(data / "a"), rules, state,
                              key_cols=["id"])
    assert run.n_files_skipped >= 1
    assert sorted(r["id"] for r in run.violations.collect()) == list(range(10, 20))
    assert {r["keyword"] for r in run.violations.collect()} == {"maximum"}


def test_json_checkpoint_returns_the_violations_it_wrote(spark, tmp_path):
    """The returned violations are the rows the run made durable, read
    back from the state: acting on them runs no validator, even on the
    Arrow route where every document goes through Python."""
    from jsonschemaparse_spark.plans.checkpoint import run_json_with_checkpoint

    data, state = str(tmp_path / "in"), str(tmp_path / "state")
    spark.createDataFrame(
        [(i, '{"s": "%s"}' % ("a" * (i % 3) or "b")) for i in range(30)],
        "id long, doc string",
    ).repartition(2).write.parquet(data)
    rules = {"properties": {"s": {"type": "string", "pattern": "^a+$"}}}

    run = run_json_with_checkpoint(spark, data, "doc", rules, state)
    plan = _plan(run.violations)  # the Arrow route plans as MapInPandas
    assert not any(n in plan for n in ("Python", "MapInPandas", "MapInArrow")), plan
    assert sorted(r["id"] for r in run.violations.collect()) == list(range(0, 30, 3))
    assert run.violations.columns == ["id"] + REPORT_COLS


@pytest.mark.parametrize("store", ["metrics", "violations"])
def test_json_checkpoint_swap_crash_keeps_other_snapshots(spark, tmp_path,
                                                          monkeypatch, store):
    """A reprocess killed at its write into one store (for `violations`,
    after the metrics files of the batch have landed uncommitted) loses no
    other snapshot's rows, and the rerun commits."""
    import os

    from conftest import Killed
    from pyspark.sql.readwriter import DataFrameWriter

    from jsonschemaparse_spark.plans.checkpoint import run_json_with_checkpoint

    data, state = str(tmp_path / "in"), str(tmp_path / "state")
    spark.createDataFrame(
        [(i, '{"k": %d}' % i) for i in range(50)], "id long, doc string"
    ).coalesce(1).write.parquet(data)
    for snap in ("a", "b"):
        run_json_with_checkpoint(spark, data, "doc", JSON_RULES, state,
                                 snapshot_id=snap)

    def by_snapshot(name):
        rows = spark.read.parquet(f"{state}/{name}").groupBy("snapshot_id").count()
        return {r["snapshot_id"]: r["count"] for r in rows.collect()}

    before = {name: by_snapshot(name) for name in ("metrics", "violations")}
    assert before["violations"]["a"] == 19  # k = 31..49 break maximum 30

    target, real_parquet = os.path.join(state, store), DataFrameWriter.parquet

    def parquet(self, path, *a, **kw):
        if os.fspath(path) == target:
            raise Killed()
        return real_parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(Killed):
        run_json_with_checkpoint(spark, data, "doc", JSON_RULES, state,
                                 snapshot_id="b", reprocess=True)
    monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)

    rerun = run_json_with_checkpoint(spark, data, "doc", JSON_RULES, state,
                                     snapshot_id="a")
    assert rerun.n_files_skipped == rerun.n_files_total == 1
    again = run_json_with_checkpoint(spark, data, "doc", JSON_RULES, state,
                                     snapshot_id="b", reprocess=True)
    assert again.engine_used == "typed"
    assert {name: by_snapshot(name) for name in before} == before


def test_json_checkpoint_reprocess_killed_at_commit_keeps_other_snapshot(
        spark, tmp_path, monkeypatch):
    """A reprocess writes only its own snapshot's rows. Killed at the
    rename that commits its manifest, it leaves the other snapshot's rows
    and the data files that hold them (names and sizes) as they were, and
    the rerun commits."""
    import os

    from conftest import Killed

    from jsonschemaparse_spark.plans.checkpoint import (
        _live,
        _manifests,
        run_json_with_checkpoint,
    )

    data, state = str(tmp_path / "in"), str(tmp_path / "state")
    spark.createDataFrame(
        [(i, '{"k": %d}' % i) for i in range(50)], "id long, doc string"
    ).coalesce(1).write.parquet(data)
    for snap in ("a", "b"):
        run_json_with_checkpoint(spark, data, "doc", JSON_RULES, state,
                                 snapshot_id=snap)

    def by_snapshot(name):
        rows = spark.read.parquet(f"{state}/{name}").groupBy("snapshot_id").count()
        return {r["snapshot_id"]: r["count"] for r in rows.collect()}

    def files_of(snap):
        return {(store, f, os.path.getsize(os.path.join(state, store, f)))
                for m in _live(_manifests(state), snap)
                for store, files in m["data"].items() for f in files}

    before = {name: by_snapshot(name) for name in ("metrics", "violations")}
    assert before["violations"]["a"] == 19  # k = 31..49 break maximum 30
    a_files = files_of("a")
    real_replace = os.replace

    def replace(src, dst, *a, **kw):
        if os.path.dirname(os.fspath(dst)) == os.path.join(state, "_commits"):
            raise Killed()
        return real_replace(src, dst, *a, **kw)

    monkeypatch.setattr(os, "replace", replace)
    with pytest.raises(Killed):
        run_json_with_checkpoint(spark, data, "doc", JSON_RULES, state,
                                 snapshot_id="b", reprocess=True)
    monkeypatch.setattr(os, "replace", real_replace)
    assert {name: by_snapshot(name)["a"] for name in before} == {
        name: before[name]["a"] for name in before}
    assert files_of("a") == a_files

    rerun = run_json_with_checkpoint(spark, data, "doc", JSON_RULES, state,
                                     snapshot_id="a")
    assert rerun.n_files_skipped == rerun.n_files_total == 1
    again = run_json_with_checkpoint(spark, data, "doc", JSON_RULES, state,
                                     snapshot_id="b", reprocess=True)
    assert again.engine_used == "typed"
    assert {name: by_snapshot(name) for name in before} == before
    assert files_of("a") == a_files


def test_json_checkpoint_adopts_a_state_dir_without_commit_log(spark, tmp_path):
    """A state dir in the flat layout, with no commit log: two snapshots'
    rows in one pair of stores, written with the pinned columns. It
    resumes without revalidating a file, and a reprocess of one snapshot
    leaves the other's verdicts as they were."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from jsonschemaparse_spark.plans.checkpoint import run_json_with_checkpoint

    data, ref, state = (str(tmp_path / d) for d in ("in", "ref", "state"))
    spark.createDataFrame(
        [(i, '{"k": %d}' % i) for i in range(50)], "id long, doc string"
    ).coalesce(1).write.parquet(data)
    first = run_json_with_checkpoint(spark, data, "doc", JSON_RULES, ref)
    for store, frame in (("metrics", first.verdicts),
                         ("violations", spark.read.parquet(f"{ref}/violations"))):
        reduce(DataFrame.unionByName, [
            frame.withColumn("snapshot_id", F.lit(snap)) for snap in ("a", "b")
        ]).coalesce(1).write.parquet(f"{state}/{store}")
    assert spark.read.parquet(f"{state}/metrics").columns == [
        "snapshot_id", "file", "n_rows", "n_failed_rows", "n_violations", "pass",
        "clean_typed_ok"]
    assert spark.read.parquet(f"{state}/violations").columns == (
        ["id", "file"] + REPORT_COLS + ["snapshot_id"])
    expect = _verdict_map(first)

    for snap in ("a", "b"):
        run = run_json_with_checkpoint(spark, data, "doc", JSON_RULES, state,
                                       snapshot_id=snap)
        assert (run.n_files_skipped, run.engine_used) == (1, "none")
        assert _verdict_map(run) == expect

    redo = run_json_with_checkpoint(spark, data, "doc", JSON_RULES, state,
                                    snapshot_id="a", reprocess=True)
    assert (redo.engine_used, _verdict_map(redo)) == ("typed", expect)
    assert redo.violations.count() == 19
    other = run_json_with_checkpoint(spark, data, "doc", JSON_RULES, state,
                                     snapshot_id="b")
    assert (other.n_files_skipped, _verdict_map(other)) == (1, expect)
