"""Structured Streaming validation (SURVEY.md §2.11 late/streaming row).

The column kernels are ordinary Catalyst expressions, so the SAME compiled
rules run unchanged on a streaming DataFrame — the micro-batch is the
incremental chunk, mirroring the reference StreamParser's `_write` blocks
(parse.js:318-326) at table granularity. State is per-window aggregation
only (the reference keeps no cross-document state either; SURVEY.md §7.3-6).

- validate_stream:      annotate a stream with valid/violations columns.
- windowed_verdicts:    watermarked tumbling-window pass/fail rollups; rows
                        later than the watermark are dropped by Spark and
                        surface in the `late_rows` gap vs the batch count.
- foreach_batch_sink:   reuse of the batch pass per micro-batch (the
                        streaming twin of the reference's event sinks).
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.validator import (
    VALID_COL,
    VIOLATIONS_COL,
    validate_dataframe,
    verdict_rollup,
)


def validate_stream(
    stream_df: DataFrame,
    rules,
    extensions: bool = True,
) -> DataFrame:
    """Annotate a (possibly streaming) DataFrame with _jsp_valid and
    _jsp_violations: the batch pass's `annotated` frame, one query
    definition for batch and stream. Pure projection — fully
    streaming-compatible, no state. fallback='never' keeps it so: rules
    the Column compiler cannot express raise ExpressionFallback instead
    of routing to the Python paths."""
    return validate_dataframe(
        stream_df, rules, extensions=extensions, fallback="never"
    ).annotated


def windowed_verdicts(
    annotated: DataFrame,
    ts_col: str = "warc_ts",
    window: str = "1 minute",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Tumbling-window verdict rollup with late-data bound: (window,
    n_rows, n_failed_rows, n_violations, pass)."""
    grouped = annotated.withWatermark(ts_col, watermark).groupBy(
        F.window(F.col(ts_col), window).alias("window")
    )
    return verdict_rollup(grouped, F.size(VIOLATIONS_COL))


def streaming_dedup(
    stream_df: DataFrame,
    keys: Sequence[str] | str,
    ts_col: str = "warc_ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stateful streaming dedup: dropDuplicatesWithinWatermark — the
    streaming analog of functions.dedup.exact_dedup. State holds only keys
    inside the lateness horizon (watermark evicts older state), so at
    web-crawl rates the state store is bounded by the horizon's key count,
    not by history. Exactly-once within the horizon; duplicates farther
    apart than the watermark pass through (document the horizon!)."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def streaming_exact_dedup(
    stream_df: DataFrame,
    text_col: str = "text",
    ts_col: str = "warc_ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stage 1 of the clean_corpus recipe on a STREAM (r6, VERDICT r5 #7):
    content-key exact dedup via dropDuplicatesWithinWatermark, so a
    streaming ingest can run exact-dedup -> quality_flags -> filter (the
    recipe's stateless prefix) end-to-end. Keeps the FIRST ARRIVAL per
    content key inside the watermark horizon; the batch operator keeps
    the MIN-ID row — the two agree whenever arrival order follows id
    order (replaying a crawl log), pinned batch==stream in
    tests/test_streaming_clean.py. State is bounded by the horizon's
    distinct-key count (the md5 key is 32 chars regardless of doc size)."""
    from ..functions.dedup import content_key

    keyed = stream_df.withColumn("_jsp_ck", content_key(F.col(text_col)))
    return streaming_dedup(keyed, "_jsp_ck", ts_col, watermark).drop("_jsp_ck")


def stateful_validation_monitor(
    annotated: DataFrame,
    key_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-key RUNNING
    validation totals across micro-batches — the quality-degradation
    monitor a crawl pipeline runs per host/lang. Emits one row per key per
    batch: (key, n_rows, n_failed, fail_ratio, alert). State is two longs
    per key (O(distinct keys), no row history), Arrow-batched per group —
    no per-row Python."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_type = None
    for f in annotated.schema.fields:
        if f.name == key_col:
            key_type = f.dataType.simpleString()
    if key_type is None:
        raise ValueError(f"unknown key column {key_col!r}")
    out_schema = (
        f"{key_col} {key_type}, n_rows long, n_failed long, "
        "fail_ratio double, alert boolean"
    )
    state_schema = "n_rows long, n_failed long"

    def update(key, pdfs, state: GroupState):
        n, failed = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            failed += int((~pdf[VALID_COL].astype(bool)).sum())
        state.update((n, failed))
        ratio = failed / n if n else 0.0
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "n_rows": [n],
                "n_failed": [failed],
                "fail_ratio": [ratio],
                "alert": [ratio >= threshold],
            }
        )

    return annotated.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def foreach_batch_sink(
    rules,
    on_batch: Callable[[DataFrame, DataFrame, int], None],
    key_cols: Optional[Sequence[str]] = None,
    extensions: bool = True,
):
    """Returns a foreachBatch function that runs the BATCH validation pass
    on every micro-batch and hands (violations_df, verdicts_df, batch_id)
    to `on_batch` — single code path for batch and streaming. Both frames
    read the batch's one evaluation, freed when `on_batch` returns, so
    they are readable only inside it (as the micro-batch itself is)."""
    from ..plans.validator import validate_dataframe

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        res = validate_dataframe(batch_df, rules, key_cols=key_cols, extensions=extensions)
        res.evaluation()
        try:
            on_batch(res.violations(), res.verdicts(), batch_id)
        finally:
            res.release()

    return _sink


def validate_json_stream(
    stream_df: DataFrame,
    json_col: str,
    rules,
    key_cols: Optional[Sequence[str]] = None,
    engine: str = "typed",
    extensions: bool = False,
):
    """Streaming twin of validate_json_column (r4): validate a JSON-string
    column on a streaming DataFrame.

    engine='typed' (default): from_json + Column kernels — a PURE
    projection, so it composes with any streaming sink/window with zero
    state; the right default for known-shape payloads (event streams).
    engine='arrow': the exact-report Python evaluator via mapInPandas
    (streaming-compatible; each micro-batch ships Arrow batches). The
    HYBRID engine is deliberately not offered here: its flagged-count
    Observation and parallelism probe are batch-only concepts.

    Returns the annotated streaming frame (key cols + _jsp_valid +
    _jsp_violations); compose with windowed_verdicts/foreach_batch_sink.
    """
    from ..plans.json_validator import validate_json_column, validate_json_typed

    if engine == "typed":
        return validate_json_typed(
            stream_df, json_col, rules, key_cols=key_cols, extensions=extensions
        ).annotated
    if engine == "arrow":
        return validate_json_column(
            stream_df, json_col, rules, key_cols=key_cols,
            extensions=extensions, engine="arrow",
        ).annotated
    raise ValueError(f"engine must be 'typed' or 'arrow'; got {engine!r}")


def streaming_quality_report(
    stream: DataFrame,
    ts_col: str = "warc_ts",
    group_cols=("lang",),
    text_col: str = "text",
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    badwords=None,
    char_fraction_max_items: int = 10_000,
) -> DataFrame:
    """The corpus quality_report as a live monitoring view: per
    (window, *group_cols) gate pass rates + size stats over a tumbling
    event-time window with a late-data bound — what a production ingest
    writes to its metrics table so a collapsing keep-rate pages someone
    DURING the crawl, not after (the batch twin is
    text.quality_report; keep_rate_drift is the crawl-over-crawl
    comparison on the same counts).

    Same execution shape as the batch view: the fused quality_flags
    projection is stateless (streaming-prefix-safe, pinned for the
    gates in tests/test_streaming_clean.py), so the only streaming
    state is the windowed aggregate — one row per (window, group) with
    map-side partial aggregation, bounded by group cardinality per
    window."""
    from ..functions.text import quality_flags, quality_report_aggs

    flagged = quality_flags(stream, text_col, gopher=True, c4=True,
                            badwords=badwords,
                            char_fraction_max_items=char_fraction_max_items)
    return (
        flagged.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("window"),
                 *[F.col(c) for c in group_cols])
        .agg(
            # the SAME gate-count expressions as the batch
            # quality_report (text.quality_report_aggs — one
            # definition, so batch == stream cannot drift); avg is not
            # streamable incrementally across updates, so the windowed
            # view sums words instead
            *quality_report_aggs(),
            F.sum(F.col("n_words").cast("long")).alias("n_words_total"),
        )
    )
