"""Two Spark idioms the operators share, kept in one copy each.

- ``ensure_parallelism``: spread a few-split input across the cores
  before an interpreted (CodegenFallback) or Python/Arrow operator.
- ``bind_once``: evaluate a column expression once per row and hand it
  to an array builder as a lambda variable.

This module imports only pyspark, so every module of the package can
import it at module level without an import cycle.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ensure_parallelism(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin `df` into `target` partitions (default: the context's
    defaultParallelism) when it has fewer than max(target // 2, 2);
    real multi-split inputs pass through shuffle-free.

    A streaming frame passes through unchanged: it has no partition count
    to probe. Every other frame's partition count is read through df.rdd,
    and a failing probe raises instead of silently turning spreading off.

    What the probe costs (measured on Spark 4.1.2, AQE on): on a plain
    file scan it only plans the query and launches no Spark job. On a
    plan with a shuffle it runs the upstream map stages as jobs of their
    own and returns the post-AQE partition count; an action on any frame
    derived from `df` (the spread one included) runs those stages again
    unless `df` is persisted."""
    if df.isStreaming:
        return df
    target = target or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(target // 2, 2):
        return df.repartition(target)
    return df


def bind_once(value: Column, build: Callable[[Column], Column]) -> Column:
    """build(value) with `value` evaluated once per row.

    Written as element_at(transform(array(value), build), 1), so `value`
    reaches `build` as a lambda variable. A builder that reads it inside
    its own per-element lambdas then reads the bound array; referencing
    the `value` expression there directly makes interpreted HOFs
    re-evaluate it per element (a regex split re-run per window is
    O(words^2) per document)."""
    return F.element_at(F.transform(F.array(value), build), 1)
