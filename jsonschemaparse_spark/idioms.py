"""Two Spark idioms the operators share, kept in one copy each.

- ``ensure_parallelism``: spread a few-split scan across the cores
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


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin `df` into defaultParallelism partitions when its plan
    is a scan plus narrow operators with fewer than
    max(defaultParallelism // 2, 2) splits. Reading that split count
    plans the query and launches no Spark job.

    Streaming frames and frames whose plan has an exchange or a cached
    relation pass through: AQE sizes post-shuffle partitions, and the
    split count of such a plan is read by running its upstream stages."""
    if df.isStreaming or _exchanged_or_cached(df):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(target // 2, 2):
        return df.repartition(target)
    return df


def _exchanged_or_cached(df: DataFrame) -> bool:
    # AQE wraps every plan that has an exchange in AdaptiveSparkPlan
    nodes = [df._jdf.queryExecution().executedPlan()]
    while nodes:
        node = nodes.pop()
        name = node.nodeName()
        if name.startswith(("AdaptiveSparkPlan", "InMemoryTableScan")) \
                or "Exchange" in name:
            return True
        kids = node.children()
        nodes += [kids.apply(i) for i in range(kids.size())]
    return False


def bind_once(value: Column, build: Callable[[Column], Column]) -> Column:
    """build(value) with `value` evaluated once per row.

    Written as element_at(transform(array(value), build), 1), so `value`
    reaches `build` as a lambda variable. A builder that reads it inside
    its own per-element lambdas then reads the bound array; referencing
    the `value` expression there directly makes interpreted HOFs
    re-evaluate it per element (a regex split re-run per window is
    O(words^2) per document)."""
    return F.element_at(F.transform(F.array(value), build), 1)
