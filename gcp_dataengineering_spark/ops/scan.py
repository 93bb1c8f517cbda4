"""Scale-adaptive scan fan-out (optimization guide §2.5, "input
skew": one huge unsplittable file → repartition immediately after
the read).

Parquet scans parallelize at ROW-GROUP granularity. The local
fixtures are single-file single-row-group tables, so every scan —
and with it the whole map side of every downstream stage (explodes,
regex scans, Arrow/Python decode UDFs, partial aggregations) — runs
as ONE task regardless of core count. A 100 TB table has thousands
of splits and never hits this; a dev box, a small extract, or a
badly compacted landing table does.

:func:`fan_out_scan` repartitions round-robin up to the session's
default parallelism ONLY when the scan's planned partition count is
below it — at production scale the condition is false and the call
is a literal no-op (no exchange added to the plan). Round-robin
repartition is deterministic under task retry because Spark sorts
partitions before assignment (``spark.sql.execution.sortBeforeRepartition``,
on by default — SPARK-23207).

Callers: the llm_ops word-gram row builder (``dedup._gram_rows``,
behind ``shingle_rows`` / ``positional_gram_rows``), the Gaussian LSH
bucketer ``similarity.with_gaussian_buckets``, and the suite's and
bench's document reads (``suite.llm``, ``bench.py``). It is the one
place that reads a frame's partition count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out_scan(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism iff its
    planned partitioning has fewer partitions — the few-unsplittable-
    files case. No-op (returns ``df`` unchanged, no exchange) when the
    scan already parallelizes."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if par <= 1:
        return df
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        # planning failure here must not mask the query's own error
        return df
    if n >= par:
        return df
    return df.repartition(par)
