"""Distributed total-order ranking (zipWithIndex semantics) in pure
DataFrame ops — the shared scale-path replacement for a global
``Window.orderBy(...)`` (a single-task sort).

One kernel, :func:`zip_with_cumsum` (an exclusive prefix sum under a
total order): range-partition on the order keys -> per-partition
running sum (parallel window — partitionBy prevents the global sort)
-> broadcast per-partition cumulative offsets. No DF->RDD round-trip
(which would eagerly execute under AQE), no single-task stage. A rank
is that cumulative sum over a column of ones (:func:`zip_with_rank`).

The pid-stamped frame is localCheckpoint-ed: the offsets side and the
running-sum side must see the SAME physical partitioning (a re-evaluated
range exchange may re-sample split points); a plain persist could
silently recompute through a NEW exchange on executor loss, corrupting
the rank — the truncated-lineage checkpoint fails loudly instead.

Top-k has one kernel too, :func:`two_level_topk_per_key`; a global
top-k is its call with no key columns.

Used by ``operators.linking.embedded_surfaces`` (N1 first-seen index)
and ``operators.rules.value_dictionary`` (N7 non-float value ids —
VERDICT r2 item 3: the distinct-behaviour-string set grows with the
corpus, so the previous dictionary-sized global window was a
single-task sort on the scale path). Both take it only above one Arrow
batch of rows (``functions.rows.collect_one_batch``; N1 also above one
2048-row ``linking.SCORE_BLOCK``). Below it they
rank the collected rows with Python's ``sorted`` under
:func:`spark_order_key`, which gives the same index: a range exchange
and a ``localCheckpoint`` cost seconds of scheduling on a table that
fits one batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def spark_order_key(value):
    """Sort key that orders collected values as Spark's ascending sort
    does: nulls first, at every struct level, and strings in UTF-8 byte
    order (Python compares strings by code point, which is the same
    order). For strings, integers and structs (``Row``) of them; not for
    doubles, which Spark sorts with NaN last."""
    if value is None:
        return (0,)
    if isinstance(value, tuple):
        return (1, tuple(spark_order_key(v) for v in value))
    return (1, value)


def zip_with_rank(df: DataFrame, order_cols: list[str], idx_col: str = "idx") -> DataFrame:
    """Add ``idx_col``: the 0-based rank of each row under the total
    lexicographic order of ``order_cols`` (which must be a unique key —
    ties would make the rank nondeterministic across partitionings).
    The rank is :func:`zip_with_cumsum` over a column of ones."""
    ones = df.withColumn("__one", F.lit(1))
    return zip_with_cumsum(ones, order_cols, "__one", out_col=idx_col).drop("__one")


def two_level_topk_per_key(
    df: DataFrame, key_cols: list[str], order_by: list, k: int, rank_col: str | None = None
) -> DataFrame:
    """Top-k PER KEY under ``order_by`` without funneling a head key
    through one task: a plain ``Window.partitionBy(key)`` sorts ALL of
    a key's rows in one task, which at crawl scale means the biggest
    host owns the longest task (the same head-skew class the salted
    top-1 in ``operators.linking`` exists for). Level 1 ranks within
    (key, physical input partition) — a head key's rows stay spread
    over however many partitions they arrived in — and keeps k per
    cell; level 2 re-ranks the <= k * n_partitions survivors per key,
    bounded by construction. Exactly equal to the naive per-key window,
    tie-breaks included (``order_by`` must be a deterministic total
    order within each key). Pass ``rank_col`` to keep the 1-based
    within-key rank on the output."""
    per_cell = Window.partitionBy(*key_cols, "__pid").orderBy(*order_by)
    candidates = (
        df.withColumn("__pid", F.spark_partition_id())
        .withColumn("__r", F.row_number().over(per_cell))
        .filter(F.col("__r") <= k)
        .drop("__pid", "__r")
    )
    final = Window.partitionBy(*key_cols).orderBy(*order_by)
    out = candidates.withColumn("__r", F.row_number().over(final)).filter(F.col("__r") <= k)
    return out.withColumnRenamed("__r", rank_col) if rank_col else out.drop("__r")


def zip_with_rank_per_key(
    df: DataFrame, key_cols: list[str], order_cols: list[str], idx_col: str = "idx"
) -> DataFrame:
    """Add ``idx_col``: the 0-based rank of each row WITHIN its key
    under ``order_cols`` — without a per-key window (which sorts a
    head key in one task). Shape: one global :func:`zip_with_rank`
    over (key, order) — range-partitioned, no single-task stage — then
    subtract each key's minimum global rank (a key-sized aggregate).
    (key_cols + order_cols) must be a unique row key, same as
    :func:`zip_with_rank`'s determinism requirement."""
    ranked = zip_with_rank(df, [*key_cols, *order_cols], idx_col="__g")
    offsets = ranked.groupBy(*key_cols).agg(F.min("__g").alias("__o"))
    return (
        ranked.join(offsets, on=key_cols)
        .withColumn(idx_col, (F.col("__g") - F.col("__o")).cast("long"))
        .drop("__g", "__o")
    )


def zip_with_cumsum(
    df: DataFrame, order_cols: list[str], value_col: str, out_col: str = "cum"
) -> DataFrame:
    """Add ``out_col``: the EXCLUSIVE prefix sum of ``value_col`` under
    the total lexicographic order of ``order_cols`` in two stages
    (parallel per-partition window + broadcast per-partition offsets),
    so no single-task global sort at any size. Used by
    :func:`zip_with_rank` and ``operators.pretrain.pack_sequences``
    (global token offsets for concat-and-chunk packing)."""
    spark = df.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    ordered = df.repartitionByRange(n_parts, *order_cols)
    part = ordered.withColumn("__pid", F.spark_partition_id()).localCheckpoint(eager=False)
    in_part = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = part.withColumn("__local", F.coalesce(F.sum(value_col).over(in_part), F.lit(0)))
    totals = part.groupBy("__pid").agg(F.sum(value_col).alias("__tot"))
    off_w = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "__off", F.coalesce(F.sum("__tot").over(off_w), F.lit(0))
    ).select("__pid", "__off")
    return (
        local.join(F.broadcast(offsets), on="__pid")
        .withColumn(out_col, (F.col("__local") + F.col("__off")).cast("long"))
        .drop("__pid", "__local", "__off")
    )
