"""Bucketed-table layout: co-located joins must plan without a shuffle."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from coap_rfc_knowledge_graph_spark.sources.catalog import save_bucketed


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_exchange(spark):
    a = spark.range(1000).select(
        F.concat(F.lit("u"), (F.col("id") % 100)).alias("url"), F.col("id").alias("a_val")
    )
    b = spark.range(500).select(
        F.concat(F.lit("u"), (F.col("id") % 100)).alias("url"), F.col("id").alias("b_val")
    )
    try:
        save_bucketed(a, "t_bucketed_a", buckets=8, key="url")
        save_bucketed(b, "t_bucketed_b", buckets=8, key="url")
        # the merge hint forces the both-sides-big shape; without it the
        # planner broadcasts the small side (also shuffle-free)
        joined = spark.table("t_bucketed_a").hint("merge").join(spark.table("t_bucketed_b"), on=["url"])
        tree = _plan(joined).split("\n\n")[0]
        assert "SortMergeJoin" in tree, tree
        assert "Exchange" not in tree, tree  # bucketing replaces the shuffle
        assert joined.count() == 1000 * 5  # 10 a-rows x 5 b-rows per url key
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bucketed_a")
        spark.sql("DROP TABLE IF EXISTS t_bucketed_b")


def test_bucketed_aggregation_avoids_shuffle(spark):
    a = spark.range(1000).select(
        F.concat(F.lit("u"), (F.col("id") % 50)).alias("url"), F.col("id").alias("v")
    )
    try:
        save_bucketed(a, "t_bucketed_agg", buckets=8, key="url")
        agg = spark.table("t_bucketed_agg").groupBy("url").agg(F.sum("v").alias("s"))
        tree = _plan(agg).split("\n\n")[0]
        assert "Exchange" not in tree, tree
        assert agg.count() == 50
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bucketed_agg")
