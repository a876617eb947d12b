"""Table layout discipline: bucketed url-keyed tables, Iceberg-shaped.

Production target (north rule) is Iceberg: ``pages`` partitioned by
``bucket(url, B) + days(warc_ts)``, every derived table bucketed on its
join key, written with ``df.writeTo(cat.db.tbl)``. Iceberg jars are not
in this container, so this module implements the same layout discipline
on Spark's native bucketed managed tables — which deliver the actual
scale property the layout exists for: **two tables bucketed on the same
key join WITHOUT a shuffle** (SortMergeJoin with no Exchange on either
side; pinned by tests/test_bucketing.py). The Iceberg path itself IS
implemented (:func:`save_iceberg` — ``writeTo(...).partitionedBy(
bucket(B, key), days(ts)).createOrReplace()``) and routed to by
:func:`save_table` whenever ``$SPARK_GRAFT_ICEBERG_CATALOG`` names a
configured catalog; tests/test_iceberg.py exercises it when an
iceberg-spark-runtime jar is present and skips otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def save_bucketed(
    df: DataFrame,
    table: str,
    buckets: int = 16,
    key: str = "url",
    sort: bool = True,
) -> None:
    """Write ``df`` as a bucketed managed table (overwrite)."""
    writer = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table)


def save_iceberg(
    df: DataFrame,
    table: str,
    buckets: int = 16,
    key: str = "url",
    day_col: str | None = None,
) -> None:
    """The Iceberg form of :func:`save_bucketed` — the production write
    path the north rule names: ``writeTo(cat.db.tbl).partitionedBy(
    bucket(B, key)[, days(ts)]).createOrReplace()``. Requires an Iceberg
    catalog on the session (spark.sql.catalog.<cat> configured and the
    iceberg-spark-runtime jar on the classpath); exercised by the
    skip-gated tests/test_iceberg.py when a jar is available, and by the
    bucketed-parquet stand-in (same layout discipline) otherwise."""
    from pyspark.sql import functions as F

    parts = [F.bucket(buckets, F.col(key))]
    if day_col is not None:
        parts.append(F.days(F.col(day_col)))
    df.writeTo(table).partitionedBy(*parts).createOrReplace()


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog named by $SPARK_GRAFT_ICEBERG_CATALOG
    is configured on this session (jar present + catalog conf set)."""
    import os

    cat = os.environ.get("SPARK_GRAFT_ICEBERG_CATALOG")
    if not cat:
        return False
    try:
        impl = spark.conf.get(f"spark.sql.catalog.{cat}")
    except Exception:
        return False
    return impl is not None


def save_table(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    buckets: int = 16,
    key: str = "url",
) -> None:
    """Unified write path: Iceberg ``writeTo`` when a catalog is
    configured (production), bucketed managed parquet otherwise (this
    sandbox). Both give the co-located-join layout on ``key``."""
    import os

    if iceberg_available(spark):
        cat = os.environ["SPARK_GRAFT_ICEBERG_CATALOG"]
        save_iceberg(df, f"{cat}.{table}", buckets=buckets, key=key)
    else:
        save_bucketed(df, table, buckets=buckets, key=key)
