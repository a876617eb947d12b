"""Similarity search over embedding columns (``array<float>``).

Two paths, trading exactness for scale:

- ``cosine_topk``          exact brute force, fully native (cross join +
                           zip_with dot + rank window). The baseline and
                           the DuckDB-oracle-checkable path.
- ``ivf_topk``             IVF-style approximate: k-means-lite coarse
                           centroids (seeded, few iterations), each
                           corpus vector assigned to its nearest
                           centroid, queries probe ``nprobe`` nearest
                           cells — the 10^12-row scale path (the
                           shuffle is on cell ids, corpus never
                           replicated per query).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- shared expressions -------------------------------------------------------


def unit_expr(vec_col):
    norm = F.sqrt(F.aggregate(F.transform(vec_col, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    return F.transform(vec_col, lambda x: x / norm)


def dot_expr(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


# --- exact: native ------------------------------------------------------------


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbours per query:
    (query_id, rank, vec_id, cosine). Query side is broadcast (queries
    are the small side in retrieval). Keys are uniform but each
    query's candidate set is the WHOLE corpus, so a per-query window
    would sort corpus-sized partitions one task each — the cut is the
    skew-safe two-level per-key top-k instead (exactly equal,
    tie-breaks included)."""
    from ..functions.ranking import two_level_topk_per_key

    c = corpus.select(F.col(corpus_id).alias("vec_id"), unit_expr(F.col(corpus_vec)).alias("cv"))
    q = queries.select(F.col(query_id).alias("query_id"), unit_expr(F.col(query_vec)).alias("qv"))
    scored = c.join(F.broadcast(q)).withColumn("cosine", dot_expr("cv", "qv"))
    return two_level_topk_per_key(
        scored, ["query_id"], [F.desc("cosine"), F.asc("vec_id")], k, rank_col="rank"
    ).select("query_id", "rank", "vec_id", F.col("cosine").cast("double").alias("cosine"))


# --- approximate: IVF ---------------------------------------------------------


def _kmeans_lite(mat: np.ndarray, n_cells: int, iters: int, seed: int) -> np.ndarray:
    rng = np.random.Generator(np.random.Philox(key=seed))
    idx = rng.choice(len(mat), size=min(n_cells, len(mat)), replace=False)
    cent = mat[idx].copy()
    for _ in range(iters):
        assign = (mat @ cent.T).argmax(axis=1)
        for c in range(len(cent)):
            members = mat[assign == c]
            if len(members):
                v = members.mean(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cent[c] = v / n
    return cent


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 3,
    train_sample: int = 10_000,
    seed: int = 17,
    iters: int = 5,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: (query_id, rank, vec_id, cosine).

    1. Train centroids on a bounded sample (driver-side numpy — the
       sample is fixed-size regardless of corpus scale).
    2. Assign every corpus vector to its argmax-cosine cell (broadcast
       centroids, one matmul per batch — narrow).
    3. Each query probes its ``nprobe`` nearest cells; the candidate
       join is an equi-join on cell id, so corpus rows are touched only
       in probed cells.
    """
    c = corpus.select(F.col(corpus_id).alias("vec_id"), unit_expr(F.col(corpus_vec)).alias("cv"))
    sample = c.limit(train_sample).collect()
    mat = np.stack([np.asarray(r["cv"], dtype=np.float32) for r in sample])
    cent = _kmeans_lite(mat, n_cells, iters, seed)
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(cent)

    @F.pandas_udf(T.IntegerType())
    def cell_udf(vecs: pd.Series) -> pd.Series:
        cc = bc.value
        m = np.stack(vecs.to_numpy())
        return pd.Series((m @ cc.T).argmax(axis=1).astype(np.int32))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_udf(vecs: pd.Series) -> pd.Series:
        cc = bc.value
        m = np.stack(vecs.to_numpy())
        sims = m @ cc.T
        order = np.argsort(-sims, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(order))

    c_cells = c.withColumn("cell", cell_udf(F.col("cv")))
    q = queries.select(F.col(query_id).alias("query_id"), unit_expr(F.col(query_vec)).alias("qv"))
    q_cells = q.withColumn("cell", F.explode(probe_udf(F.col("qv"))))
    scored = c_cells.join(q_cells, on="cell").withColumn("cosine", dot_expr("cv", "qv"))
    # a probed cell holds a corpus-fraction of vectors, so the per-query
    # candidate set grows with the corpus: two-level cut, not a window
    # (same swap as ivf_topk_native / cosine_topk)
    from ..functions.ranking import two_level_topk_per_key

    return two_level_topk_per_key(
        scored, ["query_id"], [F.desc("cosine"), F.asc("vec_id")], k, rank_col="rank"
    ).select("query_id", "rank", "vec_id", F.col("cosine").cast("double").alias("cosine"))


def ivf_topk_native(
    emb: DataFrame,
    n_cells: int = 8,
    k: int = 5,
    n_queries: int = 4,
    probes: int = 2,
) -> DataFrame:
    """Value-verifiable NATIVE IVF: (query_id, rank, vec_id, idot).

    The sampled-k-means IVF (:func:`ivf_topk`) trains driver-side, so
    the driver gate can only count its rows; this variant makes the IVF
    *shape* — cell assignment, multi-probe, within-cell exact re-rank —
    hash-verifiable by removing every float and every sampled choice:
    vectors are integerized (``round(x * 1e6)``, the ``knn_topk`` oracle
    trick), the "centroids" are the first ``n_cells`` vectors by vec_id
    (deterministic stand-in for training), assignment is integer
    argmin-L2 (lexicographic struct min — ties break on cell id), each
    query probes its ``probes`` nearest cells, and candidates re-rank by
    exact integer dot. DuckDB reproduces every value.

    Scale shape: assignment is a broadcast nested-loop over ``n_cells``
    tiny centroid rows (n_cells x corpus FLOPs — the same cost class as
    any IVF assignment); the candidate join is an equi-join on cell id;
    the top-k window partitions by query. No driver-side state at all.
    """
    ivec = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * 1000000).cast("long")
    )
    iv = emb.select(F.col("vec_id"), ivec.alias("iv"))
    cents = iv.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").cast("int").alias("cell"), F.col("iv").alias("cv")
    )
    l2 = F.aggregate(
        F.zip_with("iv", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    crossed = iv.crossJoin(F.broadcast(cents)).withColumn("dist", l2)
    assigned = crossed.groupBy("vec_id", "iv").agg(
        F.min(F.struct("dist", "cell")).alias("best")
    ).select("vec_id", "iv", F.col("best.cell").alias("cell"))

    q = assigned.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("iv").alias("qv")
    )
    qdist = q.crossJoin(F.broadcast(cents)).withColumn(
        "dist",
        F.aggregate(
            F.zip_with("qv", "cv", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    wp = Window.partitionBy("query_id").orderBy("dist", "cell")
    probed = (
        qdist.withColumn("prank", F.row_number().over(wp))
        .filter(F.col("prank") <= probes)
        .select("query_id", "qv", "cell")
    )
    idot = F.aggregate(
        F.zip_with("iv", "qv", lambda a, b: a * b), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    cand = (
        assigned.join(probed, on="cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("idot", idot)
    )
    # a probed cell holds a corpus-fraction of vectors, so the per-query
    # candidate set grows with the corpus: two-level cut, not a window
    from ..functions.ranking import two_level_topk_per_key

    return two_level_topk_per_key(
        cand, ["query_id"], [F.desc("idot"), F.asc("vec_id")], k, rank_col="rank"
    ).select("query_id", F.col("rank").cast("int").alias("rank"), "vec_id", "idot")


def quantize_embeddings(emb: DataFrame) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the vector
    storage form an ANN index keeps at 100 TB (4x smaller than float32,
    dot products stay integer): per row ``scale = max|v| / 127`` and
    ``q_i = floor(v_i / scale + 0.5)`` (round-half-up, spelled out as
    floor so every engine computes the identical integer; an all-zero
    vector gets scale 0 and an all-zero code). Dequantization error is
    bounded by scale/2 per component (pinned in tests). Pure projection
    — zero shuffle; DuckDB reproduces every value (driver entry
    ``quantize_embeddings``)."""
    absmax = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    # scale is materialized as a COLUMN before the code transform:
    # inlining it into the per-element lambda nests the array_max
    # subtree inside another higher-order function, which sends the
    # optimizer into minutes-long expression blowup
    with_scale = emb.select("vec_id", "embedding", (absmax / F.lit(127.0)).alias("scale"))
    q = F.transform(
        "embedding",
        lambda x: F.when(
            F.col("scale") > 0, F.floor(x.cast("double") / F.col("scale") + F.lit(0.5))
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )
    return with_scale.select("vec_id", "scale", q.alias("qvec"))
