"""KG-embedding training-data prep: negative sampling over triples.

A graph-embedding trainer (TransE/DistMult family) consumes each
positive (subj, pred, obj) plus k corrupted copies where one side is
replaced by a pseudo-random entity. At 10^12-triple scale the naive
formulation — "pick a random entity per triple" — hides two scale
traps this module avoids:

- the entity universe is corpus-sized, so the replacement pick must be
  an EQUI-JOIN on a dense rank (rank -> entity_id), never a sampled
  crossJoin or a collected dictionary;
- the draw must be a pure function of the row key (congruential
  arithmetic on (subj, pred_code, obj, j)), never rand(): results are
  then partitioning-independent, resumable, and expressible verbatim
  in the DuckDB oracle.

Two INDEPENDENT draws (different multipliers/offsets) pick the
corrupted side and the replacement rank — deriving both from one draw
couples them exactly as the r3 nsp_pairs ADVICE finding (when
gcd(n, 2) > 1, one side could only ever receive half the entity
universe).

Collisions (the replacement equals the original entity, or the
corrupted triple exists as a positive) are NOT filtered here, matching
the common "unfiltered Bernoulli" trainer setting; a `collides` flag
is emitted so a stricter consumer can drop or re-draw in a second pass
without this operator needing an anti-join against the full positive
set on its hot path.

Plan shape: two cheap distinct+rank side jobs (preds: vocab-sized;
entities: corpus-sized but rank is the distributed zip_with_rank, no
single-task sort), one explode(k), one broadcast join on pred_code,
one equi-join on the dense entity rank. No cross join, no window over
the corpus, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.ranking import zip_with_rank

_MOD = 2147483647  # Park-Miller modulus (2^31 - 1)


def _key(subj, pred_code, obj, j, m1: int, m2: int, m3: int, off: int):
    """Bounded congruential draw on the corrupted-copy key. All inputs
    are pmod-ed into 2^20 first so every intermediate stays < 2^57
    (ANSI-mode overflow is an error, and the DuckDB oracle runs the
    same literal arithmetic)."""
    s = F.pmod(subj, F.lit(1048576))
    o = F.pmod(obj, F.lit(1048576))
    # j's multiplier (257) must differ from every m3: sharing it with
    # pred_code's would alias (pred_code c, copy j+1) with (c+1, j) —
    # the same structured-coupling class as the r3 nsp_pairs finding
    h = s * F.lit(m1) + o * F.lit(m2) + pred_code * F.lit(m3) + j * F.lit(257) + F.lit(off)
    return F.pmod(h * F.lit(48271), F.lit(_MOD))


def negative_samples(
    triples: DataFrame,
    k: int = 2,
    subj_col: str = "subj_id",
    pred_col: str = "pred",
    obj_col: str = "obj_id",
) -> DataFrame:
    """triples -> k corrupted copies per positive:
    (subj_id, pred, obj_id, neg_idx, corrupt_side, neg_subj_id,
    neg_obj_id, collides). ``corrupt_side`` 0 = subject replaced,
    1 = object replaced; the untouched side passes through."""
    subj, obj = F.col(subj_col).cast("long"), F.col(obj_col).cast("long")
    # three consumers of the triples projection (pred vocab, entity
    # union, base fan-out) — truncate lineage so an expensive upstream
    # (the full extraction pipeline, typically) evaluates once
    t = triples.select(
        subj.alias("subj_id"), F.col(pred_col).alias("pred"), obj.alias("obj_id")
    ).localCheckpoint(eager=False)

    # pred vocabulary code: tiny distinct set, distributed rank (the
    # draw needs an integer, and engine-specific string hashes would
    # break the oracle)
    preds = zip_with_rank(t.select("pred").distinct(), ["pred"], idx_col="pred_code")
    # dense 0-based entity rank over the union of both sides
    entities = zip_with_rank(
        t.select(F.col("subj_id").alias("entity_id"))
        .union(t.select(F.col("obj_id").alias("entity_id")))
        .distinct(),
        ["entity_id"],
        idx_col="rank",
    )
    n = entities.count()

    base = (
        t.join(F.broadcast(preds), on="pred")
        .withColumn("neg_idx", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
        .withColumn("neg_idx", F.col("neg_idx").cast("long"))
    )
    s, o, p, j = F.col("subj_id"), F.col("obj_id"), F.col("pred_code"), F.col("neg_idx")
    drawn = base.withColumn(
        "corrupt_side", F.pmod(_key(s, p, o, j, 1048573, 8191, 127, 7), F.lit(2)).cast("int")
    ).withColumn("repl_rank", F.pmod(_key(s, p, o, j, 524287, 131071, 8191, 13), F.lit(n)))

    repl = entities.select(F.col("rank").alias("repl_rank"), F.col("entity_id").alias("repl_id"))
    joined = drawn.join(repl, on="repl_rank")  # dense-int equi-join

    neg_subj = F.when(F.col("corrupt_side") == 0, F.col("repl_id")).otherwise(F.col("subj_id"))
    neg_obj = F.when(F.col("corrupt_side") == 1, F.col("repl_id")).otherwise(F.col("obj_id"))
    return joined.select(
        "subj_id",
        "pred",
        "obj_id",
        "neg_idx",
        "corrupt_side",
        neg_subj.alias("neg_subj_id"),
        neg_obj.alias("neg_obj_id"),
        (
            (F.col("corrupt_side") == 0) & (neg_subj == F.col("subj_id"))
            | (F.col("corrupt_side") == 1) & (neg_obj == F.col("obj_id"))
        )
        .cast("int")
        .alias("collides"),
    )


def negative_samples_typed(
    triples: DataFrame,
    k: int = 2,
    subj_col: str = "subj_id",
    pred_col: str = "pred",
    obj_col: str = "obj_id",
) -> DataFrame:
    """Type-constrained corruption (the Bernoulli-TransE refinement):
    a corrupted subject is drawn from the predicate's observed DOMAIN
    (entities seen as subjects of that predicate) and a corrupted
    object from its RANGE — unconstrained corruption mostly produces
    trivially-false triples ("port_number, transports, coap") that
    teach the embedding nothing about the relation's type structure.

    Plan shape: per-predicate dense ranks via row_number over a
    (pred)-partitioned window — parallel across predicates; one
    predicate's domain sorts in one task chain, so an extremely skewed
    predicate bounds the stage (acceptable: domain size <= entity
    count, and the sort is on a projected (pred, entity) pair, not
    corpus text). Replacement is an equi-join on (pred, rank);
    per-pred counts ride a broadcast. Draws are the same independent
    congruential pair as :func:`negative_samples` with distinct
    offsets, mirrored in the DuckDB oracle."""
    subj, obj = F.col(subj_col).cast("long"), F.col(obj_col).cast("long")
    t = triples.select(
        subj.alias("subj_id"), F.col(pred_col).alias("pred"), obj.alias("obj_id")
    ).localCheckpoint(eager=False)

    preds = zip_with_rank(t.select("pred").distinct(), ["pred"], idx_col="pred_code")

    def ranked_side(col: str, side: str) -> DataFrame:
        # per-pred dense 0-based rank WITHOUT Window.partitionBy(pred):
        # a head predicate's domain is entity-vocabulary-sized, so the
        # per-key window would sort it in ONE task; the two-stage
        # global rank + per-pred offset is exactly equal and never
        # concentrates a key (the same skew class as salted_top1)
        from ..functions.ranking import zip_with_rank_per_key

        return zip_with_rank_per_key(
            t.select("pred", F.col(col).alias("entity_id")).distinct(),
            ["pred"],
            ["entity_id"],
            idx_col=f"{side}_rank",
        )

    dom = ranked_side("subj_id", "dom")
    rng = ranked_side("obj_id", "rng")
    dom_n = dom.groupBy("pred").agg(F.count("*").alias("n_dom"))
    rng_n = rng.groupBy("pred").agg(F.count("*").alias("n_rng"))

    base = (
        t.join(F.broadcast(preds), on="pred")
        .join(F.broadcast(dom_n), on="pred")
        .join(F.broadcast(rng_n), on="pred")
        .withColumn("neg_idx", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
        .withColumn("neg_idx", F.col("neg_idx").cast("long"))
    )
    s, o, p, j = F.col("subj_id"), F.col("obj_id"), F.col("pred_code"), F.col("neg_idx")
    drawn = base.withColumn(
        "corrupt_side", F.pmod(_key(s, p, o, j, 1048573, 8191, 127, 21), F.lit(2)).cast("int")
    ).withColumn(
        "repl_rank",
        F.when(
            F.col("corrupt_side") == 0,
            F.pmod(_key(s, p, o, j, 524287, 131071, 8191, 29), F.col("n_dom")),
        ).otherwise(F.pmod(_key(s, p, o, j, 524287, 131071, 8191, 29), F.col("n_rng"))),
    )
    with_dom = drawn.filter(F.col("corrupt_side") == 0).join(
        dom.withColumnRenamed("dom_rank", "repl_rank"), on=["pred", "repl_rank"]
    )
    with_rng = drawn.filter(F.col("corrupt_side") == 1).join(
        rng.withColumnRenamed("rng_rank", "repl_rank"), on=["pred", "repl_rank"]
    )
    joined = with_dom.unionByName(with_rng)
    neg_subj = F.when(F.col("corrupt_side") == 0, F.col("entity_id")).otherwise(F.col("subj_id"))
    neg_obj = F.when(F.col("corrupt_side") == 1, F.col("entity_id")).otherwise(F.col("obj_id"))
    return joined.select(
        "subj_id",
        "pred",
        "obj_id",
        "neg_idx",
        "corrupt_side",
        neg_subj.alias("neg_subj_id"),
        neg_obj.alias("neg_obj_id"),
        (
            (F.col("corrupt_side") == 0) & (neg_subj == F.col("subj_id"))
            | (F.col("corrupt_side") == 1) & (neg_obj == F.col("obj_id"))
        )
        .cast("int")
        .alias("collides"),
    )


def cooccurrence_strength(
    triples: DataFrame,
    scale: int = 1_000_000,
    subj_col: str = "subj_id",
    obj_col: str = "obj_id",
) -> DataFrame:
    """PMI-style association between entity pairs, in exact fixed
    point: strength = floor(n_pair * N * scale / (n_subj * n_obj)) —
    the integer form of exp(PMI)*scale, monotone in PMI, so ranking
    and thresholding behave identically while staying bit-exact across
    engines (a float log would not hash-match the oracle).

    The arithmetic runs in binary64 (explicit double casts, one
    multiply chain then one divide, left-to-right in both engines):
    IEEE ops are correctly rounded, so Spark and DuckDB produce the
    same bits at ANY magnitude — a pure BIGINT product would overflow
    at 10^12 triples.

    Three hash aggregations (pair, subj marginal, obj marginal) + two
    equi-joins on the entity keys; marginals are corpus-entity-sized,
    joined by key, never broadcast-assumed."""
    subj, obj = F.col(subj_col).cast("long"), F.col(obj_col).cast("long")
    # four consumers (total count + three aggregations) — truncate
    # lineage so an expensive upstream triples plan evaluates once
    t = triples.select(subj.alias("subj_id"), obj.alias("obj_id")).localCheckpoint(eager=False)
    pair = t.groupBy("subj_id", "obj_id").agg(F.count("*").alias("n_pair"))
    n_s = t.groupBy("subj_id").agg(F.count("*").alias("n_subj"))
    n_o = t.groupBy("obj_id").agg(F.count("*").alias("n_obj"))
    total = t.count()
    return (
        pair.join(n_s, on="subj_id")
        .join(n_o, on="obj_id")
        .select(
            "subj_id",
            "obj_id",
            "n_pair",
            "n_subj",
            "n_obj",
            F.floor(
                F.col("n_pair").cast("double")
                * F.lit(float(total))
                * F.lit(float(scale))
                / (F.col("n_subj").cast("double") * F.col("n_obj").cast("double"))
            )
            .cast("long")
            .alias("strength"),
        )
    )
