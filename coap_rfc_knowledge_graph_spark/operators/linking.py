"""N1-N5: entity linking + canonicalization (SURVEY §2.4).

Reference semantics (studied, not copied):
- N1 surface dedup + lowercase: ``src/CoAP_contradiction_checking.py:261-267``
- N2 PhraseBERT embedding of distinct surfaces: ``:269-271``
- N3 greedy pairwise-cosine clustering, threshold 0.9, first-seen-wins
  with chained overwrites over the ORIGINAL similarity matrix: ``:273-280``
- N4 mention -> canonical top-1 cosine link: ``:301-312``
- N5 per-entity variable grouping at 0.9 + representative rewrite:
  ``:380-441``

Spark shape
-----------
The canonical dictionary is always built from *distinct* surfaces, so the
expensive O(n^2)/model work runs on a table many orders of magnitude
smaller than the mentions table. Two candidate-pair generators share one
greedy resolver:

- ``candidate_pairs_bruteforce`` — broadcast the (small) distinct-surface
  embedding matrix to every partition and score each row against it with
  one vectorized numpy matmul. Right when n_distinct fits in executor
  memory (tens of millions of 64-d vectors ~= GBs).
- ``candidate_pairs_lsh`` — random-hyperplane signatures banded into
  ``bands`` buckets; an equi-join on (band, band_bits) yields candidate
  pairs; exact cosine (native ``zip_with``/``aggregate``, stays in
  codegen) filters to the 0.9 threshold. This is the 10^12-scale path:
  the only shuffle is on band keys, and band width tunes recall/cost.

Greedy first-wins resolution is NOT connected components: the reference
assigns ``entities[j] = entities[max qualifying i]`` (last write wins)
and chains through earlier overwrites. That is a functional forest with
``parent(j) < j``; we resolve it distributed by pointer-doubling
(log-depth rounds of self-joins) — deterministic given the first-seen
ordering, which we pin as lexicographic (url, sent_id, begin) of first
occurrence.

N4 (link a surface column to its top-1 canonical entity and join the
result back) has one entry point, ``link_mentions``: mentions, both
sides of the triples and the rules' entity surfaces all go through it.
It links the distinct lowercased surfaces and picks the physical path
from the dictionary size: while the dictionary fits the broadcast
budget, a broadcast matmul link and a broadcast equi-join back (no
shuffle of the big side); past it, the distributed argmax and
``salted_top1_join``, the north rule's salted shuffle join for
head-entity skew.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..config import (
    DICTIONARY_BROADCAST_MAX_ROWS,
    EMBED_DIM,
    LINK_SALT_BUCKETS,
    SIMILARITY_THRESHOLD,
)
from ..functions import stub_models

# Similarity quantization: every threshold compare and every argmax
# tie-break works on round(sim * SIM_SCALE) (integer micro-units), not
# the raw float. Rationale (found round 4): the stub/real embeddings
# produce pairs whose TRUE cosine sits exactly at the 0.9 threshold;
# float32 BLAS accumulates in kernel-dependent order, so `sim > 0.9`
# flipped between environments (one pin drifted 2858 -> 2859 entities
# across container updates with zero code change). Quantizing first
# makes the decision invariant to summation order: any dot within
# ~0.4 micro-units of the true value rounds to the same integer, and
# the critical true values (the threshold itself, exact ties) ARE
# integers in micro-units. numpy's rint (half-even) and Spark's round
# (half-up) only diverge exactly ON a .5 micro-unit boundary — a value
# class the similarity data doesn't populate (documented caveat).
SIM_SCALE = 1_000_000


def _qthresh(threshold: float) -> int:
    return int(round(threshold * SIM_SCALE))


# --- N2: embedding UDF --------------------------------------------------------


@pandas_udf(T.ArrayType(T.FloatType()))
def embed_udf(surfaces: pd.Series) -> pd.Series:
    """PhraseBERT stand-in (``src/CoAP_contradiction_checking.py:269-271``).
    Swap point: broadcast sentence-transformer checkpoint, encode the
    Arrow batch in one forward pass."""
    return pd.Series(stub_models.embed_batch(list(surfaces)))


# --- N1: distinct surfaces with deterministic first-seen order ----------------


def distinct_surfaces(mentions: DataFrame) -> DataFrame:
    """mentions -> surfaces(surface, first_seen) — N1's
    ``list(set(lower(e)))`` as a hash aggregate, plus a deterministic
    first-seen key replacing Python set iteration order. One shuffle
    (partial aggregation map-side)."""
    return (
        mentions.select(
            F.lower(F.col("surface")).alias("surface"),
            F.struct("url", "sent_id", "begin").alias("pos"),
        )
        .groupBy("surface")
        .agg(F.min("pos").alias("first_seen"))
    )


def embedded_surfaces(surfaces: DataFrame, scale_path: bool = True) -> DataFrame:
    """surfaces + idx (first-seen rank, the reference's list index) + vec.

    Default (``scale_path=True``): zipWithIndex semantics in pure
    DataFrame ops — range partition on the order keys, per-partition
    row_number, plus broadcast per-partition offsets (the range Exchange
    is computed once and reused for the counts side). No single-task
    stage, no DF->RDD round-trip; the embedding UDF then runs over ALL
    range partitions in parallel. ``scale_path=False`` is the
    tiny-dictionary oracle: a global total-order window (single-task
    sort) that produces the identical index (pinned by test); it
    repartitions before embedding so even the oracle path never embeds
    serially.
    """
    spark = surfaces.sparkSession
    # AQE coalesces the distinct() shuffle by BYTES, which under-counts
    # the Python-UDF compute downstream — a dictionary that fits one
    # 64 MB partition would embed serially. Spread over the cluster's
    # cores explicitly; the embed cost dominates the tiny extra shuffle.
    # (defaultParallelism, NOT surfaces.rdd.getNumPartitions(): under AQE
    # the .rdd access eagerly executes the upstream query stages.)
    n_parts = spark.sparkContext.defaultParallelism
    if scale_path:
        # zipWithIndex semantics in pure DataFrame ops — the shared
        # distributed-rank helper (see functions/ranking.py for the
        # range-partition + per-partition-window + broadcast-offsets
        # shape and the localCheckpoint rationale)
        from ..functions.ranking import zip_with_rank

        out = zip_with_rank(surfaces, ["first_seen", "surface"])
    else:
        w = Window.orderBy("first_seen", "surface")
        out = surfaces.withColumn("idx", (F.row_number().over(w) - 1).cast("long"))
    # spread the dictionary BEFORE the embedding UDF on both paths: AQE
    # coalesces the upstream shuffles by BYTES, which under-counts the
    # Python model compute — without this the embed stage can collapse
    # to one task (pinned by test_embed_stage_runs_multiple_partitions)
    out = out.repartition(n_parts, "idx")
    return out.withColumn("vec", embed_udf(F.col("surface")))


# --- candidate pair generation ------------------------------------------------


def candidate_pairs_bruteforce(embedded: DataFrame, threshold: float = SIMILARITY_THRESHOLD) -> DataFrame:
    """All (i < j, cos > threshold) pairs via a broadcast matrix + one
    numpy matmul per Arrow batch. Output: pairs(i, j, sim)."""
    rows = embedded.select("idx", "vec").collect()  # dictionary-sized
    n = len(rows)
    mat = np.zeros((n, EMBED_DIM), dtype=np.float32)
    for r in rows:
        mat[r["idx"]] = r["vec"]
    spark = embedded.sparkSession
    bmat = spark.sparkContext.broadcast(mat)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Chunk the dictionary axis and reuse ONE preallocated score
        # buffer: a full (batch x n) sims matrix is 16 GB per batch at the
        # 2M-row broadcast budget, and per-call large allocations also
        # first-touch-fault on every batch. Bounded memory at any n.
        # numpy passes the transposed view straight to sgemm (no copy);
        # score + mask buffers are allocated once and reused across
        # chunks AND batches — in a fresh worker, first-touch pages are
        # the dominant cost, so the footprint stays small and warm
        m = bmat.value
        m_t = m.T  # (d, n) view — BLAS handles the stride, no copy
        chunk = 2048
        qt = float(_qthresh(threshold))
        buf = qbuf = mask = None
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.stack(pdf["vec"].to_numpy())  # (b, d)
            b_rows = len(vecs)
            width = min(chunk, m.shape[0])
            if buf is None or buf.shape[0] < b_rows:
                buf = np.empty((b_rows, width), dtype=np.float32)
                qbuf = np.empty((b_rows, width), dtype=np.float32)
                mask = np.empty((b_rows, width), dtype=bool)
            idxs = pdf["idx"].to_numpy().astype(np.int64)
            out_i: list[np.ndarray] = []
            out_j: list[np.ndarray] = []
            out_s: list[np.ndarray] = []
            for c0 in range(0, m.shape[0], chunk):
                c1 = min(m.shape[0], c0 + chunk)
                w = c1 - c0
                if w == buf.shape[1]:
                    sims = buf[:b_rows]  # row-prefix slice stays C-contiguous
                    np.dot(vecs, m_t[:, c0:c1], out=sims)
                    qs = qbuf[:b_rows]
                    mk = mask[:b_rows]
                else:  # tail chunk: small one-off allocation
                    sims = vecs @ m_t[:, c0:c1]
                    qs = np.empty(sims.shape, dtype=np.float32)
                    mk = np.empty(sims.shape, dtype=bool)
                # vectorized (quantized cos > threshold) & (global j > i):
                # compare in integer micro-units so BLAS summation-order
                # noise at the threshold can't flip membership (see
                # SIM_SCALE note)
                np.multiply(sims, SIM_SCALE, out=qs)
                np.rint(qs, out=qs)
                np.greater(qs, qt, out=mk)
                mk &= (np.arange(c0, c1, dtype=np.int64)[None, :] > idxs[:, None])
                rpos, jloc = np.nonzero(mk)
                out_i.append(idxs[rpos])
                out_j.append(jloc + c0)
                out_s.append(sims[rpos, jloc].astype(np.float64))
            yield pd.DataFrame({
                "i": np.concatenate(out_i) if out_i else np.array([], dtype=np.int64),
                "j": np.concatenate(out_j) if out_j else np.array([], dtype=np.int64),
                "sim": np.concatenate(out_s) if out_s else np.array([], dtype=np.float64),
            })

    schema = T.StructType([
        T.StructField("i", T.LongType()),
        T.StructField("j", T.LongType()),
        T.StructField("sim", T.DoubleType()),
    ])
    return embedded.select("idx", "vec").mapInPandas(score, schema)


def _rand_planes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.Generator(np.random.Philox(key=seed))
    return rng.standard_normal((n_planes, dim)).astype(np.float32)


def with_lsh_bands(
    embedded: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    seed: int = 7,
    dim: int = EMBED_DIM,
) -> DataFrame:
    """Attach (band, sig) columns: sign-of-projection bits against
    ``bands*rows_per_band`` random hyperplanes, packed per band. Rows in
    the same (band, sig) bucket are candidate near-neighbours (random
    hyperplane LSH ~ SimHash; collision prob per bit = 1 - theta/pi)."""
    planes = _rand_planes(dim, bands * rows_per_band, seed)
    spark = embedded.sparkSession
    bplanes = spark.sparkContext.broadcast(planes)
    nb, rpb = bands, rows_per_band

    @pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(vecs: pd.Series) -> pd.Series:
        p = bplanes.value
        mat = np.stack([np.asarray(v, dtype=np.float32) for v in vecs]) if len(vecs) else np.zeros((0, dim))
        bits = (mat @ p.T) > 0  # (batch, nb*rpb)
        weights = 1 << np.arange(rpb, dtype=np.int64)
        sigs = bits.reshape(len(vecs), nb, rpb) @ weights  # (batch, nb)
        return pd.Series(list(sigs))

    return embedded.withColumn("sigs", sig_udf(F.col("vec")))


def candidate_pairs_lsh(
    embedded: DataFrame,
    threshold: float = SIMILARITY_THRESHOLD,
    bands: int = 16,
    rows_per_band: int = 4,
    seed: int = 7,
    dim: int = EMBED_DIM,
    inclusive: bool = False,
) -> DataFrame:
    """Scale path for N3: LSH-bucket equi-join -> exact-cosine verify.

    The join key is (band, band_sig); the exact cosine re-check runs
    native (``zip_with`` + ``aggregate`` — whole-stage codegen, no
    Python). Pairs found in multiple bands are deduped by (i, j).
    ``inclusive`` switches the cosine comparison to >= — the reference's
    canonicalization is strict ``> 0.9``, but embedding_near_duplicates'
    contract is >=, and a strict filter here could not be widened
    downstream (pairs at exactly the threshold would already be gone).
    """
    sig = with_lsh_bands(embedded, bands, rows_per_band, seed, dim=dim)
    sig = sig.select("idx", "vec", F.posexplode("sigs").alias("band", "sig"))
    a = sig.select(F.col("idx").alias("i"), F.col("vec").alias("va"), "band", "sig")
    b = sig.select(F.col("idx").alias("j"), F.col("vec").alias("vb"), "band", "sig")
    pairs = (
        a.join(b, on=["band", "sig"])
        .filter(F.col("i") < F.col("j"))
        .select("i", "j", "va", "vb")
        .dropDuplicates(["i", "j"])
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # quantized compare (micro-units) — mirrors candidate_pairs_bruteforce
    # so the two paths agree on threshold-boundary pairs (see SIM_SCALE)
    qsim = F.round(F.col("sim") * SIM_SCALE)
    qt = F.lit(_qthresh(threshold))
    cmp = qsim >= qt if inclusive else qsim > qt
    return (
        pairs.withColumn("sim", dot.cast("double"))
        .filter(cmp)
        .select("i", "j", "sim")
    )


# --- N3: greedy first-wins resolution (distributed pointer chase) -------------


def resolve_greedy(pairs: DataFrame, embedded: DataFrame) -> DataFrame:
    """Emulates ``entities[j] = entities[i]`` chained overwrites exactly:
    parent(j) = max{i < j : sim(i,j) > t}; rep(j) = rep(parent(j)).
    Returns canonical(idx, canon_idx).

    The parent reduction (max i per j) runs DISTRIBUTED over the pair
    set; the chain-follow then runs on the collected parent table —
    dictionary-sized (one row per merged surface), and parent(j) < j
    makes it a single ascending pass. Driver-side here is the right
    call: the distributed pointer-doubling alternative
    (:func:`resolve_greedy_distributed`) spends seconds of scheduler
    overhead per round on a table this small — it exists for the case
    where even the merged-surface set outgrows driver memory.
    """
    spark = embedded.sparkSession
    parent_rows = pairs.groupBy("j").agg(F.max("i").alias("parent")).collect()
    parent = {int(r["j"]): int(r["parent"]) for r in parent_rows}
    rep: dict[int, int] = {}
    for j in sorted(parent):
        p = parent[j]
        rep[j] = rep.get(p, p)
    if not rep:
        return embedded.select("idx", F.col("idx").alias("canon_idx"))
    mapping = spark.createDataFrame(list(rep.items()), "idx long, canon_idx long")
    return (
        embedded.select("idx")
        .join(F.broadcast(mapping), on="idx", how="left")
        .select("idx", F.coalesce("canon_idx", "idx").alias("canon_idx"))
    )


def resolve_greedy_distributed(pairs: DataFrame, embedded: DataFrame, max_rounds: int = 30) -> DataFrame:
    """Distributed variant of :func:`resolve_greedy` by pointer-doubling:
    each round joins the pointer table to itself, halving remaining chain
    depth — O(log depth) shuffles. Same output; use when the merged-
    surface set cannot be collected."""
    parents = pairs.groupBy("j").agg(F.max("i").alias("parent"))
    ptr = (
        embedded.select("idx")
        .join(parents, embedded["idx"] == parents["j"], "left")
        .select("idx", F.coalesce("parent", "idx").alias("ptr"))
    )
    ptr = ptr.localCheckpoint(eager=True)
    for _ in range(max_rounds):
        nxt = ptr.select(F.col("idx").alias("p_idx"), F.col("ptr").alias("p_ptr"))
        ptr2 = (
            ptr.join(nxt, ptr["ptr"] == nxt["p_idx"])
            .select("idx", F.col("p_ptr").alias("ptr"))
            .localCheckpoint(eager=True)  # truncate iterative lineage
        )
        stable = (
            ptr2.join(ptr.select(F.col("idx").alias("i0"), F.col("ptr").alias("old")), ptr2["idx"] == F.col("i0"))
            .filter(F.col("ptr") != F.col("old"))
            .isEmpty()
        )
        ptr = ptr2
        if stable:
            break
    return ptr.select("idx", F.col("ptr").alias("canon_idx"))


def _build_canonical(
    mentions: DataFrame,
    use_lsh: bool | None = None,
    max_broadcast_surfaces: int = DICTIONARY_BROADCAST_MAX_ROWS,
    **lsh_kw,
):
    """Full N1->N3 chain. Returns (entities, members):
    entities(entity_id, canonical, vec) — one row per canonical surface,
    ``entity_id`` = the canonical surface's first-seen index (stable);
    members(entity_id, member_idx, surface) — every surface's assignment.

    ``use_lsh=None`` auto-selects the scale path by dictionary size:
    below ``max_broadcast_surfaces`` distinct surfaces the candidate
    pairs come from the broadcast-matrix matmul and the greedy resolve
    runs on the driver; above it, LSH bucket-join candidates + the
    distributed pointer-doubling resolve (nothing driver-sized). The
    count is one cheap job over the (persisted) dictionary.
    """
    emb = embedded_surfaces(distinct_surfaces(mentions)).persist()
    n_surfaces = emb.count()  # dictionary-sized; also materializes the persist
    if use_lsh is None:
        use_lsh = n_surfaces > max_broadcast_surfaces
    pairs = candidate_pairs_lsh(emb, **lsh_kw) if use_lsh else candidate_pairs_bruteforce(emb)
    resolver = resolve_greedy_distributed if use_lsh else resolve_greedy
    resolved = resolver(pairs, emb)
    members = (
        emb.select("idx", "surface")
        .join(resolved, on="idx")
        .select(F.col("canon_idx").alias("entity_id"), F.col("idx").alias("member_idx"), "surface")
    )
    reps = emb.select(F.col("idx").alias("entity_id"), F.col("surface").alias("canonical"), "vec")
    entities = members.select("entity_id").distinct().join(reps, on="entity_id")
    # dictionary-size hint for downstream link-path selection (an upper
    # bound: canonical entities <= distinct surfaces); avoids a re-count
    entities._kg_n_entities = n_surfaces  # type: ignore[attr-defined]
    return entities, members


def canonical_entities(mentions: DataFrame, use_lsh: bool | None = None, **lsh_kw) -> DataFrame:
    """mentions -> entities(entity_id long, canonical string, vec)."""
    entities, _ = _build_canonical(mentions, use_lsh=use_lsh, **lsh_kw)
    return entities


# --- N4: top-1 cosine link (broadcast + salted variants) ----------------------


def link_surfaces(query_surfaces: DataFrame, entities: DataFrame, surface_col: str = "surface") -> DataFrame:
    """Top-1 cosine link of arbitrary query surfaces against the canonical
    dictionary (``src/CoAP_contradiction_checking.py:301-312``: encode,
    argmax over canonical vectors, take top entity).

    Runs on DISTINCT query surfaces (caller dedups) against a broadcast
    canonical matrix — one numpy matmul per Arrow batch, no shuffle.
    Output: (surface, entity_id, canonical, sim).
    """
    ents = entities.select("entity_id", "canonical", "vec").collect()
    n = len(ents)
    mat = np.zeros((max(n, 1), EMBED_DIM), dtype=np.float32)
    ids = np.zeros(max(n, 1), dtype=np.int64)
    names: list[str] = [""] * max(n, 1)
    for k, r in enumerate(sorted(ents, key=lambda r: r["entity_id"])):
        mat[k] = r["vec"]
        ids[k] = r["entity_id"]
        names[k] = r["canonical"]
    spark = query_surfaces.sparkSession
    b = spark.sparkContext.broadcast((mat, ids, names))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Chunked running-argmax over the dictionary axis with one reused
        # buffer (same rationale as candidate_pairs_bruteforce: a full
        # (batch x n) matrix is unbounded in the dictionary size).
        m, eid, enames = b.value
        m_t = m.T  # view; BLAS handles the stride
        n_ents = m.shape[0]
        chunk = 2048
        buf: np.ndarray | None = None
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.stack(stub_models.embed_batch(list(pdf[surface_col]))).astype(np.float32)
            b_rows = len(vecs)
            if buf is None or buf.shape[0] < b_rows:
                buf = np.empty((b_rows, min(chunk, n_ents)), dtype=np.float32)
            best = np.full(b_rows, -np.inf, dtype=np.float64)  # quantized key
            raw = np.zeros(b_rows, dtype=np.float64)  # reported sim
            top = np.zeros(b_rows, dtype=np.int64)
            rows = np.arange(b_rows)
            for c0 in range(0, n_ents, chunk):
                c1 = min(n_ents, c0 + chunk)
                if c1 - c0 == buf.shape[1]:
                    sims = buf[:b_rows]  # row-prefix slice stays C-contiguous
                    np.dot(vecs, m_t[:, c0:c1], out=sims)
                else:  # tail chunk: small one-off allocation
                    sims = vecs @ m_t[:, c0:c1]
                # argmax on QUANTIZED sims: near-equal float32 dots (exact
                # ties in true math) would otherwise resolve by BLAS noise;
                # quantized ties keep the LOWER index = argmax order
                qs = np.rint(sims.astype(np.float64) * SIM_SCALE)
                loc = qs.argmax(axis=1)
                val = qs[rows, loc]
                upd = val > best
                best[upd] = val[upd]
                raw[upd] = sims[rows, loc][upd].astype(np.float64)
                top[upd] = loc[upd] + c0
            yield pd.DataFrame(
                {
                    "surface": pdf[surface_col].astype(str),
                    "entity_id": eid[top],
                    "canonical": [enames[t] for t in top],
                    "sim": raw,
                }
            )

    schema = T.StructType(
        [
            T.StructField("surface", T.StringType()),
            T.StructField("entity_id", T.LongType()),
            T.StructField("canonical", T.StringType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )
    return query_surfaces.select(F.col(surface_col)).distinct().mapInPandas(score, schema)


def _link_dot():  # column factories: building them needs an active session
    return F.aggregate(
        F.zip_with("qv", "ev", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _link_best():
    # ordering key is the QUANTIZED sim (micro-units): exact-tie
    # candidates then fall to the -e_id tiebreak deterministically
    # instead of by float32 noise (matches link_surfaces' numpy argmax)
    return F.max_by(
        F.struct("e_id", "e_canonical", "sim"),
        F.struct(
            F.round(F.col("sim") * SIM_SCALE).alias("qsim"),
            (-F.col("e_id")).alias("nid"),
        ),
    ).alias("best")


def _top1_per_surface(scored: DataFrame) -> DataFrame:
    """(surface, qv, e_id, e_canonical, ev) candidates -> top-1 per
    surface via a ``max_by`` hash aggregate — partial aggregation
    reduces each partition to one candidate per surface before the
    shuffle, so no partition ever holds a surface's full candidate list
    (no ranking-window sort). Tie-break matches :func:`link_surfaces`'s
    numpy argmax (first max = lowest entity_id)."""
    return (
        scored.withColumn("sim", _link_dot())
        .groupBy("surface")
        .agg(_link_best())
        .select(
            "surface",
            F.col("best.e_id").alias("entity_id"),
            F.col("best.e_canonical").alias("canonical"),
            F.col("best.sim").alias("sim"),
        )
    )


def link_surfaces_distributed(
    query_surfaces: DataFrame,
    entities: DataFrame,
    surface_col: str = "surface",
    bands: int = 24,
    rows_per_band: int = 3,
    seed: int = 7,
    exact_fallback: bool = True,
) -> DataFrame:
    """N4 top-1 link WITHOUT collecting/broadcasting the canonical
    dictionary — the can't-broadcast case of the north rule
    (``src/CoAP_contradiction_checking.py:301-312`` semantics).

    VERDICT r2 item 2: the previous exact Q x E cross join is replaced
    by LSH candidate pruning — both sides get band signatures from the
    SAME random hyperplanes, candidates come from an equi-join on
    (band, band_sig), the exact cosine re-rank (native ``zip_with`` +
    ``aggregate``, whole-stage codegen) + ``max_by`` runs only within a
    surface's candidate set. Surfaces with zero candidates (nothing in
    any probed bucket) fall back to the exact shuffle argmax — that
    residual is the only cross join left, over the near-empty miss set.
    A query identical to a dictionary surface collides with it in every
    band, so exact-surface hits can never miss; at 24 bands x 3 bits a
    0.9-similar pair misses all buckets with probability < 1e-9.

    Output: (surface, entity_id, canonical, sim).
    """
    q = (
        query_surfaces.select(F.col(surface_col).alias("surface"))
        .distinct()
        .withColumn("qv", embed_udf(F.col("surface")))
        # consumed by the candidate join AND the zero-candidate anti-join:
        # materialize so the embedding UDF runs once per surface. Eager
        # localCheckpoint, NOT persist(): CacheManager retains a persisted
        # plan until an explicit unpersist, so repeated calls in a long-
        # lived session leaked executor storage (ADVICE r3); checkpoint
        # blocks are dropped by the ContextCleaner as soon as the consumer
        # plans are garbage-collected. Tradeoff: lineage is truncated, so
        # an executor loss fails the job instead of recomputing — the
        # resume path for that is the per-stage checkpoint manifest
        # (plans/checkpointing.py), not RDD replay.
        .localCheckpoint(eager=True)
    )
    e = entities.select(
        F.col("entity_id").alias("e_id"),
        F.col("canonical").alias("e_canonical"),
        F.col("vec").alias("ev"),
    )
    qs = with_lsh_bands(q.withColumnRenamed("qv", "vec"), bands, rows_per_band, seed)
    qs = qs.select("surface", F.col("vec").alias("qv"), F.posexplode("sigs").alias("band", "sig"))
    es = with_lsh_bands(e.withColumnRenamed("ev", "vec"), bands, rows_per_band, seed)
    es = es.select(
        "e_id", "e_canonical", F.col("vec").alias("ev"), F.posexplode("sigs").alias("band", "sig")
    )
    cands = (
        qs.join(es, on=["band", "sig"])
        .dropDuplicates(["surface", "e_id"])
        .select("surface", "qv", "e_id", "e_canonical", "ev")
    )
    best = _top1_per_surface(cands)
    if not exact_fallback:
        return best
    missed = q.join(best.select("surface"), on="surface", how="left_anti")
    rescued = _top1_per_surface(missed.crossJoin(e))
    return best.unionByName(rescued)


def _entity_count_hint(entities: DataFrame) -> int:
    """Dictionary size for link-path selection; prefers the count stashed
    by ``_build_canonical`` (upper bound) over a fresh job."""
    n = getattr(entities, "_kg_n_entities", None)
    return int(n) if n is not None else entities.count()


def link_mentions(
    df: DataFrame,
    entities: DataFrame,
    surface_col: str = "surface",
    max_broadcast_entities: int = DICTIONARY_BROADCAST_MAX_ROWS,
) -> DataFrame:
    """N4 link plus join-back, the one path every caller takes: ``df``
    with ``entity_id``, ``canonical`` and ``sim`` appended, linked on
    ``lower(df[surface_col])``; rows whose surface links to nothing are
    dropped. The argmax runs per DISTINCT surface.

    One decision picks both physical paths. While the dictionary fits
    ``max_broadcast_entities``, the link is the broadcast matmul
    (:func:`link_surfaces`) and the join-back a **broadcast** equi-join
    (zero shuffle of the big side — head-entity skew never
    materialises). Past the budget, the link is the distributed argmax
    (:func:`link_surfaces_distributed`) and the join-back the north
    rule's **salted** shuffle join (``salted_top1_join``), spreading
    each head surface over ``LINK_SALT_BUCKETS`` reducers. Same output
    either way (pinned by test) up to float near-ties: the broadcast
    path scores in float32 numpy, the distributed path in float64 SQL,
    so two entities whose true dots differ by < f32 epsilon can rank
    differently across the path boundary — acceptable for a
    0.9-threshold similarity link."""
    keyed = df.withColumn("q_surface", F.lower(F.col(surface_col)))
    if _entity_count_hint(entities) <= max_broadcast_entities:
        linked = link_surfaces(keyed, entities, surface_col="q_surface")
        return keyed.join(
            F.broadcast(linked.withColumnRenamed("surface", "q_surface")), on="q_surface"
        ).drop("q_surface")
    linked = link_surfaces_distributed(keyed, entities, surface_col="q_surface")
    return salted_top1_join(
        keyed,
        linked.withColumnRenamed("surface", "q_surface"),
        key="q_surface",
        order_col="sim",
        salt_buckets=LINK_SALT_BUCKETS,
    ).drop("q_surface")


def salted_top1_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    order_col: str,
    salt_buckets: int = 8,
    seed: int = 42,
    keep_salt: bool = False,
) -> DataFrame:
    """North-rule salted join: top-1 row of ``small`` per ``key`` joined to
    a skewed ``big`` table WITHOUT broadcasting and without one reducer
    absorbing a head key. ``keep_salt`` retains the ``__salt`` column so
    tests can assert the head key actually spreads across buckets.

    big is salted with ``pmod(hash(rand), S)``; small is replicated S
    ways (explode over a literal salt array); the equi-join key becomes
    (key, salt) so a head key's rows spread over S reducers. The top-1
    reduction over ``small`` happens BEFORE replication (dictionary-sized
    window), so the join itself is 1:1 per (key, salt).
    """
    w = Window.partitionBy(key).orderBy(F.desc(order_col))
    top1 = small.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    salts = F.array(*[F.lit(s) for s in range(salt_buckets)])
    top1_rep = top1.withColumn("__salt", F.explode(salts))
    big_salted = big.withColumn(
        "__salt", F.pmod(F.hash(F.monotonically_increasing_id(), F.lit(seed)), F.lit(salt_buckets))
    )
    joined = big_salted.join(top1_rep, on=[key, "__salt"])
    return joined if keep_salt else joined.drop("__salt")


# --- N5: per-entity variable canonicalization (grouped map) -------------------

_VAR_GROUP_SCHEMA = T.StructType(
    [
        T.StructField("entity_id", T.LongType()),
        T.StructField("var", T.StringType()),
        T.StructField("canonical_var", T.StringType()),
    ]
)


def canonicalize_variables(entity_vars: DataFrame) -> DataFrame:
    """(entity_id, var) -> (entity_id, var, canonical_var).

    Reference N5 (``src/CoAP_contradiction_checking.py:380-441``): within
    one entity, group variables whose embeddings exceed 0.9 cosine
    (greedy group-accretion in pair order) and rewrite each to the group
    representative. The reference picks ``random.choice`` under seed 4;
    we pick the lexicographically smallest member — deterministic under
    any partitioning (documented divergence, FIXTURES.md §4).

    Spark shape: ``groupBy(entity_id).applyInPandas`` — each group is one
    entity's distinct variables (small); grouped-map keeps the O(k^2)
    inside a vectorized batch.
    """

    def per_entity(pdf: pd.DataFrame) -> pd.DataFrame:
        variables = sorted(set(pdf["var"]))
        vecs = np.asarray(stub_models.embed_batch(variables), dtype=np.float32)
        # quantized micro-unit compare (see SIM_SCALE): threshold-exact
        # pairs must not flip with BLAS summation order
        sims = np.rint((vecs @ vecs.T).astype(np.float64) * SIM_SCALE)
        qt = _qthresh(SIMILARITY_THRESHOLD)
        groups: list[list[str]] = []
        k = len(variables)
        for i in range(k):
            for j in range(i + 1, k):
                if sims[i, j] > qt:
                    vi, vj = variables[i], variables[j]
                    added = False
                    for g in groups:
                        if vi in g and vj not in g:
                            g.append(vj)
                            added = True
                        elif vj in g and vi not in g:
                            g.append(vi)
                            added = True
                        elif vi in g and vj in g:
                            added = True
                    if not added:
                        groups.append([vi, vj])
        rewrite: dict[str, str] = {}
        for g in groups:
            rep = min(g)
            for v in g:
                rewrite[v] = rep
        eid = pdf["entity_id"].iloc[0]
        return pd.DataFrame(
            {
                "entity_id": [eid] * k,
                "var": variables,
                "canonical_var": [rewrite.get(v, v) for v in variables],
            }
        )

    distinct_vars = entity_vars.select("entity_id", "var").distinct()
    return distinct_vars.groupBy("entity_id").applyInPandas(per_entity, _VAR_GROUP_SCHEMA)
