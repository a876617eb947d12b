"""Graph analytics over the materialized KG / web-link edge tables —
the queries a knowledge-graph consumer runs AFTER construction (entity
importance, hub detection, neighborhood statistics) and a web-corpus
curator runs over the crawl's link graph (PageRank-weighted sampling is
a standard training-data curation signal; see Common Crawl's harmonic-
centrality ranks).

Not present in the reference repo (its graph lives in a pickled
networkx-style dict and is only ever traversed for contradiction
checks); this family belongs to the "queries over the constructed
graph" surface, same tier as ``operators/contradictions.py``.

Engine-exactness discipline: PageRank is computed in FIXED-POINT
INTEGER arithmetic (BIGINT micro-units, floor division) so the result
is bit-identical under any partitioning, any summation order, and in
the DuckDB oracle — float PageRank would drift by summation order and
could never be value-hash-verified across engines. The floor leaks
O(1) micro-units of mass per edge per iteration (bounded, documented);
ranking order is unaffected for any realistically-sized graph.

Scale shape (10^12 edges):
- every iteration is one equi-join of ranks onto edges keyed ``src``
  plus one hash aggregate keyed ``dst`` — two shuffles of the edge
  table per iteration, the textbook distributed-PageRank plan. The
  unweighted operator is the weighted one with unit weights, so both
  share one loop.
- ranks are localCheckpoint'ed every ``checkpoint_every`` iterations to
  cut lineage growth (an unbounded iterative plan otherwise re-plans
  O(k) joins at every action).
- degree/triangle/2-hop are single-pass joins + aggregates with
  map-side partial combine; triangle enumeration canonicalizes a<b so
  each triangle is produced exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# fixed-point scale: ranks are in millionths (BIGINT). With damping
# 85/100 and rank mass <= N * SCALE, the per-edge product
# rank * DAMP_NUM stays far below 2^63 for any N < 10^14.
SCALE = 1_000_000
DAMP_NUM = 85
DAMP_DEN = 100


def synthetic_web_edges(
    spark, n_edges: int, n_nodes: int | None = None, seed: int = 7
) -> DataFrame:
    """Deterministic skewed directed edge table shaped like a crawl's
    link graph, for data-bound benchmarking at any size: src ~ uniform,
    dst ~ power-law (density ∝ 1/sqrt(dst) via the v² transform of a
    congruential uniform draw — low-id nodes are hubs, in-degree(0)
    ≈ n_edges/sqrt(n_nodes), the head-skew shape PageRank/HITS meet on
    a real web graph). Pure ``spark.range`` + codegen projections:
    distributed, no driver data, same graph at any partitioning. All
    intermediate products stay far below 2^63."""
    n_nodes = n_nodes or max(2, n_edges // 10)
    m = 1_000_003  # prime modulus for the dst draw; u*u < 1e12 << 2^63
    return (
        spark.range(n_edges)
        .select(
            F.pmod(F.col("id") * 2654435761 + seed, F.lit(n_nodes)).alias("src"),
            F.expr(
                f"(pmod(id * 22695477 + {1 + seed}, {m}) * pmod(id * 22695477 + {1 + seed}, {m})"
                f" div {m}) * {n_nodes} div {m}"
            ).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )


def host_graph(
    edges: DataFrame, level: str = "host", src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """URL-level hyperlink edges -> the weighted host-level (or
    registered-domain-level, ``level='domain'``) graph: (src_host,
    dst_host, weight), intra-host edges and unparseable URLs dropped.
    This is the Common-Crawl host/domain-webgraph product — the input
    the domain-ranking curation signals (harmonic centrality, domain
    PageRank) are computed from, three orders of magnitude smaller than
    the page graph. One codegen projection + one hash aggregate with
    map-side partial combine; the shuffle carries (host, host) pairs,
    never URLs."""
    from .webtext import _AUTH_PAT, _HOST_PAT, registered_domain_expr

    if level not in ("host", "domain"):
        raise ValueError(f"level must be 'host' or 'domain', got {level!r}")

    def hexpr(c):
        h = F.lower(F.regexp_extract(F.regexp_extract(c, _AUTH_PAT, 1), _HOST_PAT, 1))
        return registered_domain_expr(h) if level == "domain" else h

    return (
        edges.select(
            hexpr(F.col(src_col)).alias("src_host"), hexpr(F.col(dst_col)).alias("dst_host")
        )
        .filter(
            (F.col("src_host") != "")
            & (F.col("dst_host") != "")
            & (F.col("src_host") != F.col("dst_host"))
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def graph_nodes(edges: DataFrame) -> DataFrame:
    """Distinct node set of a directed edge table (src, dst)."""
    return (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


def weakly_connected_components(edges: DataFrame, max_rounds: int = 50) -> DataFrame:
    """Weakly-connected components of a directed edge table:
    (node, component, is_rep) with ``component`` = the MIN node id of
    the undirected component — the webgraph mirror-site / link-farm
    grouping signal (a crawl's host graph decomposes into one giant
    component plus a long tail of isolated site clusters worth
    down-weighting as a unit).

    Pure reuse of :func:`dedup.dup_clusters`'s distributed min-label
    propagation (one symmetric-edge join + min aggregate per round,
    per-round lineage truncation, early exit on convergence): a node
    set and an edge list are exactly a doc set and a near-dup pair set.
    Converges in O(component diameter) rounds; web graphs are
    shallow-diameter, so the default bound is generous. Same shuffle
    shape as one PageRank iteration per round."""
    from .dedup import dup_clusters

    nodes = graph_nodes(edges).select(F.col("node").alias("doc_id"))
    pairs = edges.select(F.col("src").alias("doc_a"), F.col("dst").alias("doc_b"))
    return dup_clusters(nodes, pairs, max_rounds=max_rounds).select(
        F.col("doc_id").alias("node"),
        F.col("cluster_id").alias("component"),
        F.col("is_keeper").alias("is_rep"),
    )


def degree_stats(edges: DataFrame) -> DataFrame:
    """(node, out_degree, in_degree, degree): directed degree counts
    with zero-fill over the full node set. Two hash aggregates + two
    broadcast-or-shuffle joins on the node key; at web scale the
    aggregates' map-side partial combine makes this one shuffle of one
    row per (task, node)."""
    out_d = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_d = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        graph_nodes(edges)
        .join(out_d, "node", "left")
        .join(in_d, "node", "left")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            (F.coalesce("out_degree", F.lit(0)) + F.coalesce("in_degree", F.lit(0))).alias(
                "degree"
            ),
        )
    )


def pagerank_fixedpoint(
    edges: DataFrame,
    iterations: int = 4,
    scale: int = SCALE,
    damp_num: int = DAMP_NUM,
    damp_den: int = DAMP_DEN,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Fixed-point integer PageRank: after ``iterations`` rounds returns
    (node, rank) with rank in micro-units (BIGINT).

    Update rule (all BIGINT, floor division — exact in every engine):

        rank0(v)   = scale
        contrib(u) = (rank(u) * damp_num) div (damp_den * out_degree(u))
        rank'(v)   = (scale * (damp_den - damp_num)) div damp_den
                     + sum over in-edges contrib(u)

    This is :func:`pagerank_weighted` with every edge weighing 1: then
    ``out_w`` is ``out_degree`` (duplicate edges counted) and each
    edge's contribution is the one above.

    Dangling nodes (no out-edges) leak their damped mass — the standard
    "no dangling redistribution" variant; redistribute via a scalar agg
    + broadcast if mass conservation matters. Ties and totals are exact:
    the result is invariant to partitioning and summation order, which
    is what lets the DuckDB oracle hash-match it.
    """
    return pagerank_weighted(
        edges.select("src", "dst", F.lit(1).alias("weight")),
        iterations,
        scale,
        damp_num,
        damp_den,
        checkpoint_every=checkpoint_every,
    )


def pagerank_weighted(
    edges: DataFrame,
    iterations: int = 4,
    scale: int = SCALE,
    damp_num: int = DAMP_NUM,
    damp_den: int = DAMP_DEN,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
    checkpoint_every: int = 4,
) -> DataFrame:
    """Weighted fixed-point integer PageRank over a (src, dst, weight)
    edge table — the domain-ranking pass over :func:`host_graph` output
    (Common Crawl's domain ranks weight inter-host links by how many
    page-level links they aggregate). Same engine-exact BIGINT
    discipline as :func:`pagerank_fixedpoint`; the update rule splits a
    node's damped mass proportionally to edge weight:

        out_w(u)      = sum of weights of u's out-edges
        contrib(u->v) = (rank(u) * damp_num * w) div (damp_den * out_w(u))
        rank'(v)      = (scale * (damp_den - damp_num)) div damp_den
                        + sum over in-edges contrib

    Overflow bound: rank * damp_num * max-weight must stay below 2^63
    (rank is at most ~total mass = N * scale micro-units); on graphs
    with very heavy edges pass a smaller ``scale``. Shuffle shape: one
    equi-join + one hash aggregate per iteration, loop invariants
    lineage-truncated."""
    base = (scale * (damp_den - damp_num)) // damp_den
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("long").alias("w"),
    ).localCheckpoint(eager=False)
    # out_w and nodes are consumed by EVERY iteration: without lineage
    # truncation the final plan re-derives each from the full edge table
    # once per round (k redundant edge-table aggregations in one action)
    out_w = (
        e.groupBy(F.col("src").alias("node"))
        .agg(F.sum("w").alias("out_w"))
        .localCheckpoint(eager=False)
    )
    nodes = graph_nodes(e).localCheckpoint(eager=False)
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("rank"))
    for i in range(iterations):
        contribs = (
            ranks.join(out_w, "node")
            .join(e.select(F.col("src").alias("node"), "dst", "w"), "node")
            .select(
                "dst",
                F.expr(f"(rank * {damp_num} * w) div (out_w * {damp_den})").alias("c"),
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("in_mass"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (F.lit(base) + F.coalesce("in_mass", F.lit(0))).cast("long").alias("rank"),
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def harmonic_centrality(
    edges: DataFrame,
    radius: int = 2,
    scale: int = SCALE,
    max_edges: int = 50_000_000,
) -> DataFrame:
    """Exact bounded-radius harmonic centrality, fixed-point integer:
    (node, harmonic, n_reached) where

        harmonic(v) = sum over u with 0 < d(u, v) <= radius
                      of (scale div d(u, v))

    d = shortest DIRECTED in-distance (u reaches v) — incoming harmonic
    centrality is the ranking Common Crawl publishes for hosts. BIGINT
    floor division, so exact under any partitioning and in the DuckDB
    oracle (unrolled per-layer CTEs).

    Scale shape: this EXACT form materializes every (u, v) pair within
    ``radius`` — the right tool on the host/domain graph (millions of
    nodes, small radius) or for the oracle, and deliberately the wrong
    one on a page-scale graph, where the pair set explodes
    combinatorially. ``max_edges`` makes that a GUARD, not a docstring
    promise (the SemDeDup-cluster-cap lesson, VERDICT r4 #1): above it
    the operator refuses and points to
    :func:`harmonic_centrality_sketch` (HyperBall over HLL sketches,
    node-linear state); raise the limit explicitly if the pair budget
    is truly available. Per layer k: one equi-join on the frontier's
    endpoint + one left-anti join against the already-reached set
    (min-distance semantics), both plain shuffles on node keys."""
    if radius < 1:
        raise ValueError(f"harmonic_centrality needs radius >= 1 (got {radius})")
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    if max_edges is not None:
        n_edges = e.count()  # one cheap action; e is reused by every layer
        if n_edges > max_edges:
            raise ValueError(
                f"harmonic_centrality materializes the within-radius pair set; "
                f"{n_edges} distinct edges exceeds max_edges={max_edges}. Use "
                f"harmonic_centrality_sketch (node-linear HyperBall) on graphs "
                f"this size, or pass a larger max_edges explicitly."
            )
    nodes = graph_nodes(e).localCheckpoint(eager=False)
    # reached: (u, v, d) with d = min directed distance, built layer by layer
    reached = e.select(F.col("src").alias("u"), F.col("dst").alias("v"), F.lit(1).alias("d"))
    frontier = reached
    for k in range(2, radius + 1):
        reached = reached.localCheckpoint(eager=False)
        cand = (
            frontier.select("u", F.col("v").alias("mid"))
            .join(e.select(F.col("src").alias("mid"), F.col("dst").alias("v")), "mid")
            .select("u", "v")
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        frontier = cand.join(reached.select("u", "v"), ["u", "v"], "left_anti").select(
            "u", "v", F.lit(k).alias("d")
        )
        reached = reached.unionByName(frontier)
    per_node = reached.groupBy(F.col("v").alias("node")).agg(
        F.sum(F.expr(f"{scale} div d")).alias("harmonic"),
        F.count(F.lit(1)).alias("n_reached"),
    )
    return nodes.join(per_node, "node", "left").select(
        "node",
        F.coalesce("harmonic", F.lit(0)).cast("long").alias("harmonic"),
        F.coalesce("n_reached", F.lit(0)).cast("long").alias("n_reached"),
    )


def harmonic_centrality_sketch(
    edges: DataFrame, radius: int = 2, lg_config_k: int = 12
) -> DataFrame:
    """HyperBall (Boldi & Vigna, 2013): approximate harmonic centrality
    via HyperLogLog sketches — the 100-TB path the exact operator's
    docstring points to. State per node is ONE fixed-size HLL sketch
    (2^lg_config_k registers), never a pair set:

        ball_0(v) = sketch({v})
        ball_d(v) = ball_{d-1}(v) HLL-union
                    (union over in-edges u->v of ball_{d-1}(u))
        harmonic(v) ~= sum over d of (|ball_d| - |ball_{d-1}|) / d

    Per round: one equi-join of sketches onto edges + one
    ``hll_union_agg`` keyed dst + one two-sketch ``hll_union`` with the
    node's own previous ball — node-linear shuffle volume regardless of
    how many pairs the exact form would enumerate. Estimates come from
    ``hll_sketch_estimate`` (Apache DataSketches under the hood), so
    results are approximate and NOT oracle-hashable; parity vs the
    exact operator is tested on small graphs instead. Returns
    (node, harmonic_micro, n_reached) with harmonic in micro-units."""
    if radius < 1:
        raise ValueError(f"harmonic_centrality_sketch needs radius >= 1 (got {radius})")
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = graph_nodes(e).localCheckpoint(eager=False)
    # ball_0: each node's sketch of its own id (node is the group key,
    # so every group holds exactly one distinct value)
    cur = (
        nodes.groupBy("node")
        .agg(F.hll_sketch_agg("node", lg_config_k).alias("ball"))
        .localCheckpoint(eager=False)
    )
    # per-round |ball_d| estimates, joined back at the end
    ests = [cur.select("node", F.hll_sketch_estimate("ball").cast("double").alias("e0"))]
    for d in range(1, radius + 1):
        in_union = (
            e.join(cur.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.expr("hll_union_agg(ball)").alias("nbr_ball"))
        )
        cur = (
            cur.join(in_union, "node", "left")
            .select(
                "node",
                F.when(
                    F.col("nbr_ball").isNull(), F.col("ball")
                ).otherwise(F.expr("hll_union(ball, nbr_ball)")).alias("ball"),
            )
            .localCheckpoint(eager=False)
        )
        ests.append(
            cur.select("node", F.hll_sketch_estimate("ball").cast("double").alias(f"e{d}"))
        )
    out = ests[0]
    for d in range(1, radius + 1):
        out = out.join(ests[d], "node")
    terms = [
        (F.col(f"e{d}") - F.col(f"e{d-1}")) / F.lit(float(d)) for d in range(1, radius + 1)
    ]
    harmonic = terms[0]
    for t in terms[1:]:
        harmonic = harmonic + t
    return out.select(
        "node",
        F.round(harmonic * 1_000_000).cast("long").alias("harmonic_micro"),
        F.round(F.col(f"e{radius}") - F.lit(1.0)).cast("long").alias("n_reached"),
    )


def hits_fixedpoint(
    edges: DataFrame,
    iterations: int = 2,
    scale: int = SCALE,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Fixed-point integer HITS: (node, auth, hub) after ``iterations``
    rounds, each value normalized so the per-step maximum equals
    ``scale`` (max-normalization keeps everything in BIGINT — the L2
    norm of the textbook formulation needs sqrt and can never be
    engine-exact).

        hub_0        = scale everywhere
        auth_i(v)    = (sum over in-edges of hub_{i-1}(u)) * scale
                       div max-over-v(that sum)
        hub_i(u)     = (sum over out-edges of auth_i(v)) * scale
                       div max-over-u(that sum)

    The normalizer is a one-row aggregate broadcast back (crossJoin of
    a 1-row frame — no driver action, no collect). Bound: the raw sum
    times scale must stay under 2^63, i.e. max weighted degree below
    ~9.2e12/scale; pass a smaller scale for hub-ier graphs. Exact under
    any partitioning — the DuckDB oracle unrolls the same chain.

    Each round adds two joins + two broadcast normalizations to the
    plan, so (like ``pagerank_weighted``) lineage is truncated every
    ``checkpoint_every`` rounds — without it a 20-iteration run hands
    Catalyst an exponentially deep plan."""
    if iterations < 1:
        raise ValueError(
            f"hits_fixedpoint needs iterations >= 1 (got {iterations}): the "
            "two-phase auth/hub update defines no round-0 auth score"
        )
    # same reuse-across-iterations truncation as pagerank_weighted
    nodes = graph_nodes(edges).localCheckpoint(eager=False)
    hubs = nodes.select("node", F.lit(scale).cast("long").alias("hub"))
    auth = None
    for i in range(iterations):
        araw = (
            edges.join(hubs.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("raw"))
        )
        am = araw.agg(F.max("raw").alias("m"))
        auth = araw.crossJoin(F.broadcast(am)).select(
            "node", F.expr(f"(raw * {scale}) div m").alias("auth")
        )
        hraw = (
            edges.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").alias("raw"))
        )
        hm = hraw.agg(F.max("raw").alias("m"))
        hubs = hraw.crossJoin(F.broadcast(hm)).select(
            "node", F.expr(f"(raw * {scale}) div m").alias("hub")
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            auth = auth.localCheckpoint(eager=False)
            hubs = hubs.localCheckpoint(eager=False)
    return (
        nodes.join(auth, "node", "left")
        .join(hubs, "node", "left")
        .select(
            "node",
            F.coalesce("auth", F.lit(0)).cast("long").alias("auth"),
            F.coalesce("hub", F.lit(0)).cast("long").alias("hub"),
        )
    )


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (a, b) with a < b, self-loops
    dropped, duplicates collapsed."""
    a = F.least("src", "dst").alias("a")
    b = F.greatest("src", "dst").alias("b")
    return edges.select(a, b).filter(F.col("a") != F.col("b")).distinct()


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count of the undirected graph — one row
    (n_triangles). Canonical a<b<c enumeration: join wedge (a,b)+(b,c)
    then close with (a,c); each triangle matches exactly once. At web
    scale the wedge join is the expensive step — it shuffles on the
    shared vertex, so cap or salt super-hub vertices first (the same
    head-cap used for domains); left as the caller's curation step."""
    e = undirected_edges(edges)
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    wedges = e1.join(e2, "y").filter(F.col("x") < F.col("z"))
    closed = wedges.join(
        e.select(F.col("a").alias("x"), F.col("b").alias("z")), ["x", "z"]
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


def two_hop_counts(edges: DataFrame) -> DataFrame:
    """(node, n_two_hop): number of DISTINCT nodes reachable in exactly
    two directed hops (intermediate and endpoints may coincide with the
    start — pure path semantics, matching the SQL oracle). One self-join
    on the middle vertex + a distinct aggregate."""
    e1 = edges.select(F.col("src").alias("node"), F.col("dst").alias("mid"))
    e2 = edges.select(F.col("src").alias("mid"), F.col("dst").alias("far"))
    return (
        e1.join(e2, "mid")
        .groupBy("node")
        .agg(F.countDistinct("far").alias("n_two_hop"))
    )
