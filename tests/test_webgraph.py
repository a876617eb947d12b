"""Graph-analytics operators (operators/webgraph.py): hand-computable
fixtures + partitioning invariance for the fixed-point PageRank."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from coap_rfc_knowledge_graph_spark.operators.webgraph import (
    SCALE,
    degree_stats,
    pagerank_fixedpoint,
    triangle_count,
    two_hop_counts,
    undirected_edges,
)


def _edges(spark, pairs, partitions=None):
    df = spark.createDataFrame(pairs, "src long, dst long")
    return df.repartition(partitions, "src") if partitions else df


def test_pagerank_cycle_symmetric(spark):
    # a 3-cycle is vertex-transitive: every node gets the identical rank,
    # and with out_degree 1 everywhere no floor mass is lost:
    # r1 = 150000 + (1000000*85) div 100 = 1000000 (fixed point)
    e = _edges(spark, [(0, 1), (1, 2), (2, 0)])
    got = {r.node: r.rank for r in pagerank_fixedpoint(e, iterations=4).collect()}
    assert got == {0: SCALE, 1: SCALE, 2: SCALE}


def test_pagerank_star_hub_dominates(spark):
    # leaves 1..4 all point at 0; 0 points back at 1. After one round the
    # hub holds the leaves' damped mass and every leaf rank is equal.
    e = _edges(spark, [(1, 0), (2, 0), (3, 0), (4, 0), (0, 1)])
    got = {r.node: r.rank for r in pagerank_fixedpoint(e, iterations=3).collect()}
    assert got[0] > max(v for k, v in got.items() if k != 0)
    assert got[2] == got[3] == got[4]  # leaves with no in-edges
    assert got[2] == (SCALE * 15) // 100


def test_pagerank_partitioning_invariant(spark):
    # fixed-point integer arithmetic: bit-identical under any layout
    pairs = [(i % 13, (i * 7 + 1) % 13) for i in range(60)]
    pairs = [(a, b) for a, b in pairs if a != b]
    r1 = {r.node: r.rank for r in pagerank_fixedpoint(_edges(spark, pairs), iterations=3).collect()}
    r8 = {
        r.node: r.rank
        for r in pagerank_fixedpoint(_edges(spark, pairs, partitions=8), iterations=3).collect()
    }
    assert r1 == r8


def test_pagerank_checkpoint_matches_plain(spark):
    pairs = [(i % 11, (i * 5 + 2) % 11) for i in range(40) if i % 11 != (i * 5 + 2) % 11]
    a = {r.node: r.rank for r in pagerank_fixedpoint(_edges(spark, pairs), 5, checkpoint_every=2).collect()}
    b = {r.node: r.rank for r in pagerank_fixedpoint(_edges(spark, pairs), 5, checkpoint_every=0).collect()}
    assert a == b


def test_degree_stats_zero_fill(spark):
    e = _edges(spark, [(0, 1), (0, 2), (1, 2)])
    got = {r.node: (r.out_degree, r.in_degree, r.degree) for r in degree_stats(e).collect()}
    assert got == {0: (2, 0, 2), 1: (1, 1, 2), 2: (0, 2, 2)}


def test_triangles_k4(spark):
    # K4 has C(4,3) = 4 triangles; directed duplicates/self-loops ignored
    pairs = [(a, b) for a in range(4) for b in range(4) if a != b] + [(1, 1), (2, 1)]
    e = _edges(spark, pairs)
    assert triangle_count(e).collect()[0].n_triangles == 4
    assert undirected_edges(e).count() == 6


def test_triangles_none_on_path(spark):
    e = _edges(spark, [(0, 1), (1, 2), (2, 3)])
    assert triangle_count(e).collect()[0].n_triangles == 0


def test_two_hop_path_semantics(spark):
    # 0->1->2, 0->2->3: two-hop from 0 = {2, 3}; from 1 = {3}; 2, 3 none
    e = _edges(spark, [(0, 1), (1, 2), (0, 2), (2, 3)])
    got = {r.node: r.n_two_hop for r in two_hop_counts(e).collect()}
    assert got == {0: 2, 1: 1}


@pytest.mark.parametrize("iters", [1, 3])
def test_pagerank_mass_bounded(spark, iters):
    # floors only ever LOSE mass: total rank <= N * SCALE always
    pairs = [(i % 17, (i * 3 + 1) % 17) for i in range(80) if i % 17 != (i * 3 + 1) % 17]
    e = _edges(spark, pairs)
    n = e.select("src").union(e.select("dst")).distinct().count()
    total = pagerank_fixedpoint(e, iterations=iters).agg(F.sum("rank")).collect()[0][0]
    assert total <= n * SCALE


def test_graph_family_over_real_kg_triples(spark):
    """The graph operators must run over the ACTUAL flagship KG output,
    not just the synthetic contract graph: triples -> entity edge table
    -> PageRank/degrees. Deterministic because the extraction + the
    quantized linking are (pinned elsewhere); here we assert shape,
    totals, and that hub entities out-rank the median."""
    import __spark_entry__ as entry
    from coap_rfc_knowledge_graph_spark.operators.webgraph import (
        degree_stats,
        pagerank_fixedpoint,
    )

    triples = entry.entry(spark)
    edges = triples.select(F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")).distinct()
    n_edges = edges.count()
    assert n_edges > 100
    ranks = pagerank_fixedpoint(edges, iterations=2).collect()
    degs = degree_stats(edges)
    assert degs.count() == len(ranks)  # same node universe
    rank_vals = sorted(r.rank for r in ranks)
    med = rank_vals[len(rank_vals) // 2]
    top_in = degs.orderBy("in_degree", ascending=False).first().node
    top_rank = {r.node: r.rank for r in ranks}[top_in]
    assert top_rank > med  # the most-linked entity out-ranks the median


def test_hits_fixedpoint_semantics_and_invariance(spark):
    """Tiny hub/authority graph: h0,h1 both point at a0 (authority),
    h0 also at a1. After one round a0 must out-rank a1, h0 out-rank h1,
    maxima normalize to SCALE; partitioning-invariant."""
    from coap_rfc_knowledge_graph_spark.operators.webgraph import hits_fixedpoint

    edges = spark.createDataFrame(
        [(0, 10), (1, 10), (0, 11)], "src long, dst long"
    )
    out = {r["node"]: r for r in hits_fixedpoint(edges, iterations=2).collect()}
    assert out[10]["auth"] == 1_000_000 and out[11]["auth"] < 1_000_000
    assert out[0]["hub"] == 1_000_000 and out[1]["hub"] < out[0]["hub"]
    assert out[10]["hub"] == 0 and out[0]["auth"] == 0  # pure roles
    again = {
        r["node"]: tuple(r)
        for r in hits_fixedpoint(edges.repartition(5), iterations=2).collect()
    }
    assert again == {k: tuple(v) for k, v in out.items()}


def test_hits_rejects_zero_iterations_and_truncates_lineage(spark):
    """iterations=0 is a clear ValueError (not a None-join TypeError);
    deep runs truncate lineage every checkpoint_every rounds, so an
    8-iteration plan stays analyzable and matches the untruncated run."""
    import pytest as _pytest

    from coap_rfc_knowledge_graph_spark.operators.webgraph import hits_fixedpoint

    edges = spark.createDataFrame(
        [(0, 10), (1, 10), (0, 11), (10, 0), (11, 1)], "src long, dst long"
    )
    with _pytest.raises(ValueError, match="iterations >= 1"):
        hits_fixedpoint(edges, iterations=0)
    # NOTE: deliberately never build checkpoint_every=0 at 8 iterations —
    # the crossJoin normalization references each round's sums twice, so
    # the untruncated plan is ~4^rounds the base size (the bug this
    # parameter exists to kill). Equality across different truncation
    # cadences + a bounded plan suffice.
    deep = hits_fixedpoint(edges, iterations=8, checkpoint_every=2)
    other = hits_fixedpoint(edges, iterations=8, checkpoint_every=3)
    assert sorted(tuple(r) for r in deep.collect()) == sorted(
        tuple(r) for r in other.collect()
    )
    # lineage truncation keeps the analyzed plan bounded: only the rounds
    # after the last checkpoint survive, not all eight
    plan = deep._jdf.queryExecution().optimizedPlan().toString()
    # two un-truncated rounds of the x4 doubling ≈ 68 joins; all eight
    # would be ~4^8. Anything in the low hundreds proves truncation ran.
    assert plan.count("Join") <= 100


def test_synthetic_web_edges_shape_and_determinism(spark):
    """The bench graph generator: deterministic under any partitioning,
    power-law head (node 0 is the top hub), no self-loops, bounded ids."""
    from coap_rfc_knowledge_graph_spark.operators.webgraph import synthetic_web_edges

    e = synthetic_web_edges(spark, 20_000, seed=7)
    rows = e.collect()
    assert all(r.src != r.dst for r in rows)
    assert all(0 <= r.dst < 2_000 and 0 <= r.src < 2_000 for r in rows)
    from collections import Counter

    indeg = Counter(r.dst for r in rows)
    top = indeg.most_common(3)
    assert top[0][0] == 0 and top[0][1] > 3 * top[2][1]  # head skew
    again = sorted((r.src, r.dst) for r in synthetic_web_edges(spark, 20_000, seed=7).repartition(13).collect())
    assert again == sorted((r.src, r.dst) for r in rows)


def _pagerank_reference(edges, iterations, scale=SCALE, damp_num=85, damp_den=100):
    """The documented BIGINT update rule in plain Python over (src, dst,
    weight) edges: every node starts at ``scale``; each round a node
    gets the base mass plus, per in-edge, the floor of its source's
    damped rank split by weight over the source's total out-weight."""
    from collections import Counter

    nodes = {n for s, d, _ in edges for n in (s, d)}
    out_w = Counter()
    for s, _, w in edges:
        out_w[s] += w
    base = (scale * (damp_den - damp_num)) // damp_den
    rank = dict.fromkeys(nodes, scale)
    for _ in range(iterations):
        mass = Counter()
        for s, d, w in edges:
            mass[d] += (rank[s] * damp_num * w) // (damp_den * out_w[s])
        rank = {n: base + mass[n] for n in nodes}
    return rank


@pytest.mark.parametrize(
    "seed,iterations,checkpoint_every", [(0, 1, 0), (1, 2, 1), (2, 3, 0), (3, 4, 1)]
)
def test_pagerank_matches_python_reference(spark, seed, iterations, checkpoint_every):
    """Both PageRank operators equal the pure-Python update rule on a
    random small graph with duplicate edges, self-loops and a dangling
    node: ``pagerank_fixedpoint`` and ``pagerank_weighted`` at unit
    weights, and ``pagerank_weighted`` at weights 1-5."""
    import random

    from coap_rfc_knowledge_graph_spark.operators.webgraph import pagerank_weighted

    rng = random.Random(seed)
    n = rng.randint(4, 9)
    sink = n - 1  # dangling: never a source
    pairs = [(rng.randrange(sink), rng.randrange(n)) for _ in range(rng.randint(6, 20))]
    pairs += [pairs[0], (1, 1), (0, sink)]  # a duplicate edge, a self-loop, the sink
    weights = [rng.randint(1, 5) for _ in pairs]
    unit = [(s, d, 1) for s, d in pairs]
    weighted = [(s, d, w) for (s, d), w in zip(pairs, weights)]

    def ranks(df):
        return {r.node: r.rank for r in df.collect()}

    def frame(rows):
        return spark.createDataFrame(rows, "src long, dst long, weight long").repartition(3)

    want_unit = _pagerank_reference(unit, iterations)
    got = pagerank_fixedpoint(frame(unit).drop("weight"), iterations, checkpoint_every=checkpoint_every)
    assert ranks(got) == want_unit
    got = pagerank_weighted(frame(unit), iterations, checkpoint_every=checkpoint_every)
    assert ranks(got) == want_unit
    got = pagerank_weighted(frame(weighted), iterations, checkpoint_every=checkpoint_every)
    assert ranks(got) == _pagerank_reference(weighted, iterations)


def test_pagerank_weighted_mass_follows_weight(spark):
    """One source splitting 3:1 between two sinks: the heavy edge's
    endpoint gets 3x the light one's in-mass (exact integer check)."""
    from coap_rfc_knowledge_graph_spark.operators.webgraph import pagerank_weighted

    edges = spark.createDataFrame(
        [("s", "a", 3), ("s", "b", 1)], "src string, dst string, weight long"
    )
    got = {r.node: r.rank for r in pagerank_weighted(edges, iterations=1).collect()}
    base = 150_000
    # contrib = (1_000_000 * 85 * w) div (4 * 100)
    assert got["a"] == base + (1_000_000 * 85 * 3) // 400
    assert got["b"] == base + (1_000_000 * 85 * 1) // 400
    assert got["s"] == base  # no in-edges


def test_harmonic_centrality_exact_on_hand_graph(spark):
    """Path a->b->c->d plus shortcut a->c, radius 2: distances into c
    are {b:1, a:1 (shortcut wins over the 2-hop path)}, into d are
    {c:1, b:2, a:2}."""
    from coap_rfc_knowledge_graph_spark.operators.webgraph import harmonic_centrality

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")], "src string, dst string"
    )
    got = {r.node: (r.harmonic, r.n_reached) for r in harmonic_centrality(edges, radius=2).collect()}
    S = 1_000_000
    assert got["a"] == (0, 0)
    assert got["b"] == (S, 1)  # a at d=1
    assert got["c"] == (2 * S, 2)  # a,b both at d=1 (shortcut wins)
    assert got["d"] == (S + 2 * (S // 2), 3)  # c@1, b@2, a@2
    # partitioning invariance
    again = {
        r.node: (r.harmonic, r.n_reached)
        for r in harmonic_centrality(edges.repartition(7), radius=2).collect()
    }
    assert again == got


def test_harmonic_sketch_tracks_exact_and_validates_radius(spark):
    """HyperBall vs the exact operator on a 300-node graph: HLL sketches
    are exact at these cardinalities (sparse mode), so the estimates
    must match the exact counts; harmonic within rounding."""
    import pytest

    from coap_rfc_knowledge_graph_spark.operators.webgraph import (
        harmonic_centrality,
        harmonic_centrality_sketch,
        synthetic_web_edges,
    )

    e = synthetic_web_edges(spark, 3_000, seed=11)
    exact = {r.node: (r.harmonic, r.n_reached) for r in harmonic_centrality(e, radius=2).collect()}
    sk = {r.node: (r.harmonic_micro, r.n_reached) for r in harmonic_centrality_sketch(e, radius=2).collect()}
    assert set(sk) == set(exact)
    for n, (h, c) in exact.items():
        assert sk[n][1] == c
        assert abs(sk[n][0] - h) <= max(2, h // 1000)  # float round-off only
    with pytest.raises(ValueError):
        harmonic_centrality_sketch(e, radius=0)
    with pytest.raises(ValueError):
        harmonic_centrality(e, radius=0)


def test_weakly_connected_components_on_hand_graph(spark):
    """Two chains and an isolated-pair component; direction must not
    matter (weak connectivity), component id = min node id, one rep
    per component."""
    from coap_rfc_knowledge_graph_spark.operators.webgraph import (
        weakly_connected_components,
    )

    edges = spark.createDataFrame(
        # component {1,2,3} (3->2 reversed, still weakly connected),
        # component {10, 11}, component {20, 21, 22} via a middle hub
        [(1, 2), (3, 2), (10, 11), (21, 20), (21, 22)],
        "src long, dst long",
    )
    got = {r.node: (r.component, r.is_rep) for r in weakly_connected_components(edges).collect()}
    assert got == {
        1: (1, 1), 2: (1, 0), 3: (1, 0),
        10: (10, 1), 11: (10, 0),
        20: (20, 1), 21: (20, 0), 22: (20, 0),
    }
    again = {
        r.node: (r.component, r.is_rep)
        for r in weakly_connected_components(edges.repartition(7)).collect()
    }
    assert again == got


def test_job_host_ranks_stage(spark, tmp_path):
    """--host-ranks materializes link_graph (implied) + host_ranks
    stages: weighted host-level PageRank over the crawl's cross-host
    links, equal to composing the operators directly."""
    import os
    import sys

    from pyspark.sql import functions as F

    from coap_rfc_knowledge_graph_spark.operators.html_extract import html_links
    from coap_rfc_knowledge_graph_spark.operators.webgraph import (
        host_graph,
        pagerank_weighted,
    )
    from coap_rfc_knowledge_graph_spark.plans.checkpointing import StageStore

    import datetime

    rows = []
    for i in range(6):
        h = f"h{i % 3}.example"
        html = (
            f'<html><body><p>The server MUST send a response. Doc {i}.</p>'
            f'<a href="https://h{(i + 1) % 3}.example/x">next</a>'
            f'<a href="https://h{(i + 2) % 3}.example/y">other</a></body></html>'
        )
        rows.append(
            (
                f"https://{h}/p{i}",
                datetime.datetime(2026, 1, 2, i),
                html.encode(),
                f"The server MUST send a response. Doc {i}.",
                "en",
            )
        )
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    src = str(tmp_path / "pages")
    pages.write.parquet(src)

    out = str(tmp_path / "state")
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")
    )
    import run_pipeline

    old = sys.argv
    try:
        sys.argv = [
            "run_pipeline.py", "--pages", src, "--out", out,
            "--host-ranks", "2", "--url-partitions", "4",
        ]
        run_pipeline.main()
    finally:
        sys.argv = old

    store = StageStore(out)
    assert store.manifest("link_graph")["row_count"] == 12
    got = {r.host: r.rank for r in store.read(spark, "host_ranks").collect()}
    want = {
        r.node: r.rank
        for r in pagerank_weighted(
            host_graph(html_links(pages)), iterations=2,
            src_col="src_host", dst_col="dst_host",
        ).collect()
    }
    assert got == want and set(got) == {"h0.example", "h1.example", "h2.example"}
    assert all(v > 0 for v in got.values())


def test_harmonic_exact_guards_pair_explosion(spark):
    """The exact form refuses graphs above max_edges (the pair set is
    quadratic-ish in radius) and points to the sketch; an explicit
    larger limit opts in."""
    import pytest

    from coap_rfc_knowledge_graph_spark.operators.webgraph import (
        harmonic_centrality,
        synthetic_web_edges,
    )

    e = synthetic_web_edges(spark, 3_000, seed=5)
    with pytest.raises(ValueError, match="harmonic_centrality_sketch"):
        harmonic_centrality(e, radius=2, max_edges=100)
    assert harmonic_centrality(e, radius=2, max_edges=1_000_000).count() > 0
