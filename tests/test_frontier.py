"""Crawl-frontier prioritization + the skew-safe per-key top-k."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from coap_rfc_knowledge_graph_spark.functions.ranking import two_level_topk_per_key
from coap_rfc_knowledge_graph_spark.operators.frontier import crawl_frontier


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_two_level_topk_per_key_equals_naive_window(spark):
    # deterministic congruential values; key g0 is a head key (half
    # the rows) so the parity also covers the skew shape
    df = spark.range(3000).select(
        F.when(F.col("id") % 2 == 0, "g0")
        .otherwise(F.concat(F.lit("g"), (F.col("id") % 7 + 1).cast("string")))
        .alias("key"),
        ((F.col("id") * 2654435761) % 1000).alias("v"),
        F.col("id").alias("tie"),
    )
    order = [F.desc("v"), F.asc("tie")]
    naive = (
        df.withColumn("__r", F.row_number().over(Window.partitionBy("key").orderBy(*order)))
        .filter(F.col("__r") <= 5)
        .drop("__r")
    )
    for parts in (1, 4, 32):
        got = two_level_topk_per_key(df.repartition(parts), ["key"], order, 5)
        assert _rows(got) == _rows(naive), parts


def test_crawl_frontier_semantics(spark):
    edges = spark.createDataFrame(
        [
            # big.example: 3 candidates, one of them crawled
            ("https://x/1", "https://big.example/a/b/p1"),
            ("https://x/2", "https://big.example/a/b/p1"),
            ("https://x/3", "https://big.example/p2"),
            ("https://x/4", "https://big.example/done"),
            # tiny.example: no rank row -> host_rank 0
            ("https://x/5", "https://tiny.example/q"),
        ],
        "src string, dst string",
    )
    crawled = spark.createDataFrame([("https://big.example/done",)], "url string")
    ranks = spark.createDataFrame([("big.example", 7)], "host string, rank long")
    got = {r.url: r for r in crawl_frontier(edges, crawled, ranks, k=2).collect()}
    assert set(got) == {
        "https://big.example/a/b/p1",
        "https://big.example/p2",
        "https://tiny.example/q",
    }
    p1 = got["https://big.example/a/b/p1"]
    assert (p1.n_inlinks, p1.depth, p1.host_rank) == (2, 3, 7)
    assert p1.priority == 7 * 1000 + 2 * 10 - 3
    q = got["https://tiny.example/q"]
    assert (q.host_rank, q.priority) == (0, 0 * 1000 + 1 * 10 - 1)


def test_job_frontier_stage(spark, tmp_path):
    """--frontier materializes a 'frontier' stage from the job's own
    link_graph + host_ranks stages, excluding already-crawled urls and
    cutting to K per host."""
    import os
    import sys

    def page(i):
        # every page links to two c.example leaves and one crawled peer
        html = (
            f'<a href="https://c.example/new{i % 4}">n</a>'
            f'<a href="https://c.example/deep/new{i % 4}">d</a>'
            f'<a href="https://s{(i + 1) % 2}.example/p{(i + 1) % 6}">peer</a>'
        ).encode()
        return (f"https://s{i % 2}.example/p{i % 6}", html, f"Doc {i} MUST parse.", "en")

    rows = [page(i) for i in range(12)]
    src = str(tmp_path / "pages_src")
    spark.createDataFrame(rows, "url string, html binary, text string, lang string").write.parquet(src)
    out = str(tmp_path / "state")

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
    import run_pipeline

    from coap_rfc_knowledge_graph_spark.plans.checkpointing import StageStore

    store = StageStore(out)
    argv = ["run_pipeline.py", "--pages", src, "--out", out, "--frontier", "3", "--host-ranks", "2"]
    old = sys.argv
    try:
        sys.argv = argv
        run_pipeline.main()
        first = store.manifest("frontier")
        got = store.read(spark, "frontier").collect()
        run_pipeline.main()  # the same args reuse the stage
        assert store.manifest("frontier")["written_at"] == first["written_at"]
        # the host ranks are part of the frontier's identity: a frontier
        # built from other host_ranks must not be reused
        sys.argv = argv[:-1] + ["3"]
        run_pipeline.main()
        again = store.manifest("frontier")
        assert again["written_at"] != first["written_at"]
        assert again["params"]["inputs"]["host_ranks"] == store.table_hash("host_ranks")
    finally:
        sys.argv = old
    # peer links point at crawled pages (excluded); all 8 c.example
    # leaves tie on inlinks (3 each), shallow beats deep via -depth,
    # and the url-asc tiebreak picks new0..new2 of the 4 shallow ones
    assert sorted(r.url for r in got) == [f"https://c.example/new{j}" for j in range(3)]
    assert all(r.host == "c.example" and r.n_inlinks == 3 and r.depth == 1 for r in got)


def test_crawl_frontier_plan_shape(spark):
    """Scale guards, pinned on the physical plan: (a) the crawled side
    feeds the anti-join WITHOUT a pre-dedup aggregate (left_anti tests
    membership; a distinct would add a second full shuffle of a
    corpus-sized table), (b) no window runs without a partition spec
    (a global sort), (c) every window partitions on more than just the
    host until the bounded level-2 cut."""
    edges = spark.range(100).select(
        F.lit("https://s/p").alias("src"),
        F.concat(F.lit("https://h.example/f"), (F.col("id") % 9).cast("string")).alias("dst"),
    )
    crawled = spark.range(10).select(
        F.concat(F.lit("https://h.example/f"), (F.col("id") % 3).cast("string")).alias("url")
    )
    plan = (
        crawl_frontier(edges, crawled, None, k=2)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    # one Aggregate for the inlink count; none on the crawled branch
    assert plan.count("Aggregate") == 1, plan
    assert "windowspecdefinition()" not in plan.lower(), plan  # no empty spec
    # level 1 partitions on (host, __pid); level 2 on host alone
    assert plan.count("windowspecdefinition") == 2, plan


def test_crawl_frontier_k_cut_and_determinism(spark):
    # 40 candidate urls on one host, distinct inlink counts via
    # triangular fan-in; k=3 keeps the 3 most-linked
    edges = spark.range(40).select(
        F.explode(F.sequence(F.lit(0), F.col("id"))).alias("i"),
        F.concat(F.lit("https://h.example/f"), F.col("id").cast("string")).alias("dst"),
    ).select(F.concat(F.lit("https://s/"), F.col("i").cast("string")).alias("src"), "dst")
    crawled = spark.createDataFrame([], "url string")
    a = sorted(r.url for r in crawl_frontier(edges.repartition(1), crawled, None, k=3).collect())
    b = sorted(r.url for r in crawl_frontier(edges.repartition(16), crawled, None, k=3).collect())
    assert a == b == [
        "https://h.example/f37",
        "https://h.example/f38",
        "https://h.example/f39",
    ]


def test_schedule_fetches(spark):
    frontier = spark.createDataFrame(
        [
            ("a.example", "https://a.example/1", 900),
            ("a.example", "https://a.example/2", 500),
            ("a.example", "https://a.example/3", 500),  # tie -> url asc
            ("b.example", "https://b.example/1", 100),
        ],
        "host string, url string, priority long",
    )
    delays = spark.createDataFrame([("a.example", 2000)], "host string, delay_millis long")
    from coap_rfc_knowledge_graph_spark.operators.frontier import schedule_fetches

    got = {r.url: r for r in schedule_fetches(frontier, delays, default_delay_ms=700).collect()}
    assert got["https://a.example/1"].fetch_at_ms == 0
    assert got["https://a.example/2"].fetch_at_ms == 2000
    assert got["https://a.example/3"].fetch_at_ms == 4000
    # b.example has no delay row: default applies
    assert (got["https://b.example/1"].delay_millis,
            got["https://b.example/1"].fetch_at_ms) == (700, 0)


def test_schedule_fetches_duplicate_delay_rows(spark):
    """Two delay rows for one host (two robots files, say) keep one
    frontier row per url and space it by the larger delay."""
    frontier = spark.createDataFrame(
        [("a.example", "https://a.example/1", 900), ("a.example", "https://a.example/2", 500)],
        "host string, url string, priority long",
    )
    delays = spark.createDataFrame(
        [("a.example", 2000), ("a.example", 3000)], "host string, delay_millis long"
    )
    from coap_rfc_knowledge_graph_spark.operators.frontier import schedule_fetches

    rows = schedule_fetches(frontier, delays).collect()
    assert len(rows) == frontier.count()
    assert {r.url: (r.delay_millis, r.fetch_at_ms) for r in rows} == {
        "https://a.example/1": (3000, 0),
        "https://a.example/2": (3000, 3000),
    }


def test_zip_with_rank_per_key_equals_naive_window(spark):
    """Per-key dense rank without a per-key window: exactly the naive
    row_number()-1 per key, at several partitionings, with a 50%-skew
    head key."""
    from coap_rfc_knowledge_graph_spark.functions.ranking import zip_with_rank_per_key

    df = spark.range(2000).select(
        F.when(F.col("id") % 2 == 0, "head")
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 5 + 1).cast("string")))
        .alias("key"),
        ((F.col("id") * 48271) % 100000).alias("ent"),
    ).distinct()
    naive = df.withColumn(
        "idx",
        F.row_number().over(Window.partitionBy("key").orderBy("ent")).cast("long") - 1,
    )
    for parts in (1, 7, 32):
        got = zip_with_rank_per_key(df.repartition(parts), ["key"], ["ent"])
        assert _rows(got.select("key", "ent", "idx")) == _rows(
            naive.select("key", "ent", "idx")
        ), parts


def test_job_frontier_scheduled_with_robots(spark, tmp_path):
    """--frontier + --robots: the stage folds Crawl-delay in —
    fetch_at_ms spaces each host's fetches the declared delay apart."""
    import os
    import sys

    def page(i):
        html = "".join(
            f'<a href="https://c.example/new{j}">n</a>' for j in range(4)
        ).encode()
        return (f"https://s{i % 2}.example/p{i % 6}", html, f"Doc {i} MUST parse.", "en")

    src = str(tmp_path / "pages_src")
    spark.createDataFrame([page(i) for i in range(12)],
                          "url string, html binary, text string, lang string").write.parquet(src)
    robots = str(tmp_path / "robots_src")
    spark.createDataFrame(
        [("c.example", b"User-agent: *\nCrawl-delay: 2.5\n")],
        "host string, payload binary",
    ).write.parquet(robots)
    out = str(tmp_path / "state")

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
    import run_pipeline

    from coap_rfc_knowledge_graph_spark.plans.checkpointing import StageStore

    def schedule():
        got = sorted(StageStore(out).read(spark, "frontier").collect(), key=lambda r: r.fetch_at_ms)
        assert all(r.host == "c.example" for r in got)
        return [(r.fetch_at_ms, r.delay_millis) for r in got]

    old = sys.argv
    try:
        sys.argv = ["run_pipeline.py", "--pages", src, "--out", out,
                    "--frontier", "3", "--robots", robots]
        run_pipeline.main()
        assert schedule() == [(0, 2500), (2500, 2500), (5000, 2500)]
        # the robots table rewritten in place with a new Crawl-delay:
        # the frontier is recomputed with the new spacing
        spark.createDataFrame(
            [("c.example", b"User-agent: *\nCrawl-delay: 4\n")], "host string, payload binary"
        ).write.mode("overwrite").parquet(robots)
        run_pipeline.main()
        assert schedule() == [(0, 4000), (4000, 4000), (8000, 4000)]
    finally:
        sys.argv = old


def test_crawl_cycle_job(spark, tmp_path):
    """One job over a multi-host crawl with the whole crawl loop on
    (--robots --delta-against --link-graph --host-ranks --frontier
    --wet-out): the frontier holds only urls robots allows, each host's
    fetches are spaced by its parsed Crawl-delay, and the WET export
    round-trips to the curated pages' text."""
    import os
    import sys

    from coap_rfc_knowledge_graph_spark.operators.robots import (
        parse_crawl_delays,
        parse_robots,
        robots_filter,
    )
    from coap_rfc_knowledge_graph_spark.plans.checkpointing import StageStore
    from coap_rfc_knowledge_graph_spark.sources.warc import parse_warc

    def page(i):
        host = ("a", "b", "c")[i % 3]
        html = "".join(
            f'<a href="https://{h}.example/{d}/{i % 4}">l</a>'
            for h, d in (("c", "pub"), ("c", "private"), ("b", "docs"), ("d", "x"), ("a", "secret"))
        ).encode()
        text = f"The {host} server MUST answer request {i} within the retransmission window."
        return (f"https://{host}.example/p{i}", html, text, "en")

    rows = [page(i) for i in range(12)] + [
        ("https://a.example/secret/p", b"", "A disallowed page MUST NOT be processed.", "en"),
    ]
    src = str(tmp_path / "pages_src")
    spark.createDataFrame(rows, "url string, html binary, text string, lang string").write.parquet(src)
    robots = str(tmp_path / "robots")
    spark.createDataFrame(
        [
            ("a.example", b"User-agent: *\nDisallow: /secret\n"),
            ("b.example", b"User-agent: *\nCrawl-delay: 0.5\n"),
            ("c.example", b"User-agent: *\nDisallow: /private\nCrawl-delay: 2\n"),
        ],
        "host string, payload binary",
    ).write.parquet(robots)
    previous = str(tmp_path / "previous")  # p0 unchanged, p1 changed since the last crawl
    spark.createDataFrame(
        [(rows[0][0], rows[0][2]), (rows[1][0], "an older text")], "url string, text string"
    ).write.parquet(previous)
    out, wet = str(tmp_path / "state"), str(tmp_path / "wet")

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
    import run_pipeline

    old = sys.argv
    try:
        sys.argv = [
            "run_pipeline.py", "--pages", src, "--out", out, "--robots", robots,
            "--delta-against", previous, "--link-graph", "--host-ranks", "2",
            "--frontier", "3", "--wet-out", wet, "--url-partitions", "4",
        ]  # fmt: skip
        run_pipeline.main()
    finally:
        sys.argv = old
    store = StageStore(out)
    rules = parse_robots(spark.read.parquet(robots))

    # the link graph does point at disallowed urls; none reaches the frontier
    disallowed = robots_filter(store.read(spark, "link_graph"), rules, url_col="dst").filter(
        ~F.col("robots_allowed")
    )
    assert disallowed.count() > 0
    frontier = store.read(spark, "frontier")
    verdicts = robots_filter(frontier, rules).select("url", "robots_allowed").collect()
    assert verdicts and all(r.robots_allowed for r in verdicts)

    delays = {r.host: r.delay_millis for r in parse_crawl_delays(spark.read.parquet(robots)).collect()}
    assert delays == {"b.example": 500, "c.example": 2000}
    by_host = {}
    for r in frontier.collect():
        by_host.setdefault(r.host, []).append(r.fetch_at_ms)
    assert set(by_host) == {"b.example", "c.example", "d.example"}
    for host, times in by_host.items():
        step = delays.get(host, 1000)  # hosts without a Crawl-delay: the scheduler default
        assert sorted(times) == [n * step for n in range(len(times))], host

    curated = {r.url: r.text for r in store.read(spark, "curated_pages").collect()}
    assert rows[0][0] not in curated and rows[1][0] in curated  # the delta
    assert "https://a.example/secret/p" not in curated  # the robots gate
    got = []
    for name in os.listdir(wet):
        with open(os.path.join(wet, name), "rb") as fh:
            got.extend(parse_warc(fh.read(), record_types=("conversion",)))
    assert {u: p.decode() for u, _, p in got} == curated and len(got) == len(curated)
