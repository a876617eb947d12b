"""spark-submit entry point: crawl-to-KG construction with resumable stages.

    spark-submit --py-files dist/coap_rfc_knowledge_graph_spark.zip \\
        jobs/run_pipeline.py --pages <parquet path | WARC dir> --out <state root> \\
        [--from-warc] [pre-pass options, see --help] [--link-graph] \\
        [--host-ranks [ITERS]] [--frontier [K]] [--wet-out DIR] \\
        [--url-partitions N]

Reads the pages table, curates it (the pre-pass options compose into one
``curated_pages`` stage), materializes the requested crawl products
(``link_graph``, ``host_ranks``, ``frontier``) and runs extract -> rules
-> contradiction stages. Every stage is written through the
lineage-manifest StageStore (see plans/checkpointing.py) and keyed on its
identity: the options its build reads (``STAGES`` below) plus its inputs'
identities. A re-run into the same ``--out`` reuses a stage only while
that identity is unchanged.
"""

from __future__ import annotations

import argparse
import hashlib
import os
from typing import Callable, NamedTuple

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from coap_rfc_knowledge_graph_spark.operators.corpus_lm import prune_top_bigrams, train_bigram_lm
from coap_rfc_knowledge_graph_spark.operators.data_selection import coverage_buckets
from coap_rfc_knowledge_graph_spark.operators.dedup import (
    decontaminate,
    dedup_lines_in_doc,
    paragraph_dedup,
    split_paragraphs,
)
from coap_rfc_knowledge_graph_spark.operators.frontier import crawl_frontier, schedule_fetches
from coap_rfc_knowledge_graph_spark.operators.html_extract import (
    fill_text_from_html,
    html_head_meta,
    html_links,
)
from coap_rfc_knowledge_graph_spark.operators.normalize import normalize_corpus
from coap_rfc_knowledge_graph_spark.operators.pii import redact_pii
from coap_rfc_knowledge_graph_spark.operators.robots import (
    parse_crawl_delays,
    parse_robots,
    robots_filter,
)
from coap_rfc_knowledge_graph_spark.operators.substring_dedup import remove_duplicate_spans
from coap_rfc_knowledge_graph_spark.operators.text_stats import clean_corpus
from coap_rfc_knowledge_graph_spark.operators.webgraph import host_graph, pagerank_weighted
from coap_rfc_knowledge_graph_spark.operators.webtext import crawl_delta, curate_urls, latest_snapshot
from coap_rfc_knowledge_graph_spark.plans.checkpointing import STAGES as KG_STAGES
from coap_rfc_knowledge_graph_spark.plans.checkpointing import StageStore, run_resumable
from coap_rfc_knowledge_graph_spark.sources.warc import read_warc, write_wet


def _path(value: str) -> str:
    """argparse ``type`` of an option naming a file or table: a stage
    reading it is keyed on what it names (:func:`_table_digest`)."""
    return value


def _parser() -> tuple[argparse.ArgumentParser, tuple[str, ...]]:
    """The job's parser and the options of its 'curated_pages' group."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=_path, required=True, help="pages table parquet path")
    ap.add_argument("--out", required=True, help="stage-store root (checkpoints + outputs)")
    ap.add_argument("--url-partitions", type=int, default=None)
    ap.add_argument("--app-name", default="kg-construct")
    ap.add_argument(
        "--from-warc",
        action="store_true",
        help="treat --pages as a directory of WARC/WARC.GZ crawl files "
        "(Common-Crawl layout) instead of a parquet pages table; records "
        "are parsed into the pages schema at ingest (text/lang NULL)",
    )
    pre = ap.add_argument_group(
        "curated_pages",
        "pre-passes composed, in a fixed order, into the 'curated_pages' "
        "stage; every option here is part of that stage's identity",
    )
    pre.add_argument(
        "--html-extract",
        action="store_true",
        help="fill NULL text from the html column via the jusText-lite "
        "block gate (rows already carrying text pass through); runs "
        "before every text pre-pass",
    )
    pre.add_argument(
        "--normalize-unicode",
        nargs="?",
        const="NFC",
        default=None,
        metavar="FORM",
        choices=["NFC", "NFKC", "NFD", "NFKD"],
        help="strip C0/C1 controls, Unicode-normalize text (default "
        "NFC), and collapse whitespace BEFORE the dedup family — exact "
        "dedup, shingles and line hashes key on text bytes, so mixed "
        "compositions silently fragment them",
    )
    pre.add_argument(
        "--clean",
        action="store_true",
        help="run the C4/Gopher-style clean_corpus pre-pass (quality + "
        "repetition gates, exact-dedup keep-first by url) on the pages "
        "table before extraction",
    )
    pre.add_argument(
        "--url-curation",
        action="store_true",
        help="canonicalize URLs, drop blocklisted/over-cap domains, and "
        "collapse re-crawls to the latest snapshot before any text op "
        "(RefinedWeb/CCNet-style ingest pre-pass)",
    )
    pre.add_argument(
        "--domain-blocklist",
        type=_path,
        metavar="HOSTS_FILE",
        default=None,
        help="newline-delimited host blocklist for --url-curation",
    )
    pre.add_argument(
        "--head-cap-frac",
        type=float,
        default=None,
        help="with --url-curation: drop any domain holding more than "
        "this fraction of the (post-blocklist) corpus",
    )
    pre.add_argument(
        "--cap-by-registered-domain",
        action="store_true",
        help="with --head-cap-frac: apply the cap per registrable "
        "domain (public-suffix aware) instead of per host, so a "
        "site's subdomains cannot dodge it",
    )
    pre.add_argument(
        "--decontaminate",
        type=_path,
        metavar="EVAL_PARQUET",
        default=None,
        help="path to a held-out eval table (eval_id, text); training "
        "pages sharing a 13-token-gram with it are anti-joined away "
        "before extraction (GPT-3-style benchmark decontamination)",
    )
    pre.add_argument(
        "--pii-redact",
        action="store_true",
        help="mask emails/IPv4s/phones in the text column before "
        "extraction (Dolma/RefinedWeb-style PII scrub; zero-shuffle "
        "regexp projections)",
    )
    pre.add_argument(
        "--line-dedup",
        action="store_true",
        help="drop repeated lines WITHIN each page (RefinedWeb-style "
        "per-page boilerplate removal: nav rows, footers, list spam), "
        "keeping each page's first occurrence; independent of "
        "--paragraph-dedup, which dedups across the whole corpus",
    )
    ap.add_argument(
        "--link-graph",
        action="store_true",
        help="also materialize the hyperlink graph (src, dst, anchor) "
        "extracted from the RAW ingested pages' html as a 'link_graph' "
        "stage (resumable like every other stage)",
    )
    pre.add_argument(
        "--robots",
        type=_path,
        metavar="ROBOTS_PARQUET",
        default=None,
        help="RFC 9309 compliance gate: drop pages disallowed by this "
        "(host, payload) robots.txt table BEFORE any other pre-pass "
        "(a pipeline must not process content it may not fetch); "
        "longest-prefix-match, Allow wins ties, hosts with no rules "
        "are allowed",
    )
    pre.add_argument(
        "--canonical-collapse",
        action="store_true",
        help="collapse pages onto their rel=canonical target: group by "
        "coalesce(canonical_url, url) keeping the max-(warc_ts, url) "
        "row — removes syndicated / tracking-parameter duplicates "
        "BEFORE any content hashing; runs right after the robots gate",
    )
    pre.add_argument(
        "--delta-against",
        type=_path,
        metavar="OLD_SNAPSHOT",
        default=None,
        help="incremental re-crawl: keep only pages whose content "
        "fingerprint is new or changed relative to this previous "
        "(url, text) snapshot, so the run costs O(delta) not "
        "O(corpus); removed urls are reported, not processed",
    )
    ap.add_argument(
        "--host-ranks",
        type=int,
        nargs="?",
        const=4,
        default=None,
        metavar="ITERS",
        help="also materialize host-level domain ranks: aggregate the "
        "hyperlink graph to the weighted host graph and run weighted "
        "fixed-point PageRank for ITERS iterations (default 4) as a "
        "'host_ranks' stage (the Common-Crawl host-webgraph product); "
        "implies --link-graph",
    )
    ap.add_argument(
        "--wet-out",
        metavar="DIR",
        default=None,
        help="also export the (curated) pages' text as Common-Crawl-"
        "style WET files (WARC conversion records, one gzip member per "
        "record, one segment file per task) into DIR — the archive-"
        "format product downstream text consumers already read",
    )
    ap.add_argument(
        "--frontier",
        type=int,
        nargs="?",
        const=100,
        default=None,
        metavar="K",
        help="also materialize the next-crawl frontier as a 'frontier' "
        "stage: top-K (default 100) not-yet-crawled outlink urls per "
        "host, scored host_rank*1000 + inlinks*10 - depth with exact "
        "BIGINT arithmetic (host ranks come from the --host-ranks "
        "stage when enabled, else 0); implies --link-graph. With "
        "--robots, urls it disallows are left out and each host's "
        "fetches are spaced by its Crawl-delay (fetch_at_ms)",
    )
    pre.add_argument(
        "--substring-dedup",
        type=int,
        nargs="?",
        const=50,
        default=None,
        metavar="MIN_SPAN",
        help="excise corpus-duplicated token runs of at least MIN_SPAN "
        "tokens (default 50, Lee et al.'s threshold) via content-"
        "defined chunking; runs after the page-level dedups, before "
        "--clean",
    )
    pre.add_argument(
        "--lm-select-permille",
        type=int,
        default=None,
        metavar="P",
        help="CCNet-style selection: keep only the P permille of pages "
        "whose bigram LM coverage ranks highest (the low-perplexity "
        "head). Runs LAST among the pre-passes, over the already "
        "cleaned/deduped text. Pages with fewer than two tokens are "
        "unscoreable and dropped.",
    )
    pre.add_argument(
        "--lm-reference",
        type=_path,
        metavar="REF_PARQUET",
        default=None,
        help="with --lm-select-permille: train the LM on this trusted "
        "reference table (url, text) instead of the page corpus itself",
    )
    pre.add_argument(
        "--paragraph-dedup",
        action="store_true",
        help="drop every paragraph except its global first occurrence "
        "(Dolma-style boilerplate removal; paragraphs = blank-line "
        "blocks, falling back to 64-word windows for unmarked text), "
        "rewriting each page's text to the surviving paragraphs",
    )
    return ap, tuple(a.dest for a in pre._group_actions)


PARSER, CURATE_OPTIONS = _parser()
PATH_OPTIONS = {a.dest for a in PARSER._actions if a.type is _path}
SOURCE_OPTIONS = ("pages", "from_warc")  # the identity of the raw input


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """Parse and validate the job's options (``sys.argv`` by default)."""
    args = PARSER.parse_args(argv)
    if not args.url_curation and (
        args.domain_blocklist or args.head_cap_frac is not None or args.cap_by_registered_domain
    ):
        PARSER.error(
            "--domain-blocklist/--head-cap-frac/--cap-by-registered-domain "
            "require --url-curation (they would otherwise be silently ignored)"
        )
    if args.lm_select_permille is not None and not 0 < args.lm_select_permille <= 1000:
        PARSER.error("--lm-select-permille must be in (0, 1000]")
    if args.substring_dedup is not None and args.substring_dedup < 1:
        # min_span 0 would excise every duplicated 1-token chunk of a
        # common anchored word — shredding ordinary text corpus-wide
        PARSER.error("--substring-dedup MIN_SPAN must be >= 1")
    if args.lm_reference and args.lm_select_permille is None:
        PARSER.error("--lm-reference requires --lm-select-permille")
    if args.host_ranks is not None and args.host_ranks < 1:
        PARSER.error("--host-ranks ITERS must be >= 1")
    if args.frontier is not None and args.frontier < 1:
        PARSER.error("--frontier K must be >= 1")
    return args


def _table_digest(path: str | None) -> str | None:
    """Content key of a file or table directory: a table rewritten IN
    PLACE must recompute the stages that read it, not silently reuse
    them. Hashing the data files' (name, size, mtime_ns) is cheap at any
    table size and changes on any rewrite."""
    if not path:
        return None
    if not os.path.exists(path):  # a remote URI: keyed by its name alone
        return path
    files = [path] if os.path.isfile(path) else [
        os.path.join(root, f) for root, _, names in os.walk(path) for f in names
    ]
    entries = []
    for f in files:
        st = os.stat(f)
        entries.append(f"{os.path.relpath(f, path)}\x1f{st.st_size}\x1f{st.st_mtime_ns}")
    return hashlib.sha256("\x1e".join(sorted(entries)).encode()).hexdigest()


def _identity(args: argparse.Namespace, options: tuple[str, ...]) -> dict:
    """``options``' values as parsed, a path-valued one as the digest of
    what it names: the option half of a stage's identity."""
    values = vars(args)
    return {d: _table_digest(values[d]) if d in PATH_OPTIONS else values[d] for d in options}


# --- curated_pages: the pre-pass steps ----------------------------------------


def _robots_allowed(spark, df, robots: str, url_col: str = "url"):
    """The rows of ``df`` whose ``url_col`` the robots table allows."""
    rules = parse_robots(spark.read.parquet(robots))
    return (
        robots_filter(df, rules, url_col=url_col)
        .filter(F.col("robots_allowed"))
        .drop("robots_allowed")
    )


def _canonical_collapse(spark, args, pages):
    # one row per canonical target: syndicated / tracking-parameter
    # variants collapse BEFORE any content hashing, via the same
    # packed-struct max aggregate as re-crawl collapse (no window)
    original_cols = list(pages.columns)
    canon = html_head_meta(pages).select("url", "canonical_url")
    keyed = (
        pages.join(canon, "url", "left")
        .withColumn("__ckey", F.coalesce("canonical_url", "url"))
        .drop("canonical_url")
    )
    order = tuple(c for c in ("warc_ts",) if c in original_cols) + ("url",)
    payload = tuple(c for c in original_cols if c not in order)
    return latest_snapshot(
        keyed, key_col="__ckey", order_cols=order, payload_cols=payload
    ).select(*original_cols)


def _delta_against(spark, args, pages):
    # O(delta) re-crawl: only new/changed content re-enters the
    # pipeline (fingerprint = md5 of the text bytes; the old
    # snapshot needs (url, text))
    fp = lambda df: df.select(  # noqa: E731
        "url", F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("fingerprint")
    )
    keep = (
        crawl_delta(fp(spark.read.parquet(args.delta_against)), fp(pages))
        .filter(F.col("status").isin("added", "changed"))
        .select("url")
    )
    return pages.join(keep, "url")


def _url_curation(spark, args, pages):
    blocklist: tuple[str, ...] = ()
    if args.domain_blocklist:
        with open(args.domain_blocklist, encoding="utf-8") as fh:
            # normalized like the parsed host column (lowercase, no
            # trailing dot) — a mixed-case file entry would
            # otherwise silently block nothing
            blocklist = tuple(ln.strip().lower().rstrip(".") for ln in fh if ln.strip())
    return curate_urls(
        pages,
        blocklist=blocklist,
        head_cap_frac=args.head_cap_frac,
        cap_by_registered_domain=args.cap_by_registered_domain,
    )


def _pii_redact(spark, args, pages):
    masked = redact_pii(pages).drop("text", "n_emails", "n_ips", "n_phones")
    return masked.withColumnRenamed("redacted", "text")


def _dedup_paragraphs(pages, dedup):
    """Rewrite each page's text to the paragraphs ``dedup`` keeps."""
    # blank-line blocks when the corpus has them; 64-word windows
    # otherwise (one cheap existence probe per pass — the line pass
    # rejoins survivors with spaces, so the paragraph pass must
    # re-probe rather than trust the pre-line-dedup answer)
    has_marks = pages.filter(F.col("text").contains("\n\n")).limit(1).count() > 0
    paragraphs = split_paragraphs(
        pages, id_col="url", sep=r"\n{2,}" if has_marks else None, words=64
    )
    kept = dedup(paragraphs, id_col="url")
    return pages.drop("text").join(kept.select("url", F.col("text_kept").alias("text")), "url")


def _substring_dedup(spark, args, pages):
    # one checkpoint serves all three consumers (span derivation,
    # rewrite join inside the operator, and the join-back here) —
    # upstream prepasses must not re-evaluate
    pages = pages.localCheckpoint(eager=False)
    kept = remove_duplicate_spans(pages, min_span=args.substring_dedup, id_col="url")
    return pages.drop("text").join(
        kept.select(F.col("doc_id").alias("url"), F.col("text_kept").alias("text")), "url"
    )


def _decontaminate(spark, args, pages):
    ev = spark.read.parquet(args.decontaminate)
    flagged = decontaminate(pages, ev, id_col="url").select(F.col("doc_id").alias("url"))
    return pages.join(flagged, on="url", how="left_anti")


def _lm_select(spark, args, pages):
    # checkpoint first: LM training (when self-referenced), scoring,
    # and the final semi join all consume `pages` — without this the
    # whole upstream pre-pass lineage (PII regexes, paragraph dedup,
    # clean gates, decontamination) would re-evaluate three times
    pages = pages.localCheckpoint(eager=False)
    # production shape: top-1M vocabulary cut + broadcast LM, so the
    # scoring pass never shuffles the page corpus
    ref = spark.read.parquet(args.lm_reference) if args.lm_reference else pages
    lm = prune_top_bigrams(train_bigram_lm(ref, id_col="url"), 1_000_000)
    buckets = coverage_buckets(pages, lm, n_buckets=1000, id_col="url", broadcast_lm=True)
    keep = buckets.filter(F.col("bucket") < args.lm_select_permille).select("url")
    return pages.join(keep, on="url", how="left_semi")


# run order: robots first, lm-select last; a step runs when its option is set
PREPASSES = (
    # compliance FIRST: nothing downstream may see disallowed pages
    ("robots", lambda spark, a, p: _robots_allowed(spark, p, a.robots)),
    ("canonical_collapse", _canonical_collapse),
    ("delta_against", _delta_against),
    ("url_curation", _url_curation),
    ("html_extract", lambda spark, a, p: fill_text_from_html(p)),
    ("normalize_unicode", lambda spark, a, p: normalize_corpus(p, form=a.normalize_unicode)),
    ("pii_redact", _pii_redact),
    ("line_dedup", lambda spark, a, p: _dedup_paragraphs(p, dedup_lines_in_doc)),
    ("paragraph_dedup", lambda spark, a, p: _dedup_paragraphs(p, paragraph_dedup)),
    ("substring_dedup", _substring_dedup),
    ("clean", lambda spark, a, p: clean_corpus(p, id_col="url").drop("quality_score")),
    ("decontaminate", _decontaminate),
    ("lm_select_permille", _lm_select),
)


def _apply_prepasses(spark, args, pages):
    """``pages`` through every pre-pass step ``args`` turns on."""
    for dest, step in PREPASSES:
        if vars(args)[dest]:
            pages = step(spark, args, pages)
    return pages


# --- the crawl products -------------------------------------------------------


def _host_ranks(spark, args, link_graph):
    return pagerank_weighted(
        host_graph(link_graph), iterations=args.host_ranks, src_col="src_host", dst_col="dst_host"
    ).withColumnRenamed("node", "host")


def _frontier(spark, args, link_graph, pages, host_ranks):
    if args.robots:  # never schedule a url the robots table disallows
        link_graph = _robots_allowed(spark, link_graph, args.robots, url_col="dst")
    frontier = crawl_frontier(link_graph, pages.select("url"), host_ranks, k=args.frontier)
    if args.robots:
        # politeness scheduling from the same robots table the compliance
        # gate reads: fetch_at_ms spaces each host's fetches Crawl-delay
        # apart in priority order
        frontier = schedule_fetches(frontier, parse_crawl_delays(spark.read.parquet(args.robots)))
    return frontier


class Stage(NamedTuple):
    """One stage the job can write. Its identity is the values of
    ``options`` plus the identities of ``inputs``, and ``build`` sees
    only ``options``, so it cannot read an option its identity lacks."""

    name: str
    options: tuple[str, ...]
    inputs: tuple[str, ...]  # upstream stages in build order; "pages" = the raw input
    wanted: Callable[[argparse.Namespace], bool]
    build: Callable  # build(spark, options, *input frames); an input not wanted is None


# in run order; the KG stages after them are plans.checkpointing.STAGES
STAGES = (
    Stage(
        "curated_pages", CURATE_OPTIONS, ("pages",),
        lambda a: any(vars(a)[d] for d, _ in PREPASSES), _apply_prepasses,
    ),
    Stage(
        # from the RAW ingested pages: curation may rewrite text, but the
        # link graph is a property of the crawl itself
        "link_graph", (), ("pages",),
        lambda a: a.link_graph or a.host_ranks is not None or a.frontier is not None,
        lambda spark, a, pages: html_links(pages),
    ),
    Stage("host_ranks", ("host_ranks",), ("link_graph",), lambda a: a.host_ranks is not None, _host_ranks),
    Stage(
        "frontier", ("frontier", "robots"), ("link_graph", "pages", "host_ranks"),
        lambda a: a.frontier is not None, _frontier,
    ),
)  # fmt: skip


def main() -> None:
    args = parse_args()

    # under spark-submit there is no session yet and we own the one we
    # create; when embedded (tests, notebooks) getOrCreate returns the
    # caller's session, which is not ours to stop
    owns_session = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName(args.app_name).getOrCreate()
    if args.from_warc:
        frames = {"pages": read_warc(spark, args.pages)}
    else:
        frames = {"pages": spark.read.parquet(args.pages)}
    ids = {"pages": _identity(args, SOURCE_OPTIONS)}
    store = StageStore(args.out)
    wanted = [s for s in STAGES if s.wanted(args)]
    for s in wanted:
        own = argparse.Namespace(**{d: vars(args)[d] for d in s.options})
        frames[s.name] = store.materialize(
            spark,
            s.name,
            lambda: s.build(spark, own, *(frames.get(i) for i in s.inputs)),
            inputs={i: ids[i] for i in s.inputs if i in ids},
            params=_identity(args, s.options),
        )
        ids[s.name] = store.table_hash(s.name)
    kg_input = "curated_pages" if "curated_pages" in frames else "pages"
    if args.wet_out:
        wet_pages = frames[kg_input]
        if "warc_ts" not in wet_pages.columns:
            wet_pages = wet_pages.withColumn("warc_ts", F.lit(None).cast("timestamp"))
        manifest = write_wet(wet_pages, args.wet_out).collect()
        n_rec = sum(r.n_records for r in manifest)
        n_files = sum(1 for r in manifest if r.path)
        print(f"wet_out: files={n_files} records={n_rec} dir={args.wet_out}")
    run_resumable(
        spark, frames[kg_input], args.out, url_partitions=args.url_partitions, pages_id=ids[kg_input]
    )
    for stage in [s.name for s in wanted] + KG_STAGES:
        m = store.manifest(stage)
        print(f"{stage}: rows={m['row_count']} hash={m['table_hash']}")
    if owns_session:
        spark.stop()


if __name__ == "__main__":
    main()
