"""Benchmark harness. Prints ONE JSON line:

  {"metric": "kg_construct_e2e", "value": <flagship sec>, "unit": "sec",
   "queries": {...per-query sec + docs_per_sec...}, "sf": <sf>}

Env:
  SPARK_GRAFT_SF_DIR     input dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS       local[] parallelism (default 32)
  SPARK_GRAFT_DOCS_MULT  flagship corpus replication factor (default 1).
                         Set it >1 so compute dominates fixed job
                         overhead (at sf0.1 the flagship is mostly
                         overhead).

The flagship metric is the end-to-end KG extraction (pages -> sentences
-> mentions -> pairs -> triples) over the documents-as-pages corpus;
docs_per_sec is the north-rule throughput number. Additional timed
queries cover canonicalization, dedup families, ANN and the native text
stage. ``perfbench/run.py`` is the repository benchmark: per-workload
end-to-end and per-layer metrics over repeated, output-checked runs.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from pyspark.sql import functions as F

    from coap_rfc_knowledge_graph_spark.operators.dedup import (
        dedup_exact,
        minhash_lsh_pairs,
        simhash_near_duplicates,
    )
    from coap_rfc_knowledge_graph_spark.operators.linking import canonical_entities
    from coap_rfc_knowledge_graph_spark.operators.similarity import cosine_topk_matmul
    from coap_rfc_knowledge_graph_spark.operators.text_stats import quality_features
    from coap_rfc_knowledge_graph_spark.plans.pipeline import extract_stage
    from coap_rfc_knowledge_graph_spark.session import build_session
    from coap_rfc_knowledge_graph_spark.sources.pages import pages_from_documents

    spark = build_session(app_name="kg-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # steady-state numbers: pre-fork + pre-fault the Python worker pool
    # (a long-lived cluster is always in this state; this host makes
    # first-touch page faults in fresh workers pathologically slow)
    from coap_rfc_knowledge_graph_spark.session import warm_python_workers

    warm_python_workers(spark, cpus)

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n_docs = docs.count()
    timings: dict[str, float] = {}
    spread: dict[str, dict] = {}

    def timed(name: str, fn, repeat: int = 1):
        """min-of-N wall time: this host's page-fault/scheduling noise
        swings identical runs 2-3x; the minimum is the code's cost. ALL
        samples are recorded in the top-level "spread" object (n / min /
        med / max) so every reported number carries its repeat count and
        noise interval — round-over-round comparisons need the interval,
        not an unreproducible best case (VERDICT r2 'bench hygiene')."""
        samples = []
        out = None
        for _ in range(repeat):
            t0 = time.perf_counter()
            out = fn()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        timings[name] = round(samples[0], 3)
        spread[name] = {
            "n": len(samples),
            "min": round(samples[0], 3),
            "med": round(samples[len(samples) // 2], 3),
            "max": round(samples[-1], 3),
        }
        return out

    # flagship: end-to-end triple extraction
    pages = pages_from_documents(spark, sf_dir)
    mult = int(os.environ.get("SPARK_GRAFT_DOCS_MULT", "1"))
    if mult > 1:
        # distribute the (single-file) base rows BEFORE the fan-out:
        # otherwise one task generates + shuffle-writes the whole
        # replicated corpus — a serial section that caps scaling
        pages = pages.repartition(4 * cpus)
        pages = pages.select(
            "*", F.explode(F.array(*[F.lit(i) for i in range(mult)])).alias("__rep")
        ).withColumn("url", F.concat_ws("/", "url", F.col("__rep"))).drop("__rep")
        n_docs = n_docs * mult
    res_holder = {}

    # fixed partition count at EVERY parallelism level: the scaling
    # comparison must run the identical job; 128 url-hash partitions are
    # fine-grained enough that both local[8] and local[32] stay balanced
    url_partitions = int(os.environ.get("SPARK_GRAFT_URL_PARTITIONS", "128"))

    def run_extract():
        # every sample recomputes from scratch: pipeline-internal
        # persists from the previous sample would otherwise turn later
        # repeats into cache hits and make min-of-N unreproducible
        spark.catalog.clearCache()
        res = extract_stage(pages, url_partitions=url_partitions)
        n = res.triples.count()
        res_holder["res"] = res
        return n

    n_triples = timed("kg_triples_cold", run_extract)
    # warm re-runs (fresh lineage, caches dropped per sample): the
    # steady-state number — excludes one-off Python-worker/JVM warmup
    timed("kg_triples", run_extract, repeat=2)
    flagship = min(timings["kg_triples"], timings["kg_triples_cold"])
    timings["kg_triples"] = flagship

    if os.environ.get("SPARK_GRAFT_FLAGSHIP_ONLY", "0") != "1":
        # flagship-only mode (set by the scaling harness): scaling
        # efficiency is a flagship metric; the secondary queries only
        # stretch each measured run.
        # fresh canonicalization plan per repetition (the KGResult
        # property memoizes the DataFrame, whose internal dictionary
        # persist would turn the second run into a cache-hit no-op)
        from coap_rfc_knowledge_graph_spark.operators.linking import canonical_entities

        # materialize the mention table ONCE so every repetition times
        # canonicalization from the same cached input (the last flagship
        # sample cleared the cache, so without this the first repeat
        # would re-run the whole mention UDF chain and the min would
        # compare unlike work)
        mentions = res_holder["res"].mentions
        mentions.count()
        timed("kg_entities", lambda: canonical_entities(mentions).count(), repeat=2)
        timed("dedup_exact", lambda: dedup_exact(docs).count(), repeat=2)
        timed("dedup_minhash_lsh", lambda: minhash_lsh_pairs(docs, threshold=0.5, num_hashes=32, bands=8).count(), repeat=2)
        timed("dedup_simhash", lambda: simhash_near_duplicates(docs, max_hamming=3).count(), repeat=2)
        queries = emb.filter(F.col("vec_id") < 32).select(F.col("vec_id").alias("query_id"), "embedding")
        timed("ann_topk_matmul", lambda: cosine_topk_matmul(emb, queries, k=10).count(), repeat=2)
        timed("text_quality", lambda: quality_features(docs).agg(F.avg("quality_score")).collect(), repeat=2)
        timed(
            "modal_context",
            lambda: docs.filter(F.col("text").rlike(r"(?i)\b(must|stream|window)\b")).count(),
        )
        from coap_rfc_knowledge_graph_spark.operators.pretrain import nsp_pairs, pack_sequences
        from coap_rfc_knowledge_graph_spark.operators.similarity import quantize_embeddings
        from coap_rfc_knowledge_graph_spark.operators.text_stats import (
            clean_corpus,
            repetition_features,
        )

        # projection-only queries: aggregate a COMPUTED column — a bare
        # count() lets Catalyst prune the whole projection and times
        # nothing
        timed("nsp_pairs", lambda: nsp_pairs(docs).count(), repeat=2)
        timed(
            "repetition_stats",
            lambda: repetition_features(docs).agg(F.avg("top_word_frac")).collect(),
            repeat=2,
        )
        timed("clean_corpus", lambda: clean_corpus(docs).count(), repeat=2)
        timed("pack_sequences", lambda: pack_sequences(docs).count(), repeat=2)
        timed(
            "quantize_embeddings",
            lambda: quantize_embeddings(emb).agg(F.avg("scale")).collect(),
            repeat=2,
        )

        # composed URL-curation ingest pre-pass over the weburl contract
        # corpus (re-crawls + a 50% head domain, so the snapshot collapse
        # and the head cap both do real work)
        import __spark_entry__ as entrymod

        from coap_rfc_knowledge_graph_spark.operators.webtext import curate_urls

        wpages = (
            entrymod._synth_weburl(docs)
            .withColumn(
                "warc_ts", F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id"))
            )
            .withColumn("html", F.lit(None).cast("binary"))
            .select("url", "warc_ts", "html", "text", "lang")
        )
        timed(
            "url_curation",
            lambda: curate_urls(
                wpages, blocklist=("src0.example.org",), head_cap_frac=0.25
            ).count(),
            repeat=2,
        )

        # round-5 tail: frontier + sitemap at contract scale (data-bound
        # evidence lives in BENCH/FRONTIER_SCALE.json / SCALING_FRONTIER*)
        from coap_rfc_knowledge_graph_spark.operators.frontier import crawl_frontier
        from coap_rfc_knowledge_graph_spark.operators.sitemap import parse_sitemaps

        fr_edges = docs.select(
            F.concat(F.lit("https://s"), (F.col("doc_id") % 7).cast("string"),
                     F.lit(".example/p")).alias("src"),
            F.concat(
                F.lit("https://t"), (F.col("doc_id") % 97).cast("string"),
                F.lit(".example/f"), (F.col("doc_id") % 500).cast("string"),
            ).alias("dst"),
        )
        timed(
            "crawl_frontier",
            lambda: crawl_frontier(fr_edges, wpages.select("url"), None, k=10).count(),
            repeat=2,
        )
        sm = docs.select(
            F.concat(F.lit("h"), (F.col("doc_id") % 97).cast("string"), F.lit(".example")).alias("host"),
            F.concat(
                F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
                      "<url><loc>https://x.example/p"),
                F.col("doc_id").cast("string"),
                F.lit("</loc><priority>0.5</priority></url><url><loc>https://x.example/q"),
                F.col("doc_id").cast("string"),
                F.lit("</loc></url></urlset>"),
            ).alias("payload"),
        )
        timed(
            "sitemap_parse",
            lambda: parse_sitemaps(sm).agg(F.sum("priority_millis")).collect(),
            repeat=2,
        )

        # round-4 additions: graph analytics + curation scoring ops
        from coap_rfc_knowledge_graph_spark.operators.corpus_lm import (
            lm_coverage,
            prune_top_bigrams,
            train_bigram_lm,
        )
        from coap_rfc_knowledge_graph_spark.operators.dedup import (
            paragraph_dedup,
            split_paragraphs,
        )
        from coap_rfc_knowledge_graph_spark.operators.retrieval import lexical_topk
        from coap_rfc_knowledge_graph_spark.operators.webgraph import pagerank_fixedpoint

        edges = entrymod._synth_edges(docs)
        timed("graph_pagerank", lambda: pagerank_fixedpoint(edges, iterations=3).count(), repeat=2)

        # data-bound webgraph evidence (the 211-node graph above measures
        # per-job overhead only): a seeded power-law edge table at two
        # sizes 10x apart — the ratio separates data cost from constants
        from coap_rfc_knowledge_graph_spark.operators.webgraph import (
            hits_fixedpoint,
            synthetic_web_edges,
            two_hop_counts,
        )

        graph_edges = int(os.environ.get("SPARK_GRAFT_GRAPH_EDGES", "3000000"))
        for label, ne in (("small", graph_edges // 10), ("big", graph_edges)):
            wedges = synthetic_web_edges(spark, ne).localCheckpoint(eager=True)
            timings[f"webgraph_{label}_n_edges"] = ne
            timed(
                f"webgraph_pagerank_{label}",
                lambda w=wedges: pagerank_fixedpoint(w, iterations=3).count(),
                repeat=2,
            )
            timed(
                f"webgraph_hits_{label}",
                lambda w=wedges: hits_fixedpoint(w, iterations=2).count(),
                repeat=2,
            )
            timed(
                f"webgraph_twohop_{label}",
                lambda w=wedges: two_hop_counts(w).agg(F.sum("n_two_hop")).collect(),
                repeat=2,
            )
        timed(
            "lm_coverage",
            lambda: lm_coverage(
                docs, train_bigram_lm(docs.filter(F.col("doc_id") % 10 < 8))
            ).agg(F.avg("sum_match_count")).collect(),
            repeat=2,
        )
        # the 100-TB plan: top-M vocabulary cut (two-level, no global
        # sort) + broadcast LM — scoring pass has NO corpus-side shuffle
        timed(
            "lm_coverage_bounded",
            lambda: lm_coverage(
                docs,
                prune_top_bigrams(
                    train_bigram_lm(docs.filter(F.col("doc_id") % 10 < 8)), 50_000
                ),
                broadcast_lm=True,
            ).agg(F.avg("sum_match_count")).collect(),
            repeat=2,
        )
        timed(
            "paragraph_dedup",
            lambda: paragraph_dedup(split_paragraphs(docs, words=16))
            .agg(F.sum("n_kept")).collect(),
            repeat=2,
        )
        # DSIR selection: one corpus explode, two LM joins, one re-agg;
        # bucketing adds the distributed two-stage rank on top
        from coap_rfc_knowledge_graph_spark.operators.data_selection import (
            coverage_buckets,
            dsir_evidence,
        )

        timed(
            "dsir_evidence",
            lambda: dsir_evidence(
                docs,
                train_bigram_lm(docs.filter(F.col("doc_id") % 10 < 2)),
                train_bigram_lm(docs),
            ).agg(F.avg("sum_target_cnt")).collect(),
            repeat=2,
        )
        timed(
            "coverage_buckets",
            lambda: coverage_buckets(
                docs, train_bigram_lm(docs.filter(F.col("doc_id") % 10 < 8)), 10
            ).agg(F.max("bucket")).collect(),
            repeat=2,
        )
        rqueries = docs.filter(F.col("doc_id") % 500 == 7).select(
            F.col("doc_id").alias("query_id"), "text"
        )
        timed(
            "lexical_topk",
            lambda: lexical_topk(docs, rqueries, k=3).count(),
            repeat=2,
        )
        from coap_rfc_knowledge_graph_spark.operators.clustering import semantic_dedup

        timed(
            "semantic_dedup",
            lambda: semantic_dedup(
                emb, k=8, iterations=2, sim_threshold_micro=400_000
            ).filter(~F.col("keep")).count(),
            repeat=2,
        )

        # round-4 ingest edge: boilerplate extraction from html bytes,
        # the unicode pass, and KG-embedding negative sampling.
        # Aggregate COMPUTED columns (not bare count) so nothing prunes.
        from coap_rfc_knowledge_graph_spark.operators.html_extract import (
            main_content,
            synthetic_html_pages,
        )
        from coap_rfc_knowledge_graph_spark.operators.kg_embed import negative_samples
        from coap_rfc_knowledge_graph_spark.operators.normalize import normalize_corpus

        hpages = synthetic_html_pages(docs)
        timed(
            "html_main_content",
            lambda: main_content(hpages).agg(F.sum("n_blocks_kept")).collect(),
            repeat=2,
        )
        timed(
            "unicode_normalize",
            lambda: normalize_corpus(docs).agg(F.sum(F.length("text"))).collect(),
            repeat=2,
        )
        timed(
            "kg_negative_samples",
            lambda: negative_samples(entrymod._synth_triples(docs), k=2)
            .agg(F.sum("neg_subj_id")).collect(),
            repeat=2,
        )
        # exact-substring dedup: the corpus + an offset-shifted copy,
        # so the CDC detector does full real work (every doc duplicated)
        from coap_rfc_knowledge_graph_spark.operators.substring_dedup import (
            remove_duplicate_spans,
        )

        sub_corpus = docs.select("doc_id", "text").unionByName(
            docs.select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"),
                F.concat(F.lit("off0 off1 off2 "), F.col("text")).alias("text"),
            )
        )
        timed(
            "substring_dedup",
            lambda: remove_duplicate_spans(sub_corpus, p=16, min_span=50)
            .agg(F.sum("n_removed")).collect(),
            repeat=2,
        )

    queries_out = dict(timings)
    queries_out["docs_per_sec"] = round(n_docs / flagship, 2) if flagship else 0.0
    queries_out["n_docs"] = n_docs
    queries_out["n_triples"] = n_triples
    print(
        json.dumps(
            {
                "metric": "kg_construct_e2e",
                "value": flagship,
                "unit": "sec",
                "queries": queries_out,
                "spread": spread,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
