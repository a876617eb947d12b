"""The benchmark's workloads: inputs, one iteration, its output digest and,
for the traced run, the same iteration split into labelled layer spans.

Why each workload exists, and the probe numbers behind its size, are in
``README.md`` next to this file.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def content_hash(df) -> int:
    """Order-insensitive multiset hash, the one ``StageStore`` writes into
    every manifest: ``sum(xxhash64(row))`` over string-cast columns."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c).cast("string") for c in df.columns]).cast("decimal(38,0)")
    return int(df.select(F.coalesce(F.sum(h), F.lit(0))).first()[0])


def pair_counts(mentions, n_triples: int) -> dict[str, float]:
    """Candidate pairs the relation layer scores (every unordered pair of
    mentions in a sentence) and the share of them that became triples."""
    from pyspark.sql import functions as F

    n = F.size("mentions")
    pairs = mentions.select(F.sum(F.when(n >= 2, n * (n - 1) / 2).otherwise(0))).first()[0] or 0
    return {
        "operators.relations.candidate_pairs": pairs,
        "operators.relations.pair_yield": n_triples / pairs if pairs else 0.0,
    }


class FlagshipDocs:
    """``extract_stage`` over the 5,000 sf0.1 documents, counting triples."""

    name = "flagship_docs"
    layers = ("operators.sentences", "operators.mentions", "operators.relations")
    min_iterations = 2  # wall_s is never the cold iteration

    def __init__(self, nproc: int, work: str):
        # per-task Python start-up dominates at this partition count; see
        # README.md for why it is not the historical 128
        self.url_partitions = 2 * nproc
        self._hash = None

    def prepare(self, spark, seed: int):
        from coap_rfc_knowledge_graph_spark.sources.pages import pages_from_documents

        # a fixed corpus: the seed does not change it
        pages = pages_from_documents(spark, os.path.join(HERE, "data"))
        self.n_input = pages.count()
        return pages

    def run(self, spark, pages):
        from coap_rfc_knowledge_graph_spark.plans.pipeline import extract_stage

        res = extract_stage(pages, url_partitions=self.url_partitions)
        return res.triples, res.triples.count()

    def run_traced(self, spark, pages, tracer):
        from coap_rfc_knowledge_graph_spark.operators.mentions import extract_mentions
        from coap_rfc_knowledge_graph_spark.operators.relations import extract_triples_from_arrays
        from coap_rfc_knowledge_graph_spark.operators.sentences import extract_sentences

        # the same persists extract_stage makes, materialized one layer at a time
        with tracer.span("operators.sentences"):
            sentences = extract_sentences(pages, url_partitions=self.url_partitions).persist()
            sentences.count()
        with tracer.span("operators.mentions"):
            mentions = extract_mentions(sentences, explode=False).persist()
            mentions.count()
        with tracer.span("operators.relations"):
            triples = extract_triples_from_arrays(mentions)
            rows = triples.count()
        self._traced = (sentences, mentions, triples)
        return triples, rows

    def digest(self, out) -> dict:
        """Every iteration's triple count; the content hash, which recomputes
        the relation layer, once per run on the first iteration."""
        triples, rows = out
        if self._hash is None:
            self._hash = content_hash(triples)
        return {"triples": [rows, self._hash]}

    def layer_counts(self, spark) -> dict[str, float]:
        """Rows out per layer and the pair counts, of the traced iteration."""
        sentences, mentions, triples = self._traced
        n_triples = triples.count()
        return {
            "operators.sentences.rows_out": sentences.count(),
            "operators.mentions.rows_out": mentions.count(),
            "operators.relations.rows_out": n_triples,
            **pair_counts(mentions, n_triples),
        }


# StageStore stage -> the layer whose code builds it
CRAWL_STAGES = {
    "curated_pages": "jobs.run_pipeline",
    "sentences": "operators.sentences",
    "mentions": "operators.mentions",
    "triples": "operators.relations",
    "entities": "operators.linking",
    "rules": "plans.pipeline",
    "edges": "operators.rules",
    "contradictions": "operators.contradictions",
}


class CrawlToKgJob:
    """``jobs/run_pipeline.main`` in-process with the pre-pass chain on,
    writing every stage through ``StageStore`` into a fresh ``--out``."""

    name = "crawl_to_kg_job"
    layers = tuple(dict.fromkeys(CRAWL_STAGES.values())) + ("plans.checkpointing",)
    n_pages = 16
    min_iterations = 1  # one job per run: wall_s is the cold job

    def __init__(self, nproc: int, work: str):
        self.url_partitions = 4 * nproc
        self.work = work
        self.pages_path = os.path.join(work, "pages.parquet")
        self._iteration = 0
        spec = importlib.util.spec_from_file_location("run_pipeline", os.path.join(ROOT, "jobs", "run_pipeline.py"))
        self.job = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.job)

    def prepare(self, spark, seed: int):
        from coap_rfc_knowledge_graph_spark.sources.pages import synthetic_pages

        synthetic_pages(spark, self.n_pages, seed=seed).write.mode("overwrite").parquet(self.pages_path)
        self.n_input = self.n_pages
        return self.pages_path

    def run(self, spark, pages_path):
        self._iteration += 1
        out = os.path.join(self.work, f"out-{self._iteration}")  # fresh: a reused one resumes
        argv = sys.argv
        sys.argv = [
            "run_pipeline", "--pages", pages_path, "--out", out,
            "--url-curation", "--html-extract", "--normalize-unicode", "--pii-redact",
            "--url-partitions", str(self.url_partitions),
        ]  # fmt: skip
        try:
            with contextlib.redirect_stdout(io.StringIO()):
                self.job.main()
        finally:
            sys.argv = argv
        return out

    def run_traced(self, spark, pages_path, tracer):
        """One job run with every ``StageStore.write`` split into two spans:
        the stage's own layer (plan execution and parquet commit) and
        ``plans.checkpointing`` (re-read, content hash, manifest). The eager
        driver work that builds the ``entities`` and ``rules`` stages before
        their writes runs in ``operators.linking`` and ``plans.pipeline``."""
        from pyspark.sql.readwriter import DataFrameWriter

        from coap_rfc_knowledge_graph_spark.operators import linking
        from coap_rfc_knowledge_graph_spark.plans import pipeline
        from coap_rfc_knowledge_graph_spark.plans.checkpointing import StageStore

        originals = [
            (StageStore, "write", StageStore.write),
            (DataFrameWriter, "parquet", DataFrameWriter.parquet),
            (linking, "canonical_entities", linking.canonical_entities),
            (pipeline, "rules_stage", pipeline.rules_stage),
        ]
        write, parquet, canonical_entities, rules_stage = (f for _, _, f in originals)
        layers = set(CRAWL_STAGES.values())
        self._writes = {}

        def traced_write(store, df, stage, *a, **kw):
            i = len(tracer.spans)
            tracer.begin(CRAWL_STAGES[stage])
            try:
                return write(store, df, stage, *a, **kw)
            finally:
                if tracer.current == "plans.checkpointing":
                    tracer.end()
                tracer.end()
                self._writes[stage] = tracer.spans[i]["end"] - tracer.spans[i]["start"]

        def traced_parquet(writer, *a, **kw):
            result = parquet(writer, *a, **kw)
            if tracer.current in layers:  # the stage's commit: its audit follows
                tracer.begin("plans.checkpointing")
            return result

        def traced_entities(*a, **kw):
            with tracer.span("operators.linking"):
                return canonical_entities(*a, **kw)

        def traced_rules(*a, **kw):
            with tracer.span("plans.pipeline"):
                return rules_stage(*a, **kw)

        for (owner, attr, _), f in zip(originals, (traced_write, traced_parquet, traced_entities, traced_rules)):
            setattr(owner, attr, f)
        try:
            out = self.run(spark, pages_path)
        finally:
            for owner, attr, f in originals:
                setattr(owner, attr, f)
        self._traced = out
        return out

    def digest(self, out) -> dict:
        try:
            return {stage: [m["row_count"], m["table_hash"]] for stage, m in _manifests(out).items()}
        finally:
            if out != getattr(self, "_traced", None):
                shutil.rmtree(out, ignore_errors=True)

    def layer_counts(self, spark) -> dict[str, float]:
        """Rows out per layer, the pair counts and the audit split, of the
        traced iteration."""
        from pyspark.sql import functions as F

        out = self._traced
        manifests = _manifests(out)
        counts = {f"{CRAWL_STAGES[s]}.rows_out": m["row_count"] for s, m in manifests.items()}
        mentions = spark.read.parquet(os.path.join(out, "mentions", "data"))
        counts["operators.linking.surfaces_in"] = mentions.select(F.sum(F.size("mentions"))).first()[0]
        counts.update(pair_counts(mentions, manifests["triples"]["row_count"]))
        counts["plans.checkpointing.rows_out"] = sum(m["row_count"] for m in manifests.values())
        counts["plans.checkpointing.audit_s"] = sum(
            self._writes[s] - m["compute_sec"] for s, m in manifests.items()
        )
        counts["plans.checkpointing.bytes_written"] = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(out) for f in files
        )
        shutil.rmtree(out, ignore_errors=True)
        return counts


def _manifests(out: str) -> dict[str, dict]:
    manifests = {}
    for stage in CRAWL_STAGES:
        with open(os.path.join(out, stage, "manifest.json")) as fh:
            manifests[stage] = json.load(fh)
    return manifests


WORKLOADS = {w.name: w for w in (FlagshipDocs, CrawlToKgJob)}
