"""Per-stage checkpoint / lineage manifests + resume-from-failure.

North rule: "resumable from checkpoint with per-partition lineage +
metrics". Every pipeline stage writes its output table plus a manifest:

    <root>/<stage>/data/part-*.parquet  the stage output
    <root>/<stage>/manifest.json        stage-level lineage + metrics
                                        incl. rows per written file + an
                                        order-insensitive content hash

A stage commits in one Spark job: the write itself counts and hashes
the rows it writes (an ``Observation``), the rows per written
``part-*`` file come from the files' parquet footers, read on the
driver, and the committed table is re-read with the written frame's
schema, so no schema-inference job runs. There is no per-file content
hash.

A stage is COMPLETE iff its manifest exists and carries ``complete``.
A rewrite removes the old manifest before it starts, and the new one is
written AFTER the parquet commit (write-then-publish), so a crash or a
failed job mid-stage leaves no manifest and the stage re-runs cleanly
from its (complete) inputs. A stage is REUSED iff it is complete and
its manifest ``params`` carry the stage's identity: the options its
build reads plus its inputs' identities (an upstream stage's
``table_hash``). Resume = reuse every such stage and rebuild the rest
from the stored inputs — exactly the pickle-per-stage
hand-off of the reference (``src/entity_extractor.py:61-62`` et al.)
upgraded to content-hashed table snapshots with per-file row counts.

In production these directories are Iceberg tables and the manifest
content lives in snapshot summary metadata; the layout here is plain
parquet + JSON so the mechanism is testable in-sandbox. The content
hash is ``sum(xxhash64(row))`` over string-cast columns — order- and
partitioning-insensitive, so equality across runs at different
parallelism certifies identical output tables (used by the kill/resume
test).
"""

from __future__ import annotations

import contextlib
import json
import os
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class StageStore:
    """Filesystem-backed store of stage outputs + manifests."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def manifest_path(self, stage: str) -> str:
        return os.path.join(self._dir(stage), "manifest.json")

    def has(self, stage: str, params: dict | None = None) -> bool:
        """True iff the stage committed completely and, when ``params``
        is given, its manifest carries exactly these params: the stage's
        identity, as :meth:`materialize` derives it from the options its
        build reads and its inputs' identities. ``params=None`` only asks
        whether the stage is complete."""
        p = self.manifest_path(stage)
        if not os.path.exists(p):
            return False
        try:
            with open(p) as fh:
                m = json.load(fh)
        except (OSError, json.JSONDecodeError):
            return False
        if not m.get("complete"):
            return False
        return params is None or m.get("params") == params

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        return spark.read.parquet(os.path.join(self._dir(stage), "data"))

    def manifest(self, stage: str) -> dict:
        with open(self.manifest_path(stage)) as fh:
            return json.load(fh)

    def table_hash(self, stage: str) -> int:
        """The committed stage's content hash: its identity as an input."""
        return self.manifest(stage)["table_hash"]

    def materialize(
        self, spark: SparkSession, stage: str, build, inputs: dict, params: dict | None = None
    ) -> DataFrame:
        """Reuse ``stage`` if its committed identity matches, else write
        ``build()`` as the stage. The identity is ``params`` (the options
        the build reads) plus ``inputs``: each input's name mapped to its
        identity, an upstream stage's :meth:`table_hash` or a source's
        digest. So a changed option or input recomputes the stage, and
        its new hash the stages downstream."""
        identity = {**(params or {}), "inputs": inputs}
        if self.has(stage, identity):
            return self.read(spark, stage)
        return self.write(build(), stage, inputs=list(inputs), params=identity)

    def write(
        self,
        df: DataFrame,
        stage: str,
        inputs: list[str] | None = None,
        params: dict | None = None,
    ) -> DataFrame:
        """Materialize ``df`` as the stage output in one Spark job and
        publish the manifest last. The write observes ``row_count`` and
        ``table_hash``; ``partitions`` lists each written ``part-*`` file
        with its rows, read from the file's parquet footer. Returns the
        re-read DataFrame (so downstream stages consume the committed
        snapshot, not the live lineage)."""
        data_dir = os.path.join(self._dir(stage), "data")
        # unpublish first: the overwrite empties data/ before its job
        # runs, so a failed rewrite must not leave the old manifest
        with contextlib.suppress(FileNotFoundError):
            os.remove(self.manifest_path(stage))
        row_hash = F.xxhash64(*[F.col(c).cast("string") for c in df.columns])
        obs = Observation()
        observed = df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            # decimal sum: multiset digest (xor would cancel duplicate
            # rows), overflow-safe to ~10^19 rows
            F.coalesce(F.sum(row_hash.cast("decimal(38,0)")), F.lit(0)).alias("hash"),
        )
        t0 = time.time()
        observed.write.mode("overwrite").parquet(data_dir)
        compute_sec = time.time() - t0  # plan execution + parquet commit
        metrics = obs.get

        # the written schema, not inference: inference is a Spark job.
        # File sources read every field as nullable either way.
        committed = df.sparkSession.read.schema(df.schema).parquet(data_dir)
        manifest = {
            "stage": stage,
            "inputs": inputs or [],
            "params": params,
            "schema": committed.schema.simpleString(),
            "row_count": int(metrics["rows"]),
            # order- AND partitioning-insensitive multiset digest
            "table_hash": int(metrics["hash"]),
            "partitions": [
                {"file": f, "rows": pq.read_metadata(os.path.join(data_dir, f)).num_rows}
                for f in sorted(os.listdir(data_dir))
                if f.startswith("part-")
            ],
            "compute_sec": round(compute_sec, 3),
            "written_at": time.time(),
            "complete": True,
        }
        tmp = self.manifest_path(stage) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=2)
        os.replace(tmp, self.manifest_path(stage))
        return committed


# --- resumable pipeline -------------------------------------------------------

STAGES = ["sentences", "mentions", "triples", "entities", "rules", "edges", "contradictions"]


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    root: str,
    url_partitions: int | None = None,
    fail_after: str | None = None,
    pages_id: dict | int | None = None,
) -> StageStore:
    """Run the KG pipeline writing each stage through the StageStore;
    a stage whose committed identity matches is SKIPPED (its committed
    parquet feeds downstream). ``pages_id`` is the identity of ``pages``
    (the job passes its source digest or the ``curated_pages`` hash);
    left None, ``sentences`` is reused whatever frame is passed.
    ``fail_after`` injects a crash once the named stage is committed —
    the kill/resume test hook."""
    from ..operators.contradictions import check_entity_contradiction
    from ..operators.linking import canonical_entities
    from ..operators.mentions import extract_mentions
    from ..operators.relations import extract_triples_from_arrays
    from ..operators.rule_filter import rule_sentences
    from ..operators.rules import build_edges
    from ..operators.sentences import extract_sentences

    store = StageStore(root)
    ids = {"pages": pages_id}

    def stage(name: str, build, inputs: list[str]):
        out = store.materialize(spark, name, build, {i: ids[i] for i in inputs})
        ids[name] = store.table_hash(name)
        if fail_after == name:
            raise RuntimeError(f"injected failure after stage {name!r}")
        return out

    sentences = stage("sentences", lambda: extract_sentences(pages, url_partitions=url_partitions), ["pages"])
    mentions_arr = stage("mentions", lambda: extract_mentions(sentences, explode=False), ["sentences"])
    triples = stage("triples", lambda: extract_triples_from_arrays(mentions_arr), ["mentions"])
    from ..operators.mentions import _explode_mentions

    mentions = _explode_mentions(mentions_arr)  # explode_outer: no UDF re-eval
    entities = stage("entities", lambda: canonical_entities(mentions), ["mentions"])
    # the committed parquet lacks _build_canonical's size hint; the
    # manifest's exact count spares the link path a count job
    entities._kg_n_entities = store.manifest("entities")["row_count"]  # type: ignore[attr-defined]

    from .pipeline import KGResult, rules_stage

    res = KGResult(
        sentences=sentences,
        rule_sentences=rule_sentences(sentences),
        mentions=mentions,
        triples=triples,
        entities=entities,
    )
    try:
        rules = stage("rules", lambda: rules_stage(res).rules, ["sentences", "mentions", "entities"])
    finally:  # committed (or failed): downstream stages read the parquet
        res.unpersist()
    stage("edges", lambda: build_edges(rules), ["rules"])
    stage("contradictions", lambda: check_entity_contradiction(rules), ["rules"])
    return store
