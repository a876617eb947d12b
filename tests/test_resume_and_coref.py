"""Kill/resume lineage test (north rule) + coref operator tests."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from coap_rfc_knowledge_graph_spark.operators.coref import find_pronouns, resolve_coreferences
from coap_rfc_knowledge_graph_spark.plans.checkpointing import STAGES as KG_STAGES
from coap_rfc_knowledge_graph_spark.plans.checkpointing import StageStore, run_resumable
from coap_rfc_knowledge_graph_spark.sources.pages import synthetic_pages


def test_kill_resume_identical_output(spark, tmp_path):
    """Crash after the 'triples' stage; resume must (a) skip completed
    stages, (b) produce byte-identical final tables (manifest table_hash
    equality certifies it, partitioning-insensitively)."""
    pages = synthetic_pages(spark, 12, seed=21)
    root_a = str(tmp_path / "run_a")
    root_b = str(tmp_path / "run_b")

    # uninterrupted reference run
    store_a = run_resumable(spark, pages, root_a, url_partitions=4)

    # killed run + resume at different parallelism
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, pages, root_b, url_partitions=4, fail_after="triples")
    # stages after the crash are absent
    sb = StageStore(root_b)
    assert sb.has("sentences") and sb.has("triples")
    assert not sb.has("entities") and not sb.has("rules")
    # resume (different url_partitions must not change content hashes)
    mtimes = {s: os.path.getmtime(sb.manifest_path(s)) for s in ["sentences", "mentions", "triples"]}
    store_b = run_resumable(spark, pages, root_b, url_partitions=8)
    # completed stages were not recomputed
    for s, t in mtimes.items():
        assert os.path.getmtime(sb.manifest_path(s)) == t, f"stage {s} was recomputed"
    for stage in ["sentences", "mentions", "triples", "entities", "rules", "edges", "contradictions"]:
        ma, mb = store_a.manifest(stage), store_b.manifest(stage)
        assert ma["row_count"] == mb["row_count"], stage
        assert ma["table_hash"] == mb["table_hash"], stage
        assert mb["inputs"] == ma["inputs"]


def test_run_resumable_releases_rules_caches(spark, tmp_path, monkeypatch):
    """Once ``rules`` commits, the frames the rules stage persisted are
    released (downstream stages read the parquet); a cache the caller
    made survives."""
    from pyspark import StorageLevel

    from coap_rfc_knowledge_graph_spark.plans import pipeline

    persisted = []
    real = pipeline.rules_stage

    def spy(result):
        out = real(result)
        persisted.extend(out.cached)
        return out

    monkeypatch.setattr(pipeline, "rules_stage", spy)
    mine = spark.range(5).persist()
    try:
        run_resumable(spark, synthetic_pages(spark, 8, seed=1), str(tmp_path), url_partitions=4)
        assert len(persisted) == 3
        assert all(df.storageLevel == StorageLevel.NONE for df in persisted)
        assert mine.storageLevel != StorageLevel.NONE
    finally:
        mine.unpersist()


def test_resumed_link_path_counts_no_entities(spark, tmp_path, monkeypatch):
    """``rules_stage`` links against the committed ``entities`` parquet;
    its size comes from the stage manifest, so the link path starts no
    count job."""
    from coap_rfc_knowledge_graph_spark.operators import linking

    sc = spark.sparkContext
    group = "test_resumed_link_path_counts_no_entities"
    real = linking._entity_count_hint
    sizes = []

    def grouped(entities):
        sc.setJobGroup(group, "entity count hint")
        try:
            sizes.append(real(entities))
            return sizes[-1]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(linking, "_entity_count_hint", grouped)
    store = run_resumable(spark, synthetic_pages(spark, 8, seed=1), str(tmp_path), url_partitions=4)
    assert sizes == [store.manifest("entities")["row_count"]]
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def _reread_digest(spark, store, stage):
    """(rows, sum(xxhash64)) of the committed parquet, computed apart
    from the write: the manifest's row_count and table_hash must match."""
    df = store.read(spark, stage)
    h = F.xxhash64(*[F.col(c).cast("string") for c in df.columns]).cast("decimal(38,0)")
    rows, total = df.select(F.count(F.lit(1)), F.coalesce(F.sum(h), F.lit(0))).first()
    return rows, int(total)


def _assert_partitions_are_the_files(store, stage):
    m = store.manifest(stage)
    data = os.path.join(os.path.dirname(store.manifest_path(stage)), "data")
    parts = sorted(f for f in os.listdir(data) if f.startswith("part-"))
    assert [p["file"] for p in m["partitions"]] == parts, stage
    assert sum(p["rows"] for p in m["partitions"]) == m["row_count"], stage


def test_manifest_contents(spark, tmp_path):
    store = StageStore(str(tmp_path))
    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    store.write(df, "demo", inputs=["src"])
    m = store.manifest("demo")
    assert m["row_count"] == 100
    assert m["complete"] is True
    assert m["inputs"] == ["src"]
    assert sum(p["rows"] for p in m["partitions"]) == 100
    assert isinstance(m["table_hash"], int)
    # re-read round-trip
    assert store.read(spark, "demo").count() == 100
    # one partitions entry per written file, rows from its footer
    store.write(df.repartition(16, "id"), "wide")
    m = store.manifest("wide")
    assert len(m["partitions"]) == 16 and all(p["rows"] > 0 for p in m["partitions"])
    assert (m["row_count"], m["table_hash"]) == (100, store.table_hash("demo"))
    for stage in ("demo", "wide"):
        _assert_partitions_are_the_files(store, stage)


def test_committed_digest_equals_reread_digest(spark, tmp_path, monkeypatch):
    """The row_count/table_hash the write observes equal a separate
    re-read hash of the committed parquet: for pages (timestamp and
    binary columns) and every stage of a resumable run, sentences and
    mention arrays among them. The committed frame ``write`` returns
    carries the schema a schema-inferring read of its parquet finds."""
    committed = {}
    real = StageStore.write

    def spy(store, df, stage, *a, **kw):
        committed[stage] = real(store, df, stage, *a, **kw)
        return committed[stage]

    monkeypatch.setattr(StageStore, "write", spy)
    pages = synthetic_pages(spark, 8, seed=5)
    store = StageStore(str(tmp_path))
    store.write(pages, "pages")
    run_resumable(spark, pages, str(tmp_path), url_partitions=4)
    assert set(committed) == {"pages", *KG_STAGES}
    for stage in ["pages", *KG_STAGES]:
        m = store.manifest(stage)
        assert (m["row_count"], m["table_hash"]) == _reread_digest(spark, store, stage), stage
        _assert_partitions_are_the_files(store, stage)
        inferred = spark.read.parquet(str(tmp_path / stage / "data")).schema
        assert committed[stage].schema.json() == inferred.json(), stage
    assert store.manifest("sentences")["row_count"] > 0 and store.manifest("mentions")["row_count"] > 0


def test_commit_runs_one_spark_job(spark, tmp_path):
    """Committing a narrow frame is one Spark job: the write counts and
    hashes the rows, and the re-read infers no schema."""
    sc = spark.sparkContext
    df = spark.range(100).select("id", (F.col("id") * 2).alias("v"), F.array("id").alias("arr"))
    sc.setJobGroup("test_commit_runs_one_spark_job", "commit")
    try:
        StageStore(str(tmp_path)).write(df, "narrow")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("test_commit_runs_one_spark_job")) == 1


def test_empty_stage_commits_zero(spark, tmp_path):
    """An empty frame commits row_count 0 and table_hash 0; the alarm
    turns an observation that never reports into a failure, not a hang."""
    import signal

    def timeout(signum, frame):
        raise TimeoutError("the write's observation never reported")

    store = StageStore(str(tmp_path))
    empties = {
        "no_partitions": spark.createDataFrame([], "a int, b string"),
        "filtered": spark.range(10).filter("id < 0"),
        "limit_zero": spark.range(10).limit(0),
    }
    previous = signal.signal(signal.SIGALRM, timeout)
    try:
        for stage, df in empties.items():
            signal.alarm(120)
            store.write(df, stage)
            signal.alarm(0)
            m = store.manifest(stage)
            assert (m["row_count"], m["table_hash"]) == (0, 0), stage
            _assert_partitions_are_the_files(store, stage)
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, previous)


def test_failed_rewrite_unpublishes_the_old_stage(spark, tmp_path):
    """A rewrite whose job fails has already emptied data/; the old
    manifest must not survive it, or a later run with the old options
    would reuse a stage that has no data."""
    store = StageStore(str(tmp_path))
    identity_a = {"opt": "A", "inputs": {"src": 1}}
    store.materialize(spark, "demo", lambda: spark.range(10), {"src": 1}, params={"opt": "A"})
    assert store.has("demo", identity_a)
    first = store.manifest("demo")["written_at"]

    def failing():
        return spark.range(10).select(F.when(F.col("id") >= 0, F.raise_error(F.lit("task failure"))).alias("id"))

    with pytest.raises(Exception, match="task failure"):
        store.materialize(spark, "demo", failing, {"src": 1}, params={"opt": "B"})
    assert not store.has("demo", identity_a)
    out = store.materialize(spark, "demo", lambda: spark.range(10), {"src": 1}, params={"opt": "A"})
    assert out.count() == 10
    assert store.has("demo", identity_a) and store.manifest("demo")["written_at"] != first


# --- coref -------------------------------------------------------------------


def test_find_pronouns_occurrences(spark):
    rows = [
        ("u", 0, "The Server sends a Token."),
        ("u", 1, "It stores it in the field and they read it."),
    ]
    sents = spark.createDataFrame(rows, "url string, sent_id int, sentence string")
    got = {
        (r["sent_id"], r["pronoun"], r["occurrence"])
        for r in find_pronouns(sents, pronouns=["it", "they"]).collect()
    }
    # 'It' (capitalized) + 2 lowercase 'it' -> occurrences 1..3
    assert (1, "it", 1) in got and (1, "it", 2) in got and (1, "it", 3) in got
    assert (1, "they", 1) in got
    assert not any(s == 0 for s, _, _ in got)


def test_resolve_coreferences(spark):
    rows = [
        ("u", 0, "The CoAP Server accepts requests."),
        ("u", 1, "It MUST reply promptly."),
    ]
    sents = spark.createDataFrame(rows, "url string, sent_id int, sentence string")
    got = resolve_coreferences(sents, pronouns=["it"]).collect()
    assert len(got) == 1
    r = got[0]
    assert r["sent_id"] == 1 and r["pronoun"] == "it"
    assert "CoAP Server" in r["antecedent"]


def test_job_prepass_runs_through_stage_store(spark, tmp_path):
    """jobs/run_pipeline.py with curation flags must write the composed
    pre-pass as a 'curated_pages' stage (lineage manifest + committed
    parquet) and SKIP it on resume — a crashed 100-TB curation pass
    restarts from its snapshot, not from scratch."""
    import os
    import sys

    base = "the quick brown fox is happy to run for miles in the field with a friend today"
    rows = [
        (f"https://s{i % 3}.com/p{i}", None, f"mail u{i}@x.com and then {base} episode number {i}", "en")
        for i in range(20)
    ]
    src = str(tmp_path / "pages_src")
    spark.createDataFrame(rows, "url string, html binary, text string, lang string").write.parquet(src)
    out = str(tmp_path / "state")

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
    import run_pipeline

    argv = ["run_pipeline.py", "--pages", src, "--out", out, "--pii-redact", "--clean"]
    old = sys.argv
    try:
        sys.argv = argv
        run_pipeline.main()
        from coap_rfc_knowledge_graph_spark.plans.checkpointing import StageStore

        store = StageStore(out)
        assert store.has("curated_pages")
        m1 = store.manifest("curated_pages")
        assert m1["row_count"] > 0 and m1["inputs"] == ["pages"]
        # masked text committed in the snapshot
        snap = store.read(spark, "curated_pages")
        assert snap.filter(snap.text.contains("@")).count() == 0
        written_at = m1["written_at"]
        stages = ["curated_pages", *KG_STAGES]
        first = {s: store.manifest(s)["written_at"] for s in stages}
        first_params = {s: store.manifest(s)["params"] for s in KG_STAGES}
        sys.argv = argv
        run_pipeline.main()  # resume: every stage is reused, not rewritten
        assert {s: store.manifest(s)["written_at"] for s in stages} == first
        # DIFFERENT flags must NOT reuse the stale snapshot: dropping
        # --pii-redact changes the curated output, so the stage recomputes
        # and the committed text carries the (unmasked) emails again
        sys.argv = ["run_pipeline.py", "--pages", src, "--out", out, "--clean"]
        run_pipeline.main()
        m2 = store.manifest("curated_pages")
        assert m2["written_at"] != written_at and m2["params"]["pii_redact"] is False
        snap2 = store.read(spark, "curated_pages")
        assert snap2.filter(snap2.text.contains("@")).count() > 0
        # ... and so do the KG stages built on it: the sentences carry
        # the unmasked text
        for stage in ("sentences", "mentions", "triples", "entities", "rules"):
            assert store.manifest(stage)["written_at"] != first[stage], stage
        sents = store.read(spark, "sentences")
        assert sents.filter(sents.sentence.contains("@")).count() > 0
        # each KG stage is keyed on its inputs' current hashes and is
        # rewritten exactly when one of them moved (this corpus yields
        # no rules, so the stages after 'rules' keep their empty input
        # and are rightly reused)
        hashes = {"pages": store.table_hash("curated_pages")}
        for stage in KG_STAGES:
            m = store.manifest(stage)
            assert m["params"]["inputs"] == {i: hashes[i] for i in m["inputs"]}, stage
            rewritten = m["written_at"] != first[stage]
            assert rewritten == (m["params"] != first_params[stage]), stage
            hashes[stage] = m["table_hash"]
    finally:
        sys.argv = old


def test_job_rewritten_decontaminate_table_recomputes_curated_pages(spark, tmp_path):
    """The --decontaminate eval table is keyed on its content: rewriting
    it in place (same path) recomputes curated_pages."""
    import sys

    rows = [
        (f"https://s{i}.example/p", None,
         f"The CoAP client number {i} MUST retry the confirmable request after the timer expires.", "en")
        for i in range(6)
    ]
    src = str(tmp_path / "pages_src")
    spark.createDataFrame(rows, "url string, html binary, text string, lang string").write.parquet(src)
    ev = str(tmp_path / "eval")
    spark.createDataFrame([("e0", "nothing in common with any page")], "eval_id string, text string") \
        .write.parquet(ev)
    out = str(tmp_path / "state")

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
    import run_pipeline

    old = sys.argv
    try:
        sys.argv = ["run_pipeline.py", "--pages", src, "--out", out, "--decontaminate", ev]
        run_pipeline.main()
        store = StageStore(out)
        m1 = store.manifest("curated_pages")
        assert m1["row_count"] == 6
        # same path, new content: page 3's text is now in the eval set
        spark.createDataFrame([("e0", rows[3][2])], "eval_id string, text string") \
            .write.mode("overwrite").parquet(ev)
        run_pipeline.main()
        m2 = store.manifest("curated_pages")
        assert m2["written_at"] != m1["written_at"] and m2["row_count"] == 5
        assert rows[3][0] not in {r.url for r in store.read(spark, "curated_pages").collect()}
    finally:
        sys.argv = old


def test_every_prepass_option_is_part_of_curated_pages_identity(tmp_path):
    """Enumerates the job's 'curated_pages' option group: setting any one
    option (or changing its value) changes the stage's identity, and
    every pre-pass step reads an option of that group."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
    import run_pipeline

    side_input = tmp_path / "side_input"
    side_input.write_text("example.org\n")
    actions = {a.dest: a for a in run_pipeline.PARSER._actions}
    # the options some others require, on in every baseline but their own
    companions = {"url_curation": ["--url-curation"], "lm_select_permille": ["--lm-select-permille", "500"]}

    def value(a):
        if a.nargs == 0:
            return []
        if a.type is run_pipeline._path:
            return [str(side_input)]
        if a.choices:
            return [a.choices[-1]]
        return ["7"] if a.type is int else ["0.5"]

    def identity(argv):
        args = run_pipeline.parse_args(["--pages", str(side_input), "--out", "-", *argv])
        return run_pipeline._identity(args, run_pipeline.CURATE_OPTIONS)

    assert {d for d, _ in run_pipeline.PREPASSES} <= set(run_pipeline.CURATE_OPTIONS)
    for dest in run_pipeline.CURATE_OPTIONS:
        a = actions[dest]
        base = [t for d, tokens in companions.items() if d != dest for t in tokens]
        assert identity(base) != identity(base + [a.option_strings[0], *value(a)]), dest
