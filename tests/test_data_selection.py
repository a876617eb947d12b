"""DSIR importance weighting + Gumbel-top-k resampling + CCNet-style
coverage bucketing + shard assignment for packed sequences."""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import functions as F

from coap_rfc_knowledge_graph_spark.operators.corpus_lm import train_bigram_lm
from coap_rfc_knowledge_graph_spark.operators.data_selection import (
    coverage_buckets,
    dsir_evidence,
    dsir_resample,
    dsir_weights,
)
from coap_rfc_knowledge_graph_spark.operators.pretrain import (
    pack_sequences,
    shard_counts,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _bigrams(text):
    toks = [t for t in text.lower().split() if t]
    return [f"{a} {b}" for a, b in zip(toks, toks[1:])]


# --- DSIR evidence + weights ------------------------------------------------------


def test_dsir_evidence_hand_values(spark):
    target = _docs(spark, [(0, "a b a b")])  # LM: "a b"=2, "b a"=1
    raw = _docs(spark, [(1, "a b c c")])  # LM: "a b"=1, "b c"=1, "c c"=1
    docs = _docs(spark, [(10, "a b c"), (11, "z")])
    ev = {
        r.doc_id: r
        for r in dsir_evidence(
            docs, train_bigram_lm(target), train_bigram_lm(raw)
        ).collect()
    }
    # doc 10 bigrams: "a b" (target 2, raw 1), "b c" (raw 1)
    r = ev[10]
    assert (r.total_bigrams, r.matched_target, r.matched_raw) == (2, 1, 2)
    assert (r.sum_target_cnt, r.sum_raw_cnt) == (2, 2)
    assert 11 not in ev  # < 2 tokens: no transitions to score


def test_dsir_weights_match_pure_python(spark):
    target_texts = ["the protocol must send", "the server must reply"]
    raw_texts = ["random web junk here", "the protocol junk", "buy now cheap deals"]
    doc_texts = ["the protocol must reply", "buy cheap junk now", "the the"]
    target = _docs(spark, list(enumerate(target_texts)))
    raw = _docs(spark, list(enumerate(raw_texts)))
    docs = _docs(spark, [(100 + i, t) for i, t in enumerate(doc_texts)])
    alpha = 0.1
    got = {
        r.doc_id: r.log_weight
        for r in dsir_weights(
            docs, train_bigram_lm(target), train_bigram_lm(raw), alpha=alpha
        ).collect()
    }

    c_t = Counter(g for t in target_texts for g in _bigrams(t))
    c_r = Counter(g for t in raw_texts for g in _bigrams(t))
    tot_t, tot_r = sum(c_t.values()), sum(c_r.values())
    v = len(set(c_t) | set(c_r))
    for i, text in enumerate(doc_texts):
        want = sum(
            math.log((c_t.get(g, 0) + alpha) / (tot_t + alpha * v))
            - math.log((c_r.get(g, 0) + alpha) / (tot_r + alpha * v))
            for g in _bigrams(text)
        )
        assert abs(got[100 + i] - want) < 1e-9, text


def test_dsir_weights_direction(spark):
    """A target-like document must out-weigh a raw-only one."""
    target = _docs(spark, [(0, "alpha beta gamma delta " * 5)])
    raw = _docs(spark, [(1, "spam eggs ham bacon " * 5)])
    docs = _docs(spark, [(10, "alpha beta gamma"), (11, "spam eggs ham")])
    w = {
        r.doc_id: r.log_weight
        for r in dsir_weights(docs, train_bigram_lm(target), train_bigram_lm(raw)).collect()
    }
    assert w[10] > 0 > w[11]


# --- Gumbel resample --------------------------------------------------------------


def test_dsir_resample_partitioning_invariant_and_weight_biased(spark):
    # 40 docs; ids 0-19 carry weight +5, ids 20-39 weight -5: the top-10
    # sample should be dominated by (here: entirely within) the heavy half,
    # and identical across partitionings.
    rows = [(i, 5.0 if i < 20 else -5.0) for i in range(40)]
    base = spark.createDataFrame(rows, "doc_id long, log_weight double")
    picks = None
    for parts in (1, 7, 32):
        got = sorted(
            r.doc_id for r in dsir_resample(base.repartition(parts), k=10).collect()
        )
        assert len(got) == 10
        if picks is None:
            picks = got
        assert got == picks, parts
    # Gumbel noise is ~O(1); a 10-logit gap makes cross-half swaps vanishingly rare
    assert all(i < 20 for i in picks)


def test_dsir_resample_matches_driver_side_reference(spark):
    """Two-level distributed top-k == collect-and-sort on the same keys."""
    rows = [(i, float((i * 7) % 13) / 3.0) for i in range(100)]
    base = spark.createDataFrame(rows, "doc_id long, log_weight double")
    keyed = dsir_resample(base, k=100)  # k >= n: returns everything, keys attached
    all_keys = {r.doc_id: r.gumbel_key for r in keyed.collect()}
    want = sorted(all_keys, key=lambda i: (-all_keys[i], i))[:15]
    got = sorted(
        r.doc_id for r in dsir_resample(base.repartition(9), k=15).collect()
    )
    assert got == sorted(want)


# --- coverage buckets -------------------------------------------------------------


def test_coverage_buckets_order_and_balance(spark):
    # rate(doc i) is higher for docs made of the reference's common bigram
    ref = _docs(spark, [(0, "a b " * 10), (1, "c d")])
    docs = _docs(
        spark,
        [(i, "a b a b") for i in range(6)]  # high coverage
        + [(i, "c d x y") for i in range(6, 12)]  # mid
        + [(i, "q r s t") for i in range(12, 18)],  # zero
    )
    out = coverage_buckets(docs, train_bigram_lm(ref), n_buckets=3).collect()
    by_id = {r.doc_id: r for r in out}
    assert len(out) == 18
    # buckets are exact thirds: 6 docs each
    sizes = Counter(r.bucket for r in out)
    assert sizes == {0: 6, 1: 6, 2: 6}
    # head bucket = the high-coverage docs, tail = the zero-coverage ones
    assert {by_id[i].bucket for i in range(6)} == {0}
    assert {by_id[i].bucket for i in range(12, 18)} == {2}
    # rank is a dense 0-based total order, ties broken by doc_id
    assert sorted(r.rank for r in out) == list(range(18))


def test_coverage_buckets_partitioning_invariant(spark):
    ref = _docs(spark, [(0, "a b c d e f g h")])
    docs = _docs(spark, [(i, f"a b c {'x ' * (i % 5)}") for i in range(30)])
    lm = train_bigram_lm(ref)
    base = None
    for parts in (1, 8, 32):
        got = sorted(
            map(tuple, coverage_buckets(docs.repartition(parts), lm, 4).collect())
        )
        if base is None:
            base = got
        assert got == base, parts


def test_plan_shapes(spark):
    """Scale-path pins: broadcast LMs keep the corpus side shuffle-free
    in dsir_evidence; coverage_buckets ranks via per-__pid windows (the
    distributed zipWithIndex), never a global-order window over the
    rate; dsir_resample's candidate pass windows per-__pid too."""
    ref = _docs(spark, [(i, f"a b c d{i % 3}") for i in range(10)])
    docs = _docs(spark, [(i, "a b c d e") for i in range(20)])
    lm = train_bigram_lm(ref)

    b = dsir_evidence(docs, lm, lm, broadcast_lms=True)
    assert "BroadcastHashJoin" in b._jdf.queryExecution().executedPlan().toString()

    cb = coverage_buckets(docs, lm, 4)
    plan = cb._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(__pid" in plan, plan
    assert "windowspecdefinition(__neg_rate" not in plan, plan

    rs = dsir_resample(
        spark.createDataFrame([(i, 1.0) for i in range(30)], "doc_id long, log_weight double"),
        k=5,
    )
    rplan = rs._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(__pid" in rplan, rplan


# --- shard assignment -------------------------------------------------------------


def test_job_lm_select_prepass(spark):
    """--lm-select-permille 500 keeps exactly the top half of pages by
    LM coverage: the corpus-typical pages survive, the junk tail goes."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")
    )
    import run_pipeline

    rows = [
        (f"https://good/{i}", None, "the quick brown fox jumps over the lazy dog", "en")
        for i in range(10)
    ] + [
        (f"https://junk/{i}", None, f"zz{i} qq{i * 7} ww{i * 13} ee{i * 31}", "en")
        for i in range(10)
    ]
    pages = spark.createDataFrame(rows, "url string, html binary, text string, lang string")
    args = run_pipeline.parse_args(["--pages", "-", "--out", "-", "--lm-select-permille", "500"])
    kept = run_pipeline._apply_prepasses(spark, args, pages)
    urls = sorted(r.url for r in kept.select("url").collect())
    assert urls == sorted(f"https://good/{i}" for i in range(10))


def test_shard_counts_balanced(spark):
    docs = _docs(spark, [(i, " ".join(f"t{j}" for j in range(50))) for i in range(20)])
    packed = pack_sequences(docs, context_len=100)  # 1000 tokens -> 10 windows
    out = {r.shard: r for r in shard_counts(packed, windows_per_shard=4).collect()}
    assert sorted(out) == [0, 1, 2]
    assert [out[s].n_windows for s in (0, 1, 2)] == [4, 4, 2]
    # token payload is exact: full shards carry 4*100 tokens
    assert out[0].n_tokens == 400 and out[1].n_tokens == 400 and out[2].n_tokens == 200
    assert sum(r.n_tokens for r in out.values()) == 1000
