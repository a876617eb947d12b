"""Spark-side tests of the extraction slice: pages -> sentences ->
rule filter -> mentions -> pairs + relations -> triples.

The byte-identical contract (BASELINE.md): for every url, the Spark
pipeline's ordered sentence list equals the in-process oracle's, byte for
byte."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from coap_rfc_knowledge_graph_spark.config import MODAL_KEYWORDS, RELATION_NAMES
from coap_rfc_knowledge_graph_spark.functions import stub_models as sm
from coap_rfc_knowledge_graph_spark.functions import tokenizer as tk
from coap_rfc_knowledge_graph_spark.functions.text_extract import extract_document
from coap_rfc_knowledge_graph_spark.operators.mentions import extract_mentions
from coap_rfc_knowledge_graph_spark.operators.relations import (
    _mark_tokens,
    _marked_pairs,
    _sentence_pairs,
    extract_triples_from_arrays,
)
from coap_rfc_knowledge_graph_spark.operators.rule_filter import rule_sentences
from coap_rfc_knowledge_graph_spark.operators.sentences import extract_sentences
from coap_rfc_knowledge_graph_spark.sources.pages import rfc_pages, synthetic_pages


def _oracle_sentences(pages_rows):
    out = {}
    for r in pages_rows:
        out[r["url"]] = extract_document(r["url"], r["html"], r["text"], r["lang"])
    return out


@pytest.mark.reference_data
def test_sentences_byte_identical_rfc(spark):
    pages = rfc_pages(spark)
    got = (
        extract_sentences(pages, url_partitions=4)
        .orderBy("url", "sent_id")
        .toPandas()
        .groupby("url")["sentence"]
        .apply(list)
        .to_dict()
    )
    want = _oracle_sentences([r.asDict() for r in pages.collect()])
    assert set(got) == {u for u, s in want.items() if s}
    for url, sents in got.items():
        assert sents == want[url], f"byte mismatch for {url}"


def test_sentences_byte_identical_synthetic(spark):
    pages = synthetic_pages(spark, 60, seed=7)
    got = (
        extract_sentences(pages, url_partitions=4)
        .orderBy("url", "sent_id")
        .toPandas()
        .groupby("url")["sentence"]
        .apply(list)
        .to_dict()
    )
    want = _oracle_sentences([r.asDict() for r in pages.collect()])
    for url, sents in want.items():
        if sents:
            assert got[url] == sents


def test_sentences_partitioning_invariance(spark):
    """Content must not depend on the partitioning (document-at-a-time UDF)."""
    pages = synthetic_pages(spark, 40, seed=11)
    a = extract_sentences(pages, url_partitions=2).orderBy("url", "sent_id").collect()
    b = extract_sentences(pages, url_partitions=16).orderBy("url", "sent_id").collect()
    assert a == b


def test_rule_filter_semantics(spark):
    rows = [
        ("u1", 0, "This document uses RFC 2119 keywords such as MUST."),  # boilerplate
        ("u1", 1, "No modal here."),
        ("u1", 2, "The client MUST retry."),
        ("u1", 3, "The server SHOULD log."),
        ("u2", 0, "Clients MAY cache."),
        ("u2", 1, "mixed must lowercase ignored."),
    ]
    sents = spark.createDataFrame(rows, "url string, sent_id int, sentence string")
    got = rule_sentences(sents).orderBy("url", "rule_num").collect()
    # u1: boilerplate dropped ([1:] semantics), u2: its only match dropped
    assert [(r["url"], r["rule_num"], r["sent_id"]) for r in got] == [("u1", 0, 2), ("u1", 1, 3)]
    assert got[0]["is_strong"] is True
    assert got[1]["is_strong"] is False


def test_rule_filter_substring_semantics(spark):
    # reference uses `keyword in sentence`: matches inside words too
    sents = spark.createDataFrame(
        [("u", 0, "x"), ("u", 1, "The OPTIONALLY flag."), ("u", 2, "ok MAY ok")],
        "url string, sent_id int, sentence string",
    )
    got = rule_sentences(sents, drop_boilerplate=False).collect()
    assert {r["sent_id"] for r in got} == {1, 2}
    assert all(any(k in r["sentence"] for k in MODAL_KEYWORDS) for r in got)


def test_mentions_match_inprocess_stub(spark):
    rows = [("u", 0, "The CoAP Server MUST send an Acknowledgement message to the Client.")]
    sents = spark.createDataFrame(rows, "url string, sent_id int, sentence string")
    got = extract_mentions(sents).orderBy("begin").collect()
    toks = tk.tokenize(rows[0][2], pad=False)
    spans = sm.decode_spans(sm.tag_tokens(toks))
    want = [(b, e, tk.decode_span(toks, b, e)) for b, e in spans if tk.decode_span(toks, b, e)]
    assert [(r["begin"], r["end"], r["surface"]) for r in got] == want
    assert "CoAP Server" in {r["surface"] for r in got}


def _reference_triples(marr_rows):
    """The relation layer in plain Python over collected mention arrays:
    every C(n,2) span pair marked by ``_mark_tokens`` (the reference's
    ``list.insert`` sequence) and classified one by one."""
    out = []
    for r in marr_rows:
        spans = sorted(((m["begin"], m["end"], m["surface"]) for m in r["mentions"] or []), key=lambda x: x[:2])
        toks = tk.tokenize(r["sentence"], pad=False)
        for i, (b1, e1, s1) in enumerate(spans):
            for b2, e2, s2 in spans[i + 1 :]:
                pred = sm.classify_relation(_mark_tokens(toks, b1, e1, b2, e2))
                if pred != 0:
                    out.append((s1, RELATION_NAMES[pred], s2, r["url"], r["sent_id"]))
    return sorted(out)


def _keep_every_pair():
    """A relation factory predicting class 1 for every pair, so the fused
    operator emits one triple per candidate pair. A closure, so that
    cloudpickle ships it by value (workers cannot import this module)."""

    def loader():
        return lambda marked: [1] * len(marked)

    return loader


def test_pairs_cn2_and_markers(spark):
    rows = [("u", 0, "The Server sends the Token to the Client.")]
    sents = spark.createDataFrame(rows, "url string, sent_id int, sentence string")
    marr = extract_mentions(sents, explode=False)
    mentions = marr.first()["mentions"]
    n = len(mentions)
    assert n >= 3
    # every C(n,2) pair reaches the model: one triple each when all are kept
    fused = extract_triples_from_arrays(marr, model_loader=_keep_every_pair()).collect()
    assert len(fused) == n * (n - 1) // 2
    got = list(_sentence_pairs(rows[0][2], mentions))
    assert [(r["subj"], r["obj"]) for r in fused] == [(e1, e2) for e1, e2, _ in got]
    for e1, _, ms in got:
        assert ms.index("[E1]") < ms.index("[/E1]") < ms.index("[E2]") < ms.index("[/E2]")
        assert "[PAD]" not in ms and "[CLS]" not in ms and "  " not in ms
        # surface of E1 appears between its markers
        inner = ms[ms.index("[E1]") + 4 : ms.index("[/E1]")].strip()
        assert e1 in inner or inner in e1


@pytest.mark.reference_data
def test_triples_schema_and_no_relation_dropped(spark):
    pages = rfc_pages(spark).limit(1)
    sents = extract_sentences(pages, url_partitions=2)
    rules = rule_sentences(sents)
    marr = extract_mentions(rules, explode=False).cache()
    triples = extract_triples_from_arrays(marr)
    assert triples.columns == ["subj", "pred", "obj", "url", "sent_id"]
    kept = triples.count()
    total = extract_triples_from_arrays(marr, model_loader=_keep_every_pair()).count()
    assert 0 < kept < total
    assert kept == len(_reference_triples(marr.collect()))
    assert triples.filter(F.col("pred") == "NO RELATION").count() == 0


@pytest.mark.reference_data
def test_triples_parity_with_recorded_golden(spark, tmp_path):
    """P/R gate scaffold: pipeline triples vs an independently-computed
    in-process golden on the same corpus must match at P/R >= 0.95 (they
    are identical by construction when both run the stub models — the gate
    guards the Spark plumbing: joins, explodes, filters, ordering)."""
    pages = rfc_pages(spark).limit(2)
    rows = [r.asDict() for r in pages.collect()]
    # in-process golden
    golden = set()
    for r in rows:
        doc_sents = extract_document(r["url"], r["html"], r["text"], r["lang"])
        matches = [s for s in doc_sents if any(k in s for k in MODAL_KEYWORDS)][1:]
        for s in matches:
            toks = tk.tokenize(s, pad=False)
            spans = sm.decode_spans(sm.tag_tokens(toks))
            spans = [(b, e, tk.decode_span(toks, b, e)) for b, e in spans]
            spans = [x for x in spans if x[2]]
            for i in range(len(spans)):
                for j in range(i + 1, len(spans)):
                    b1, e1, s1 = spans[i]
                    b2, e2, s2 = spans[j]
                    marked = _mark_tokens(toks, b1, e1, b2, e2)
                    pred = sm.classify_relation(marked)
                    if pred != 0:
                        golden.add((s1, RELATION_NAMES[pred], s2))
    sents = extract_sentences(pages, url_partitions=4)
    rules = rule_sentences(sents)
    marr = extract_mentions(rules, explode=False)
    got = {(r["subj"], r["pred"], r["obj"]) for r in extract_triples_from_arrays(marr).collect()}
    assert golden, "golden set must be non-empty"
    precision = len(got & golden) / len(got)
    recall = len(got & golden) / len(golden)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)


def test_fused_triples_equal_python_reference(spark):
    """The fused relation operator emits exactly the triples of the
    relation layer written out in plain Python (``_mark_tokens`` +
    ``classify_relation`` per pair) over the same mention arrays."""
    pages = synthetic_pages(spark, 15, seed=5)
    sents = extract_sentences(pages, url_partitions=4).persist()
    marr = extract_mentions(sents, explode=False).persist()
    fused = sorted(tuple(r) for r in extract_triples_from_arrays(marr).collect())
    assert fused and fused == _reference_triples(marr.collect())


def test_full_extract_stage_partitioning_invariance(spark):
    """END-TO-END flagship invariance: the full extract chain (sentences
    -> mentions -> fused pairs+relations -> triples) must emit identical
    triples at url_partitions=2 and =16 — no stage may leak partition
    layout into content (the sentence-level test pins only stage 1)."""
    from coap_rfc_knowledge_graph_spark.plans.pipeline import extract_stage
    from coap_rfc_knowledge_graph_spark.sources.pages import synthetic_pages

    pages = synthetic_pages(spark, 30, seed=23)
    key = ["url", "sent_id", "subj", "pred", "obj"]
    a = extract_stage(pages, url_partitions=2).triples.orderBy(*key).collect()
    b = extract_stage(pages, url_partitions=16).triples.orderBy(*key).collect()
    assert a == b and len(a) > 0


def _check_every_pair(toks, spans):
    """``_marked_pairs`` over ``spans`` equals ``_mark_tokens`` on every
    C(n,2) pair, in order."""
    want = [
        _mark_tokens(toks, b1, e1, b2, e2)
        for i, (b1, e1) in enumerate(spans)
        for b2, e2 in spans[i + 1 :]
    ]
    assert list(_marked_pairs(toks, spans)) == want, (toks, spans)


def test_fast_marker_byte_identical_to_reference_inserts():
    """The per-span marker table is byte-identical to ``_mark_tokens``
    (the reference's list.insert sequence, src/relation_extractor.py:25-39)
    on every pair of every span set: canonical layouts through the table,
    and overlapping spans, spans touching [CLS]/[SEP] and padded token
    lists through the fallback."""
    import random

    rng = random.Random(7)
    vocab = [
        "The", "server", "MUST", "send", "a", "response", ",", ".", "(",
        ")", "CoAP", "token-ID", "3.2", "'", "-", "{", "}", "%", "$", "#",
        '"', "option:", "client's", "[bracket]", "co-located",
    ]
    for _ in range(800):
        nw = rng.randint(1, 30)
        toks = [tk.CLS] + [rng.choice(vocab) for _ in range(nw)] + [tk.SEP]
        # disjoint spans over the words, sorted as the fan-out sorts them
        spans, pos = [], 1
        while pos <= nw:
            pos += rng.randint(0, 2)
            if pos > nw:
                break
            end = min(nw, pos + rng.randint(0, 3))
            spans.append((pos, end))
            pos = end + 1
        if rng.random() < 0.2:  # an overlapping or special-touching span
            b = rng.randint(0, nw + 1)
            spans.append((b, min(nw + 1, b + rng.randint(0, 2))))
        _check_every_pair(toks, sorted(spans))

    words = ["a", "b", "c", "d", "e", "f"]
    toks = [tk.CLS] + words + [tk.SEP]
    # adjacent spans (empty middle), the first and the last word
    _check_every_pair(toks, [(1, 1), (2, 2), (3, 4), (5, 5), (6, 6)])
    _check_every_pair(toks, [(1, 3), (4, 6)])
    # opener and closer punctuation on both sides of each marker
    for p in ["(", ")", '"', "'", "-", "."]:
        for q in ["(", ")", '"', "'", "-", "."]:
            toks = [tk.CLS, p, "x", q, p, "y", q, "z", p, tk.SEP]
            _check_every_pair(toks, [(1, 1), (2, 2), (3, 3), (4, 4), (5, 6), (8, 8)])
            _check_every_pair(toks, [(2, 2), (4, 5), (7, 8)])
            _check_every_pair(toks, [(1, 2), (3, 4), (6, 8)])
    # non-canonical layouts fall back to the reference arithmetic
    toks = [tk.CLS, "a", "b", "c", "d", tk.SEP]
    _check_every_pair(toks, [(1, 3), (2, 4)])  # overlapping
    _check_every_pair(toks, [(0, 1), (2, 2), (3, 5)])  # touching [CLS] / [SEP]
    _check_every_pair(toks + [tk.PAD], [(1, 1), (2, 2)])  # padded
