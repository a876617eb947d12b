"""Property tests for the round-4 curation operators, checked against
pure-Python references. Spark jobs are slow per example, so
max_examples stays small — the generators are chosen so even a handful
of draws cover the interesting structure (dup collisions, empty docs,
skewed weights)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from coap_rfc_knowledge_graph_spark.operators.dedup import paragraph_dedup
from coap_rfc_knowledge_graph_spark.operators.retrieval import lexical_topk
from coap_rfc_knowledge_graph_spark.operators.sampling import hash_split

# tiny alphabet -> frequent cross-document paragraph collisions
_para = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
_doc = st.lists(_para, min_size=1, max_size=5)
_corpus = st.lists(_doc, min_size=1, max_size=6)

_slow = settings(
    max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)


@given(_corpus)
@_slow
def test_paragraph_dedup_matches_python_reference(spark, corpus):
    rows = [
        (doc_id, para_id, p)
        for doc_id, doc in enumerate(corpus)
        for para_id, p in enumerate(doc)
    ]
    paras = spark.createDataFrame(rows, "doc_id long, para_id long, paragraph string")
    got = {r.doc_id: r for r in paragraph_dedup(paras).collect()}

    seen: set[str] = set()
    kept_ref: dict[int, list[str]] = {}
    for doc_id, para_id, p in sorted(rows):  # global (doc, pos) order = first occurrence
        if p not in seen:
            seen.add(p)
            kept_ref.setdefault(doc_id, []).append(p)
    # docs keeping nothing are absent; the rest match the reference exactly
    assert set(got) == set(kept_ref)
    for doc_id, plist in kept_ref.items():
        r = got[doc_id]
        assert r.text_kept == " ".join(plist)
        assert r.n_kept == len(plist)
        assert r.n_paras == len(corpus[doc_id])
    # global invariant: total kept == distinct paragraph contents
    assert sum(r.n_kept for r in got.values()) == len(seen)


@given(
    st.lists(st.integers(min_value=1, max_value=9), min_size=2, max_size=4),
    st.integers(min_value=1, max_value=50),
)
@_slow
def test_hash_split_partitions_exactly(spark, weights, n):
    labels = tuple(f"s{i}" for i in range(len(weights)))
    docs = spark.createDataFrame([(i, "t") for i in range(n)], "doc_id long, text string")
    out = hash_split(docs, weights=tuple(weights), labels=labels).collect()
    assert len(out) == n  # every row assigned exactly once
    assert {r.split for r in out} <= set(labels)


@given(
    st.lists(st.lists(st.sampled_from("abcde"), min_size=1, max_size=6), min_size=1, max_size=6)
)
@_slow
def test_lexical_topk_matches_python_reference(spark, docs_tokens):
    corpus_rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    qtext = " ".join(docs_tokens[0])
    queries = spark.createDataFrame([(100, qtext)], "query_id long, text string")
    got = sorted(
        ((r.rank, r.doc_id, r.score) for r in lexical_topk(corpus, queries, k=3).collect())
    )

    # pure-python reference of the integer tf-idf
    from collections import Counter

    tf = {i: Counter(toks) for i, toks in enumerate(docs_tokens)}
    df = Counter()
    for toks in docs_tokens:
        for t in set(toks):
            df[t] += 1
    qterms = set(docs_tokens[0])
    scores = {
        i: sum(tf[i][t] * (1_000_000 // df[t]) for t in qterms if t in tf[i])
        for i in tf
        if any(t in tf[i] for t in qterms)
    }
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    exp = sorted((rank + 1, doc, score) for rank, (doc, score) in enumerate(ranked))
    assert got == exp


@given(_corpus)
@_slow
def test_dedup_lines_in_doc_matches_python_reference(spark, corpus):
    from coap_rfc_knowledge_graph_spark.operators.dedup import dedup_lines_in_doc

    rows = [
        (doc_id, para_id, p)
        for doc_id, doc in enumerate(corpus)
        for para_id, p in enumerate(doc)
    ]
    paras = spark.createDataFrame(rows, "doc_id long, para_id long, paragraph string")
    got = {r.doc_id: r for r in dedup_lines_in_doc(paras).collect()}
    for doc_id, doc in enumerate(corpus):
        kept_ref, seen = [], set()
        for p in doc:  # first occurrence WITHIN the doc only
            if p not in seen:
                seen.add(p)
                kept_ref.append(p)
        r = got[doc_id]
        assert r.text_kept == " ".join(kept_ref)
        assert (r.n_lines, r.n_kept) == (len(doc), len(kept_ref))


@given(
    st.lists(st.integers(min_value=0, max_value=9), min_size=1, max_size=40),
    st.integers(min_value=1, max_value=8),
    st.sampled_from([1, 3, 16]),
)
@_slow
def test_two_level_topk_equals_naive_sort(spark, vals, k, parts):
    """The shared two-level top-k must equal collect-and-sort exactly,
    ties included, under any partitioning."""
    from pyspark.sql import functions as F

    from coap_rfc_knowledge_graph_spark.functions.ranking import two_level_topk_per_key

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v long").repartition(parts)
    got = sorted(
        map(tuple, two_level_topk_per_key(df, [], [F.desc("v"), F.asc("id")], k).collect())
    )
    want = sorted(sorted(rows, key=lambda r: (-r[1], r[0]))[:k])
    assert got == want
