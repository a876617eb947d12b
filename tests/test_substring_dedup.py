"""Exact-substring dedup via content-defined chunking: chunk tiling,
alignment independence (the property fixed-stride windows lack),
span merging, removal semantics, and partitioning invariance."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from coap_rfc_knowledge_graph_spark.operators.substring_dedup import (  # noqa: E402
    doc_chunks,
    duplicate_spans,
    remove_duplicate_spans,
)

# a 60-token run shared verbatim by two docs at DIFFERENT offsets
SHARED = [f"dup{i}" for i in range(60)]
PREFIX_A = [f"ua{i}" for i in range(7)]
SUFFIX_A = [f"va{i}" for i in range(11)]
PREFIX_B = [f"ub{i}" for i in range(13)]
DOC_C = [f"uc{i}" for i in range(70)]  # fully unique


def _docs(spark):
    rows = [
        (0, " ".join(PREFIX_A + SHARED + SUFFIX_A)),
        (1, " ".join(PREFIX_B + SHARED)),
        (2, " ".join(DOC_C)),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunks_tile_documents(spark):
    docs = _docs(spark)
    rows = doc_chunks(docs, p=4).orderBy("doc_id", "start").collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, chunks in by_doc.items():
        assert chunks[0]["start"] == 0
        for a, b in zip(chunks, chunks[1:]):
            assert a["end"] == b["start"]  # exact tiling, no gaps/overlap
        n_tokens = {0: 78, 1: 73, 2: 70}[doc_id]
        assert chunks[-1]["end"] == n_tokens


def _ref_spans(doc_tokens: dict, p: int, min_span: int) -> dict:
    """Independent pure-Python reference of the whole CDC pipeline:
    anchor rule -> chunk tiling -> global hash counts -> island merge
    -> min_span gate. Returns {doc_id: [(span_start, span_end), ...]}."""
    import hashlib
    from collections import Counter

    def anchor(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % p == 0

    def chunks(toks):
        out, start = [], 0
        for i in range(1, len(toks)):
            if anchor(toks[i]):
                out.append((start, i))
                start = i
        out.append((start, len(toks)))
        return out

    per_doc = {d: chunks(t) for d, t in doc_tokens.items()}
    counts = Counter(
        " ".join(doc_tokens[d][s:e]) for d, cs in per_doc.items() for s, e in cs
    )
    spans = {}
    for d, cs in per_doc.items():
        dup = sorted((s, e) for s, e in cs if counts[" ".join(doc_tokens[d][s:e])] > 1)
        merged = []
        for s, e in dup:
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        keep = [(s, e) for s, e in merged if e - s >= min_span]
        if keep:
            spans[d] = keep
    return spans


def test_spans_found_despite_different_offsets(spark):
    """Offsets 7 and 13 differ mod any stride — the content-defined
    boundaries must still line the copies up; the result must equal the
    pure-Python reference exactly."""
    docs = _docs(spark)
    got: dict[int, list] = {}
    for r in duplicate_spans(docs, p=4, min_span=20).collect():
        got.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    want = _ref_spans(
        {0: PREFIX_A + SHARED + SUFFIX_A, 1: PREFIX_B + SHARED, 2: DOC_C}, p=4, min_span=20
    )
    assert {d: sorted(s) for d, s in got.items()} == want
    assert set(want) == {0, 1}  # both copies flagged, unique doc clean
    for d, off in [(0, 7), (1, 13)]:
        (s, e), = want[d]
        assert off <= s <= off + 12 and off + 48 <= e <= off + 60  # inside the run


def test_remove_spans_and_invariance(spark):
    docs = _docs(spark)
    out = {r["doc_id"]: r for r in remove_duplicate_spans(docs, p=4, min_span=20).collect()}
    assert out[2]["text_kept"] == " ".join(DOC_C) and out[2]["n_removed"] == 0
    want = _ref_spans(
        {0: PREFIX_A + SHARED + SUFFIX_A, 1: PREFIX_B + SHARED, 2: DOC_C}, p=4, min_span=20
    )
    for doc_id in (0, 1):
        removed = sum(e - s for s, e in want[doc_id])
        kept = out[doc_id]["text_kept"].split()
        assert out[doc_id]["n_removed"] == removed
        assert removed >= 40  # the bulk of the 60-token run is gone
        assert sum(t.startswith("dup") for t in kept) <= 60 - removed + 2
    # unique affixes always survive
    assert all(t in out[0]["text_kept"].split() for t in PREFIX_A + SUFFIX_A)
    assert all(t in out[1]["text_kept"].split() for t in PREFIX_B)
    again = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(docs.repartition(7), p=4, min_span=20).collect()
    }
    assert {k: tuple(v) for k, v in out.items()} == {k: tuple(v) for k, v in again.items()}


def test_identical_docs_fully_removed(spark):
    """Whole-doc duplication: every chunk repeats, one island spans the
    doc, min_span met -> all tokens excised (no min-chunk hole
    punching)."""
    text = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame([(0, text), (1, text)], "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_duplicate_spans(docs, p=4, min_span=30).collect()}
    assert out[0]["text_kept"] == "" and out[0]["n_removed"] == 40
    assert out[1]["text_kept"] == "" and out[1]["n_removed"] == 40


def test_short_duplicates_escape_by_design(spark):
    """Runs shorter than min_span survive — the documented knob."""
    shared = " ".join(f"s{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(0, f"x0 x1 {shared} x2"), (1, f"y0 {shared} y1 y2 y3")],
        "doc_id long, text string",
    )
    out = remove_duplicate_spans(docs, p=4, min_span=20)
    assert out.agg(F.sum("n_removed")).collect()[0][0] == 0


def test_within_doc_repetition_counts(spark):
    """The same run twice INSIDE one doc is a duplicate too (suffix-
    array semantics), even with no other doc involved."""
    run = [f"r{i}" for i in range(30)]
    docs = spark.createDataFrame(
        [(0, " ".join(run + ["mid0", "mid1"] + run))], "doc_id long, text string"
    )
    spans = duplicate_spans(docs, p=4, min_span=15).collect()
    assert len(spans) >= 1
    total = sum(r["span_end"] - r["span_start"] for r in spans)
    assert total >= 30  # both copies' interiors flagged


def test_fuzz_against_reference(spark):
    """Seeded random corpora with planted shared runs: the distributed
    CDC pipeline must equal the pure-Python reference exactly, doc for
    doc, across sizes, vocabularies and p."""
    import random

    rng = random.Random(4242)
    vocab = [f"w{i}" for i in range(60)]  # small vocab -> chunk collisions happen
    docs = {}
    runs = [[rng.choice(vocab) for _ in range(rng.randint(25, 70))] for _ in range(4)]
    for d in range(40):
        toks = [rng.choice(vocab) for _ in range(rng.randint(0, 30))]
        for _ in range(rng.randint(0, 2)):  # plant 0-2 shared runs
            toks += rng.choice(runs) + [rng.choice(vocab) for _ in range(rng.randint(0, 20))]
        docs[d] = toks
    sdf = spark.createDataFrame(
        [(d, " ".join(t)) for d, t in docs.items() if t], "doc_id long, text string"
    )
    for p, min_span in [(4, 20), (8, 15)]:
        got: dict[int, list] = {}
        for r in duplicate_spans(sdf, p=p, min_span=min_span).collect():
            got.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
        want = _ref_spans({d: t for d, t in docs.items() if t}, p=p, min_span=min_span)
        assert {d: sorted(s) for d, s in got.items()} == want, (p, min_span)


def test_job_substring_dedup_prepass(spark):
    """--substring-dedup MIN_SPAN wired through _apply_prepasses: the
    duplicated run vanishes from both pages, unique text survives, and
    non-text columns pass through."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")
    )
    import run_pipeline

    shared = [f"d{i}" for i in range(150)]  # long enough for p=16 anchors
    toks = {
        "u0": ["alpha", "beta"] + shared,
        "u1": shared + ["gamma", "delta"],
        "u2": ["just", "unique", "words", "here"],
    }
    rows = [(u, None, " ".join(t), "en") for u, t in toks.items()]
    pages = spark.createDataFrame(rows, "url string, html binary, text string, lang string")
    args = run_pipeline.parse_args(["--pages", "-", "--out", "-", "--substring-dedup", "20"])
    out = {r.url: r for r in run_pipeline._apply_prepasses(spark, args, pages).collect()}
    # expected output from the pure-Python reference at the job's
    # defaults (p=16, min_span from the flag)
    want_spans = _ref_spans(toks, p=16, min_span=20)
    for u, t in toks.items():
        drop = set()
        for s, e in want_spans.get(u, []):
            drop.update(range(s, e))
        expected = " ".join(tok for i, tok in enumerate(t) if i not in drop)
        assert out[u].text == expected, u
    assert out["u2"].text == "just unique words here"
    assert want_spans.get("u0") and want_spans.get("u1")  # dedup actually fired
    assert "alpha" in out["u0"].text and "gamma" in out["u1"].text
    assert out["u0"].lang == "en"  # passthrough columns intact
