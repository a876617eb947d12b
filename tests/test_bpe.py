"""BPE tokenizer-training prep: the learner must exactly equal an
independent naive implementation (full pair recount every iteration —
different algorithm, same definition), and the Spark passes must be
partitioning-invariant."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from coap_rfc_knowledge_graph_spark.operators.bpe import (  # noqa: E402
    END,
    bpe_merges,
    learn_bpe,
    top_words,
    word_counts,
)


def naive_bpe(word_cnt, n_merges):
    """Textbook learner (Sennrich et al. fig. 1 shape): recount ALL
    pairs from scratch each iteration. O(V * merges) — test-only."""
    vocab = {tuple(w) + (END,): int(c) for w, c in word_cnt}
    merges = []
    for _ in range(n_merges):
        pairs: dict = {}
        for sym, c in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (left, right), c = best
        merges.append((left, right, c))
        new_vocab = {}
        for sym, cnt in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i < len(sym) - 1 and sym[i] == left and sym[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + cnt
        vocab = new_vocab
    return merges


WORDS = [
    ("low", 5), ("lower", 2), ("newest", 6), ("widest", 3),
    ("the", 50), ("then", 7), ("there", 4), ("newer", 3),
    ("CoAP", 9), ("Co", 2), ("co-located", 1), ("a", 30),
]


def test_learn_bpe_equals_naive_reference():
    for n in (1, 5, 20, 200):
        assert learn_bpe(list(WORDS), n) == naive_bpe(list(WORDS), n)


def test_learn_bpe_equals_naive_on_random_dicts():
    import random

    rng = random.Random(13)
    alpha = "abcdef"
    for _ in range(20):
        wc = [
            ("".join(rng.choice(alpha) for _ in range(rng.randint(1, 8))), rng.randint(1, 40))
            for _ in range(rng.randint(2, 60))
        ]
        # dedupe words (dict semantics)
        seen = {}
        for w, c in wc:
            seen[w] = seen.get(w, 0) + c
        wc = sorted(seen.items(), key=lambda t: (-t[1], t[0]))
        n = rng.randint(1, 30)
        assert learn_bpe(list(wc), n) == naive_bpe(list(wc), n)


def test_learn_bpe_exhausts_gracefully():
    # a single 2-char word has exactly 2 mergeable pairs ('a','b'), then
    # ('ab', END) — after that the loop must stop early, not crash
    got = learn_bpe([("ab", 3)], 10)
    assert got == [(("a"), ("b"), 3), ("ab", END, 3)]


def test_word_counts_and_top_words(spark):
    docs = spark.createDataFrame(
        [(0, "a b  a\tc"), (1, "b a\nb"), (2, "")],
        "doc_id long, text string",
    )
    wc = {r["word"]: r["cnt"] for r in word_counts(docs).collect()}
    assert wc == {"a": 3, "b": 3, "c": 1}
    top = [(r["word"], r["cnt"]) for r in top_words(docs, 2).collect()]
    assert top == [("a", 3), ("b", 3)]  # tie -> lexicographic
    top1 = [(r["word"], r["cnt"]) for r in top_words(docs, 2, min_count=2).collect()]
    assert top1 == [("a", 3), ("b", 3)]


def test_bpe_merges_partitioning_invariant(spark):
    rows = [(i, f"abc abd bcd bc{'x' * (i % 3)}") for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = [tuple(r) for r in bpe_merges(docs.repartition(2), n_merges=12, min_count=1).orderBy("rank").collect()]
    b = [tuple(r) for r in bpe_merges(docs.repartition(13), n_merges=12, min_count=1).orderBy("rank").collect()]
    assert a == b and len(a) > 0
    # and equals the naive learner over the exact word counts
    wc = sorted(
        ((r["word"], r["cnt"]) for r in word_counts(docs).collect()),
        key=lambda t: (-t[1], t[0]),
    )
    assert [(l, r, c) for _, l, r, c in a] == naive_bpe(wc, 12)
