"""Tokenizer-training data prep: BPE merge learning over a corpus.

The reference pipeline consumes pretrained BERT/GPT tokenizers; a
training-data engine additionally needs to TRAIN one from the corpus it
curates. The classic BPE learner (Sennrich et al. 2016, public
``subword-nmt``) never iterates over the corpus: it iterates over the
WORD-COUNT DICTIONARY. That split is exactly the scale-correct Spark
shape:

- corpus pass (100 TB): ONE whitespace-split explode + hash aggregate
  -> (word, cnt). Nothing else ever touches the corpus.
- vocabulary cut: the word-count table is Zipf-heavy-tailed; a
  ``min_count`` filter plus a two-level top-V frequency cut (shared
  ``zip_with_rank``-style partial top-k, no global sort) bounds what
  leaves the cluster. At web scale BPE is standardly learned from a
  pruned/sampled dictionary — the cut IS the production configuration,
  not a shortcut.
- merge loop: pure Python over the collected bounded dictionary
  (driver-sized by construction, same justification class as
  ``linking.resolve_greedy``). Deterministic tie-break on
  (count desc, left, right) so results are partitioning- and
  platform-independent.

No reference-file citation: the reference repo has no tokenizer
training; this operator is part of the training-data-pipeline family
(brief: "operations a large-scale training-data pipeline would need").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

END = "</w>"  # classic end-of-word marker: merges never cross words


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt): the single corpus-scale pass. Whitespace
    pre-tokenization (``\\s+``), empties dropped, case preserved."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def top_words(docs: DataFrame, max_vocab: int, min_count: int = 1,
              text_col: str = "text") -> DataFrame:
    """Bounded word-count dictionary: min-count filter + exact top-V by
    (cnt desc, word asc) via a two-level partial top-k (per-partition
    slice then one bounded final sort over <= V * n_partitions rows —
    never a global sort of the full vocabulary)."""
    wc = word_counts(docs, text_col).filter(F.col("cnt") >= min_count)
    part = wc.withColumn("__p", F.spark_partition_id())
    w_local = F.expr(
        f"slice(array_sort(collect_list(struct(-cnt as nc, word, cnt))), 1, {int(max_vocab)})"
    )
    pooled = (
        part.groupBy("__p").agg(w_local.alias("top"))
        .select(F.explode("top").alias("s"))
        .select(F.col("s.word").alias("word"), F.col("s.cnt").alias("cnt"))
    )
    return (
        pooled.orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(int(max_vocab))
    )


def _merge_word(sym: tuple, left: str, right: str) -> tuple:
    out = []
    i, n = 0, len(sym)
    while i < n:
        if i < n - 1 and sym[i] == left and sym[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def learn_bpe(word_cnt: list[tuple[str, int]], n_merges: int) -> list[tuple[str, str, int]]:
    """Classic BPE merge loop over a (word, count) dictionary. Returns
    [(left, right, pair_count)] in merge order. Pure function so tests
    can diff it against an independent implementation. Incremental
    pair-count maintenance: each merge touches only the words containing
    the merged pair (indexed), not the whole dictionary."""
    words: list[tuple] = []
    counts: list[int] = []
    for w, c in word_cnt:
        words.append(tuple(w) + (END,))
        counts.append(int(c))

    pair_cnt: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}

    def add_word(idx: int, sign: int) -> None:
        sym, c = words[idx], counts[idx]
        for a, b in zip(sym, sym[1:]):
            p = (a, b)
            pair_cnt[p] = pair_cnt.get(p, 0) + sign * c
            if sign > 0:
                where.setdefault(p, set()).add(idx)
            # stale indexes from removals are tolerated: the merge pass
            # re-checks membership; counts are the ground truth

    for i in range(len(words)):
        add_word(i, +1)

    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        best = None
        for p, c in pair_cnt.items():
            if c <= 0:
                continue
            if best is None or c > best[1] or (c == best[1] and p < best[0]):
                best = (p, c)
        if best is None:
            break
        (left, right), c = best
        merges.append((left, right, c))
        for idx in list(where.get((left, right), ())):
            sym = words[idx]
            merged = _merge_word(sym, left, right)
            if merged == sym:
                continue
            add_word(idx, -1)
            words[idx] = merged
            add_word(idx, +1)
        pair_cnt.pop((left, right), None)
        where.pop((left, right), None)
    return merges


MERGES_SCHEMA = "rank INT, left STRING, right STRING, pair_count BIGINT"


def bpe_merges(docs: DataFrame, n_merges: int = 64, max_vocab: int = 50_000,
               min_count: int = 2, text_col: str = "text") -> DataFrame:
    """documents -> merges(rank, left, right, pair_count), the learned
    tokenizer. One corpus aggregate + bounded collect + pure-Python loop
    (see module docstring for why the collect is driver-sized)."""
    spark = docs.sparkSession
    wc = [
        (r["word"], r["cnt"])
        for r in top_words(docs, max_vocab, min_count, text_col).collect()
    ]
    # canonical order in = canonical merges out (collect order is
    # partition-dependent; the learner itself only depends on counts,
    # but sorting makes the input reproducible byte-for-byte)
    wc.sort(key=lambda t: (-t[1], t[0]))
    learned = learn_bpe(wc, n_merges)
    rows = [(i, l, r, c) for i, (l, r, c) in enumerate(learned)]
    return spark.createDataFrame(rows, MERGES_SCHEMA)
