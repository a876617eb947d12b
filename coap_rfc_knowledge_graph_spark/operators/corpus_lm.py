"""Corpus language-model scoring — the CCNet-style quality signal a
web-text curation pipeline computes before training (Wenzek et al.,
"CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
Data": score each document under an LM trained on a trusted reference
corpus, keep the low-perplexity head). Here the LM is a bigram
count model trained distributively on a reference slice of the corpus
itself; the real KenLM checkpoint is a swap point with the identical
join shape.

Two scoring forms:
- :func:`lm_coverage` — EXACT integer evidence (total bigrams, bigrams
  known to the LM, summed LM counts of the known ones). Engine-exact,
  so the driver hash-verifies it against DuckDB; the coverage-ratio
  gate (:func:`lm_coverage_filter`) compares by integer cross-multiply.
- :func:`lm_logprob` — the real thing: add-alpha-smoothed mean bigram
  log-probability (float; deterministic given the LM but not
  cross-engine hashable — tested against a numpy reference instead).

Cross-engine caveat (found by the tokenization differential fuzz in
tests/test_curation_ops.py): Java's lower() applies Unicode
SpecialCasing to U+0130 ('İ' -> 'i' + combining dot) where DuckDB's
yields plain 'i' — the DuckDB oracles for every tokenizing operator
here are exact for text WITHOUT U+0130; Spark's Unicode-correct
behavior is the engine of record.

Scale shape (10^12 documents):
- training is one explode + one hash aggregate with map-side partial
  combine (shuffle carries one row per distinct bigram per map task).
- scoring joins the exploded corpus against the LM on the bigram key.
  A raw web LM is corpus-sized, so the default is a shuffle join; after
  :func:`prune_top_bigrams` (the standard top-M vocabulary cut) the LM
  is bounded and broadcast — the scoring pass then has NO shuffle of
  the corpus side at all (explode + broadcast-hash-join + re-aggregate
  on doc_id, which AQE keeps co-partitioned with the explode).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _tokens(text_col: str):
    from ..functions.tokens import tokens_expr

    return tokens_expr(text_col)


def doc_bigrams(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, bigram) — one row per bigram OCCURRENCE (space-joined
    adjacent lowercase tokens). Documents with fewer than two tokens
    contribute no rows. Pure codegen projection + explode."""
    toks = _tokens(text_col)
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", F.get(toks, i), F.get(toks, i + 1)),
        ),
    ).otherwise(F.array())
    return docs.select(F.col(id_col), F.explode(grams).alias("bigram"))


def train_bigram_lm(
    ref_docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(bigram, cnt): bigram occurrence counts over the reference
    corpus — one hash aggregate over the exploded bigrams."""
    return (
        doc_bigrams(ref_docs, id_col, text_col)
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def prune_top_bigrams(lm: DataFrame, top_m: int) -> DataFrame:
    """Top-M vocabulary cut (count desc, bigram asc tiebreak) — bounds
    the LM so scoring can broadcast it.

    Two-level selection (``ranking.two_level_topk_per_key`` with no
    key), NOT a global ``Window.orderBy``: a raw web bigram LM is
    corpus-sized (distinct bigrams grow with the crawl), so a global
    window would funnel the whole LM through one task. Same
    deterministic total order as the naive form, tie-breaks included."""
    from ..functions.ranking import two_level_topk_per_key

    return two_level_topk_per_key(lm, [], [F.desc("cnt"), F.asc("bigram")], top_m)


def lm_coverage(
    docs: DataFrame,
    lm: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_lm: bool = False,
) -> DataFrame:
    """Per-document LM-coverage evidence, all BIGINT (engine-exact):

    - total_bigrams:   bigram occurrences in the document
    - matched_bigrams: occurrences whose bigram the LM has seen
    - sum_match_count: sum of the LM's training counts over matches
      (high = the document's word transitions are common in the
      reference corpus — the integer analog of low perplexity)

    Documents with < 2 tokens emit no row (they have no transitions to
    score). Pass ``broadcast_lm=True`` after :func:`prune_top_bigrams`
    to eliminate the corpus-side shuffle."""
    grams = doc_bigrams(docs, id_col, text_col)
    side = F.broadcast(lm) if broadcast_lm else lm
    return (
        grams.join(side, "bigram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("total_bigrams"),
            F.count("cnt").alias("matched_bigrams"),
            F.sum(F.coalesce("cnt", F.lit(0))).alias("sum_match_count"),
        )
    )


def lm_coverage_filter(
    docs: DataFrame,
    lm: DataFrame,
    min_permille: int = 900,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_lm: bool = False,
) -> DataFrame:
    """CCNet-style keep gate on exact integers: keep documents where
    matched_bigrams * 1000 >= total_bigrams * min_permille (integer
    cross-multiply — no float ratio, no engine drift). Returns the kept
    documents' rows via a semi join on the id."""
    cov = lm_coverage(docs, lm, id_col, text_col, broadcast_lm)
    keep = cov.filter(
        F.col("matched_bigrams") * 1000 >= F.col("total_bigrams") * F.lit(min_permille)
    ).select(id_col)
    return docs.join(keep, id_col, "left_semi")


def lm_logprob(
    docs: DataFrame,
    ref_docs: DataFrame,
    alpha: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Mean add-alpha-smoothed bigram log-probability per document —
    the float CCNet score proper:

        logP(w2 | w1) = ln((c(w1 w2) + alpha) / (c(w1 .) + alpha * V))

    with c from the reference corpus, V its distinct-unigram count, and
    c(w1 .) the count of bigrams starting with w1. Unseen contexts fall
    back to ln(alpha / (alpha * V)) = -ln(V). Output: (id,
    total_bigrams, mean_logprob). Deterministic given the LM (the mean
    is a sum of per-occurrence doubles — stable to ~1e-12; not intended
    for cross-engine hashing, see :func:`lm_coverage` for that)."""
    lm = train_bigram_lm(ref_docs, id_col, text_col)
    ctx = (
        lm.withColumn("w1", F.split(F.col("bigram"), " ").getItem(0))
        .groupBy("w1")
        .agg(F.sum("cnt").alias("ctx_cnt"))
    )
    vocab_v = (
        doc_bigrams(ref_docs, id_col, text_col)
        .select(F.explode(F.split("bigram", " ")).alias("w"))
        .agg(F.countDistinct("w"))
        .collect()[0][0]
    ) or 1
    grams = doc_bigrams(docs, id_col, text_col).withColumn(
        "w1", F.split(F.col("bigram"), " ").getItem(0)
    )
    scored = (
        grams.join(lm, "bigram", "left")
        .join(ctx, "w1", "left")
        .withColumn(
            "lp",
            F.log(
                (F.coalesce("cnt", F.lit(0)) + F.lit(alpha))
                / (F.coalesce("ctx_cnt", F.lit(0)) + F.lit(alpha * vocab_v))
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("total_bigrams"),
        F.avg("lp").alias("mean_logprob"),
    )


def lm_logprob_reference(texts: list[str], ref_texts: list[str], alpha: float = 0.1):
    """Pure-Python oracle for :func:`lm_logprob` (pytest only)."""
    from collections import Counter

    def toks(s):
        return [t for t in s.lower().split() if t]

    big = Counter()
    uni = set()
    for s in ref_texts:
        ts = toks(s)
        uni.update(ts[: len(ts) - 1] + ts[1:] if len(ts) >= 2 else [])
        for a, b in zip(ts, ts[1:]):
            big[(a, b)] += 1
    ctx = Counter()
    for (a, _), c in big.items():
        ctx[a] += c
    v = max(len(uni), 1)
    out = []
    for s in texts:
        ts = toks(s)
        pairs = list(zip(ts, ts[1:]))
        if not pairs:
            out.append(None)
            continue
        lps = [
            math.log((big.get(p, 0) + alpha) / (ctx.get(p[0], 0) + alpha * v)) for p in pairs
        ]
        out.append(sum(lps) / len(lps))
    return out
