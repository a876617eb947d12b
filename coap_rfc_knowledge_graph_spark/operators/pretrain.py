"""M11 (data-prep scope): BERT pretraining example generation — NSP
sentence pairs + MLM token masking — as pure Catalyst operators.

Reference semantics (``src/pretrain_iot_BERT.py:23-43``): for each
corpus sentence, 50% chance the pair partner is the next sentence
(label 1) else a uniformly random corpus sentence (label 0); then 15%
of the pair's tokens are masked to [MASK], excluding [CLS]/[SEP]/[PAD].
The train loop itself (``:57-207``) is offline model prep and stays out
of scope; what the Spark engine owns is the DATA pipeline that
manufactures the examples — at 10^12 documents that generation is the
expensive part.

Scale + determinism design:
- "next sentence" is ``lead()`` over a per-document window (partitioned
  by doc_id — no global sort). The reference indexes a single global
  list, so its "next" can cross document boundaries; per-document is
  the scale-correct re-expression (documented divergence).
- the random draws are multiplicative-congruential arithmetic on
  (doc_id, sent_id) — NOT rand()/xxhash64 — so results are identical
  under any partitioning AND reproducible by the DuckDB oracle (the
  driver hash-verifies both operators end to end).
- the random partner is an equi-join on a synthetic 0-based corpus rank
  (distributed ``zip_with_rank``, no single-task sort) — shuffle on the
  rank key only.
- MLM masking is a ``transform(tokens, (t, i) -> ...)`` over the token
  array: per-position congruential draw < 15%, specials exempt. No
  Python worker anywhere in either operator; the real wordpiece
  tokenizer is the documented swap point (it would be one load-once
  ``functions.rows.model_udf``, like every model stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.ranking import zip_with_cumsum, zip_with_rank

_MOD = 2147483647  # 2^31 - 1 (Park-Miller modulus)
_MULT = 48271

CLS, SEP, MASK = "[CLS]", "[SEP]", "[MASK]"


SENT_WORDS = 16


def split_sentences_native(docs: DataFrame, words: int = SENT_WORDS) -> DataFrame:
    """documents(doc_id, text) -> sentences(doc_id, sent_id, sentence):
    fixed ``words``-word windows of the whitespace token stream — the
    segment unit BERT-style pretraining actually packs (and the only
    sentence notion that exists for the punctuation-free synthetic web
    text). Pure Catalyst (split + sequence + slice + posexplode) and
    reproducible verbatim in the DuckDB oracle; the full P1-P7
    extraction path feeds the KG pipeline instead."""
    toks = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(words))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks, i * words + 1, words), " "),
    )
    return (
        docs.select("doc_id", F.posexplode(chunks).alias("sent_id", "sentence"))
        .filter(F.col("sentence") != "")
        .select("doc_id", F.col("sent_id").cast("long").alias("sent_id"), "sentence")
    )


def _draw(doc_id, sent_id):
    """Park-Miller-style congruential draw on the (doc_id, sent_id) key:
    deterministic, partitioning-independent, and expressible verbatim in
    ANSI SQL (the DuckDB oracle runs the same arithmetic). All
    intermediates stay far below 2^63 (ANSI-mode overflow is an error)."""
    d = F.pmod(doc_id, F.lit(1048576))
    s = F.pmod(sent_id, F.lit(1048576))
    h = d * F.lit(1048573) + s
    return F.pmod(h * F.lit(_MULT), F.lit(_MOD))


def _draw_partner(doc_id, sent_id):
    """Second, independent congruential draw for the random-partner rank.
    The label gate uses ``_draw``; deriving partner_idx from the SAME h
    couples them: when gcd(n, 100) > 1 (a corpus size divisible by 100,
    say) negative partners could only come from ranks with
    rank % 100 >= 50 — half the corpus was never sampled as a negative
    (ADVICE r3, medium). Different multipliers + an offset decorrelate
    the two draws; intermediates stay < 2^57 (d*524287 < 2^39, *48271
    < 2^56) so ANSI-mode arithmetic never overflows."""
    d = F.pmod(doc_id, F.lit(1048576))
    s = F.pmod(sent_id, F.lit(1048576))
    h = d * F.lit(524287) + s * F.lit(131071) + F.lit(11)
    return F.pmod(h * F.lit(_MULT), F.lit(_MOD))


def nsp_pairs(docs: DataFrame) -> DataFrame:
    """documents -> NSP pairs(doc_id, sent_id, sent_a, sent_b, is_next).

    is_next = 1: partner is the document's next sentence (50% of
    draws; rows where no next sentence exists are dropped, as the
    reference drops the corpus-final index). is_next = 0: partner is
    the corpus sentence at a pseudo-random global rank — an equi-join
    on the rank (broadcast-or-shuffle hash join on a dense int key; the
    partner side is the whole corpus, so this scales as a plain
    repartition join, never a cross join)."""
    sents = split_sentences_native(docs)
    ranked = zip_with_rank(sents, ["doc_id", "sent_id"])
    n = ranked.count()

    w = Window.partitionBy("doc_id").orderBy("sent_id")
    drawn = (
        ranked.withColumn("next_sentence", F.lead("sentence").over(w))
        .withColumn("h", _draw(F.col("doc_id"), F.col("sent_id")))
        .withColumn("is_next", (F.pmod(F.col("h"), F.lit(100)) < 50).cast("int"))
        .withColumn("partner_idx", F.pmod(_draw_partner(F.col("doc_id"), F.col("sent_id")), F.lit(n)))
    )
    partners = ranked.select(F.col("idx").alias("partner_idx"), F.col("sentence").alias("random_sentence"))
    joined = drawn.join(partners, on="partner_idx")
    return (
        joined.withColumn(
            "sent_b",
            F.when(F.col("is_next") == 1, F.col("next_sentence")).otherwise(F.col("random_sentence")),
        )
        .filter(F.col("sent_b").isNotNull())
        .select("doc_id", "sent_id", F.col("sentence").alias("sent_a"), "sent_b", "is_next")
    )


def mlm_examples(docs: DataFrame) -> DataFrame:
    """NSP pairs -> masked-LM examples(doc_id, sent_id, is_next,
    masked_text, n_masked): tokens = [CLS] a [SEP] b [SEP] (whitespace
    tokens — the wordpiece tokenizer is the model-stage swap point),
    each position masked when its congruential draw < 15%, specials
    exempt (reference masks ids != 101/102/0). The masking is one
    ``transform`` lambda over the token array — whole-stage codegen,
    no shuffle beyond nsp_pairs' own."""
    pairs = nsp_pairs(docs)
    toks = F.concat(
        F.array(F.lit(CLS)),
        F.split(F.col("sent_a"), " "),
        F.array(F.lit(SEP)),
        F.split(F.col("sent_b"), " "),
        F.array(F.lit(SEP)),
    )
    d = F.pmod(F.col("doc_id"), F.lit(1048576))
    s = F.pmod(F.col("sent_id"), F.lit(1048576))

    def mask_one(t, i):
        draw = F.pmod(
            F.pmod(d * F.lit(131071) + s * F.lit(8191) + i * F.lit(524287), F.lit(_MOD)),
            F.lit(10000),
        )
        return F.when(t.isin(CLS, SEP), t).when(draw < 1500, F.lit(MASK)).otherwise(t)

    masked = F.transform(toks, mask_one)
    return pairs.select(
        "doc_id",
        "sent_id",
        "is_next",
        F.array_join(masked, " ").alias("masked_text"),
        F.size(F.filter(masked, lambda t: t == F.lit(MASK))).alias("n_masked"),
    )


def pack_sequences(docs: DataFrame, context_len: int = 128) -> DataFrame:
    """Concat-and-chunk sequence packing — the assignment map that GPT-
    style pretraining uses to cut the concatenated corpus token stream
    into fixed ``context_len`` windows (each document contributes a
    slice to every window it straddles; no padding between documents).

    Output: (window_id, doc_id, slice_start, slice_len, win_offset) —
    for each (document, window) incidence, ``slice_start`` is the
    0-based token offset of the slice inside the DOCUMENT,
    ``win_offset`` its offset inside the WINDOW. Token gathering happens
    at read time from this map; the map itself is the shuffle-heavy part
    at 10^12 documents.

    Scale shape: one distributed exclusive prefix sum over doc_id order
    (two-stage ``zip_with_cumsum`` — parallel windows + broadcast
    offsets, no single-task sort), then a per-document fan-out of
    ceil(n/L)+1 rows via sequence+explode. Pure Catalyst; the DuckDB
    oracle (driver entry ``pack_sequences``) reproduces every value.
    """
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.when(F.trim(F.col("text")) == "", 0).otherwise(F.size(toks))
    counted = docs.select("doc_id", n.cast("long").alias("n_tokens")).filter(
        F.col("n_tokens") > 0
    )
    started = zip_with_cumsum(counted, ["doc_id"], "n_tokens", out_col="start")
    L = F.lit(context_len)
    w0 = F.floor(F.col("start") / L)
    w1 = F.floor((F.col("start") + F.col("n_tokens") - 1) / L)
    fan = started.select(
        "doc_id",
        "n_tokens",
        "start",
        F.explode(F.sequence(w0, w1)).alias("window_id"),
    )
    slice_start = F.greatest(F.lit(0), F.col("window_id") * L - F.col("start"))
    slice_end = F.least(F.col("n_tokens"), (F.col("window_id") + 1) * L - F.col("start"))
    win_offset = F.greatest(F.lit(0), F.col("start") - F.col("window_id") * L)
    return fan.select(
        "window_id",
        "doc_id",
        slice_start.cast("long").alias("slice_start"),
        (slice_end - slice_start).cast("long").alias("slice_len"),
        win_offset.cast("long").alias("win_offset"),
    )


def assign_shards(packed: DataFrame, windows_per_shard: int = 1024) -> DataFrame:
    """Add ``shard``: the training-output file each packed window lands
    in — shard = window_id DIV windows_per_shard (integer division, so
    every shard except the last holds exactly ``windows_per_shard``
    windows = windows_per_shard * context_len tokens). Dense window ids
    from :func:`pack_sequences` make the shards size-balanced by
    construction — no sampling, no skew. Pure projection."""
    return packed.withColumn(
        "shard", F.expr(f"window_id DIV {int(windows_per_shard)}")
    )


def shard_counts(packed: DataFrame, windows_per_shard: int = 1024) -> DataFrame:
    """Per-shard manifest (shard, n_windows, n_slices, n_tokens) — the
    writer's size audit: every shard but the last must hold the same
    window count, and n_tokens = sum of slice lengths is the exact
    token payload. One hash aggregate; driver hash-verified."""
    return (
        assign_shards(packed, windows_per_shard)
        .groupBy("shard")
        .agg(
            F.countDistinct("window_id").alias("n_windows"),
            F.count(F.lit(1)).alias("n_slices"),
            F.sum("slice_len").alias("n_tokens"),
        )
    )
