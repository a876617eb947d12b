"""P9 + M8: pronoun detection and coreference resolution.

Reference semantics:
- pronoun finder (``src/corefernece_resolution.py:108, 148-163``): for
  each of 10 pronouns, a ``\\b``-bounded regex search including the
  capitalized form, emitting one row per occurrence with its 1-based
  occurrence number.
- QA resolution (``:238-243, 277-305``): context = the sentence plus its
  5 preceding document sentences; question "What does '<pronoun>' number
  <n> refer to?"; a BertForQuestionAnswering span predictor returns the
  antecedent text.

Spark shape: the pronoun fan-out is native (regexp_extract_all counts ->
sequence -> explode, codegen end-to-end); the context is the same window
frame as conditions.with_context; only the QA model itself is a pandas
UDF, one load-once ``functions.rows.model_udf`` whose ``model_loader``
defaults to the deterministic span stub (``stub_models.answer_coref``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import PRONOUNS
from ..functions import stub_models
from ..functions.rows import model_udf
from .conditions import with_context


def find_pronouns(sentences: DataFrame, pronouns: list[str] | None = None) -> DataFrame:
    """sentences -> pronoun_mentions(url, sent_id, sentence, pronoun,
    occurrence). One row per occurrence; capitalized forms count toward
    the same pronoun (reference searches both forms).

    Native: per-pronoun occurrence count via regexp_extract_all (the
    pronoun list is a static config -> a union of projections that
    Catalyst collapses into one pass), fan-out via sequence+explode."""
    pronouns = pronouns if pronouns is not None else PRONOUNS
    parts = []
    for p in pronouns:
        cap = p[0].upper() + p[1:]
        pat = r"\b(" + p + "|" + cap + r")\b"
        cnt = F.size(F.regexp_extract_all(F.col("sentence"), F.lit(pat), 1))
        # sequence(1, 0) would yield a DESCENDING [1, 0]; gate on cnt > 0
        occ = F.when(cnt > 0, F.sequence(F.lit(1), cnt)).otherwise(F.array().cast("array<int>"))
        parts.append(
            sentences.select(
                "url",
                "sent_id",
                "sentence",
                F.lit(p).alias("pronoun"),
                F.explode(occ).alias("occurrence"),
            )
        )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


def _stub_coref_loader():
    """Default model factory: the deterministic span stub, standing in
    for a BertForQuestionAnswering batch (start/end span argmax over the
    tokenized context). Returns an ``answer(rows) -> antecedent list``
    callable over (context, pronoun, occurrence) rows."""
    return stub_models.answer_coref_batch


def _hf_coref_loader():  # pragma: no cover - requires transformers+torch
    """Real-model factory for the M8 swap point: loads the fine-tuned
    ``BertForQuestionAnswering`` named by ``$SPARK_GRAFT_HF_QA_MODEL``
    ONCE per task; the question template and span argmax decode follow
    the reference (``src/corefernece_resolution.py:238-243, 302-305``)."""
    import os

    import torch
    from transformers import AutoModelForQuestionAnswering, AutoTokenizer

    name = os.environ["SPARK_GRAFT_HF_QA_MODEL"]
    tok = AutoTokenizer.from_pretrained(name)
    model = AutoModelForQuestionAnswering.from_pretrained(name)
    model.eval()

    def answer(rows):
        questions = [
            f"What does '{pronoun}' number {occurrence} refer to?"
            for _, pronoun, occurrence in rows
        ]
        contexts = [context for context, _, _ in rows]
        enc = tok(questions, contexts, return_tensors="pt", padding=True, truncation=True)
        with torch.no_grad():
            out = model(**enc)
        starts = out.start_logits.argmax(-1).tolist()
        ends = out.end_logits.argmax(-1).tolist()
        answers = []
        for i, (s, e) in enumerate(zip(starts, ends)):
            # no-span (end before start, or span inside the question /
            # special tokens) -> empty answer, dropped downstream
            span_ids = enc["input_ids"][i][s : e + 1] if e >= s else []
            text = tok.decode(span_ids, skip_special_tokens=True).strip() if e >= s else ""
            answers.append("" if "?" in text else text)
        return answers

    return answer


def _answer_rows(answer, context, pronoun, occurrence):
    return answer(list(zip(context, pronoun, (int(o) for o in occurrence))))


def resolve_coreferences(sentences: DataFrame, pronouns: list[str] | None = None,
                         model_loader=_stub_coref_loader) -> DataFrame:
    """sentences -> coref(url, sent_id, pronoun, occurrence, antecedent).

    Window context (5 preceding sentences) + QA UDF; rows whose model
    answer is empty are dropped (reference treats no-span as no answer).
    ``model_loader`` swaps in a real checkpoint factory
    (``_hf_coref_loader``)."""
    qa_udf = model_udf(T.StringType(), model_loader, _answer_rows, name="_coref_udf")
    found = find_pronouns(sentences, pronouns).drop("sentence")
    ctx = with_context(found, sentences)
    resolved = ctx.withColumn(
        "antecedent", qa_udf(F.col("context"), F.col("pronoun"), F.col("occurrence"))
    )
    return resolved.filter(F.col("antecedent") != "").select(
        "url", "sent_id", "pronoun", "occurrence", "antecedent"
    )


# --- native M8 analog (value-verifiable; see __spark_entry__.oracle_sql) ------

_NATIVE_STOP = [
    "must", "shall", "should", "required", "recommended", "optional",
    "that", "this", "with", "from", "when", "then", "them", "they", "there",
]


def native_coref(docs: DataFrame, pronoun: str = "the value", k: int = 5) -> DataFrame:
    """(doc_id, source, occurrence, antecedent): the value-verifiable
    native analog of the M8 coref chain over the synthetic ``documents``
    table — same Spark plumbing as the real path (per-source k-preceding
    context window, per-occurrence fan-out, prefix-of-occurrence scan,
    last-candidate select), with the QA span model replaced by a
    deterministic last-content-word rule so DuckDB reproduces every
    value. (The real path's capitalized-run stub is vacuous on the
    lowercase synthetic corpus — ``q_kg_coref`` runs it over seeded
    ``synthetic_pages`` instead; its content is pinned by table hash in
    tests/test_triples_native.py.) The default anaphor is the reference
    pronoun list's noun-phrase entry "the value"
    (``src/corefernece_resolution.py:108``) — the single-word pronouns
    never occur in the synthetic vocabulary.

    Antecedent rule: the last word of >=4 letters before the pronoun's
    n-th occurrence (within the windowed context) that is not a modal or
    function word. Rows with no candidate are dropped, mirroring the
    reference's no-span drop (``src/corefernece_resolution.py:302-305``).

    Scale shape: one source-partitioned window + narrow projections —
    the occurrence fan-out is sequence+explode, the prefix is a split
    -> slice -> re-join (no Python anywhere).
    """
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(-k, 0)
    ctx = docs.select(
        "doc_id", "source", F.concat_ws(" ", F.collect_list("text").over(w)).alias("context")
    )
    pat = r"\b" + pronoun + r"\b"
    cnt = F.size(F.regexp_extract_all(F.col("context"), F.lit("(" + pat + ")"), 1))
    occ = F.when(cnt > 0, F.sequence(F.lit(1), cnt)).otherwise(F.array().cast("array<int>"))
    fan = ctx.select("doc_id", "source", "context", F.explode(occ).alias("occurrence"))
    # text strictly before the n-th occurrence: split drops the
    # delimiters, so re-joining the first n pieces with the pronoun
    # reconstructs the prefix exactly (the n-th piece ends where the
    # n-th occurrence begins)
    parts = F.split(F.col("context"), pat)
    prefix = F.array_join(F.slice(parts, 1, F.col("occurrence")), pronoun)
    stop = F.array(*[F.lit(s) for s in _NATIVE_STOP])
    cands = F.filter(
        F.expr("regexp_extract_all(__prefix, '([a-z]{4,})', 1)"),
        lambda t: ~F.array_contains(stop, t),
    )
    return (
        fan.withColumn("__prefix", prefix)
        .withColumn("__c", cands)
        .filter(F.size("__c") > 0)
        .select(
            "doc_id",
            "source",
            "occurrence",
            F.element_at("__c", -1).alias("antecedent"),
        )
    )
