"""M8-M10: context windows, condition splitting, properties generation.

Reference semantics:
- context = the rule sentence plus its 5 preceding document sentences,
  joined with " " (``construct_context``,
  ``src/properties_extractor.py:74-78``; k=5 at ``:95-111``). The
  reference locates the sentence by ``list.index`` (first occurrence);
  we use the true ``sent_id`` — strictly more correct on duplicate
  sentences (documented divergence, FIXTURES.md §4).
- condition split (``src/condition_split.py:60-66`` prompt; consumption
  at ``src/properties_extractor.py:95-111``): each rule sentence becomes
  one "Entity rule" clause, or an "Antecedent rule" clause + a
  "Consequent rule" clause.
- properties generation (``src/properties_extractor.py:64-71``): per
  (context, clause) emit an ``entity @ behaviour = True|False;`` string.

Spark shape: the context is a **window frame** (rowsBetween(-5, 0) +
collect_list) over the url-partitioned sentences — one shuffle, reused
from the url partitioning upstream. Both generative models are load-once
``functions.rows.model_udf`` pandas UDFs over that frame, whose
``model_loader`` defaults to the deterministic stub; the split fan-out
is an explode of an array<struct> column.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import CONTEXT_WINDOW
from ..functions import stub_models
from ..functions.rows import model_udf

# --- M8 context construction --------------------------------------------------


def with_context(rule_sentences_df: DataFrame, sentences: DataFrame, k: int = CONTEXT_WINDOW) -> DataFrame:
    """Attach ``context`` (k preceding document sentences + the sentence
    itself, space-joined) to each rule sentence.

    The frame runs over ALL document sentences (reference indexes into
    the full document list), then inner-joins back to the rule subset on
    (url, sent_id) — both sides url-partitioned, equi-join.
    """
    w = Window.partitionBy("url").orderBy("sent_id").rowsBetween(-k, 0)
    ctx = sentences.withColumn("context", F.concat_ws(" ", F.collect_list("sentence").over(w)))
    return rule_sentences_df.join(ctx.select("url", "sent_id", "context"), on=["url", "sent_id"])


# --- M9 condition split -------------------------------------------------------

_SPLIT_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("condition", T.StringType()),  # Entity|Antecedent|Consequent rule
            T.StructField("clause", T.StringType()),
        ]
    )
)


def _stub_split_loader():
    """Default model factory: the deterministic condition splitter
    (stand-in for GPT-2 "Sentence: X\\nAntecedent:" batch generation).
    Returns ``split(sentences) -> [(condition, clause), ...] lists``."""
    return stub_models.split_condition_batch


_SPLIT_LINE_RE = re.compile(r"(Antecedent|Consequent)\s*:\s*([^;\n]+)[;.]?", re.IGNORECASE)


def _parse_split_generation(sentence: str, decoded: str) -> list[tuple[str, str]]:
    """Pure parse of one decoded GPT-2 split sequence into the
    (condition, clause) contract (``src/condition_split.py:60-66``
    output grammar: ``Antecedent: ...;\\nConsequent: ...;`` lines,
    possibly several pairs, or ``Not applicable`` -> a single Entity
    rule). Unit-testable without transformers."""
    _, sep, tail = decoded.rpartition("Antecedent:")
    gen = ("Antecedent:" + tail) if sep else decoded
    if "not applicable" in gen.lower():
        return [("Entity rule", sentence)]
    pairs = [
        (f"{kind.capitalize()} rule", clause.strip())
        for kind, clause in _SPLIT_LINE_RE.findall(gen)
        if clause.strip()
    ]
    return pairs or [("Entity rule", sentence)]


def _hf_split_loader():  # pragma: no cover - requires transformers+torch
    """Real-model factory for the M9 swap point: the fine-tuned GPT-2
    named by ``$SPARK_GRAFT_HF_SPLIT_MODEL``, loaded ONCE per task;
    greedy decode of ``Sentence: X\\nAntecedent:`` prompts
    (``src/all_MQTT_condition_split.py:8-16, 85-91``)."""
    import os

    import torch
    from transformers import AutoModelForCausalLM, AutoTokenizer

    name = os.environ["SPARK_GRAFT_HF_SPLIT_MODEL"]
    tok = AutoTokenizer.from_pretrained(name)
    if tok.pad_token is None:
        tok.pad_token = tok.eos_token
    model = AutoModelForCausalLM.from_pretrained(name)
    model.eval()

    def split(sentences):
        prompts = [f"Sentence: {s}\nAntecedent:" for s in sentences]
        enc = tok(prompts, return_tensors="pt", padding=True, truncation=True)
        with torch.no_grad():
            out = model.generate(
                **enc, max_length=300, do_sample=False, pad_token_id=tok.eos_token_id
            )
        return [
            _parse_split_generation(s, tok.decode(seq, skip_special_tokens=True))
            for s, seq in zip(sentences, out)
        ]

    return split


def split_conditions(rule_sentences_df: DataFrame, model_loader=_stub_split_loader) -> DataFrame:
    """rule sentences -> clauses(url, sent_id, rule_num, is_strong,
    sentence, condition, clause, clause_id). ``model_loader`` swaps in a
    real checkpoint factory (``_hf_split_loader``)."""
    split_udf = model_udf(_SPLIT_SCHEMA, model_loader, name="_split_udf")
    arr = rule_sentences_df.withColumn("splits", split_udf(F.col("sentence")))
    # posexplode_outer + null-position drop, not posexplode: the latter
    # makes InferFiltersFromGenerate evaluate the splitter a second time
    # for a size(splits) > 0 filter below the Generate
    return (
        arr.select(
            "url",
            "sent_id",
            "rule_num",
            "is_strong",
            "sentence",
            F.posexplode_outer("splits").alias("clause_id", "s"),
        )
        .where(F.col("clause_id").isNotNull())
        .select("url", "sent_id", "rule_num", "is_strong", "sentence", "clause_id", "s.condition", "s.clause")
    )


# --- M10 properties generation ------------------------------------------------


def _stub_properties_loader():
    """Default model factory: adapts the deterministic grammar stub
    (stand-in for GPT-2 "Context: C\\nSentence: S\\nProperties:" batch
    generation) to the (context, clause, entity) row contract (the stub
    ignores context — the real model consumes it)."""

    def generate(contexts, clauses, entities):
        return stub_models.generate_properties_batch(clauses, entities)

    return generate


def _hf_properties_loader():  # pragma: no cover - requires transformers+torch
    """Real-model factory for the M10 swap point: the fine-tuned GPT-2
    named by ``$SPARK_GRAFT_HF_PROPERTIES_MODEL``, loaded ONCE per task;
    greedy decode of ``Context: C\\nSentence: S\\nProperties:`` prompts
    (``src/properties_extractor.py:64-71``,
    ``src/all_MQTT_properties_extraction.py:11-22, 115-121``). The
    grammar string is everything after the last ``Properties:``."""
    import os

    import torch
    from transformers import AutoModelForCausalLM, AutoTokenizer

    name = os.environ["SPARK_GRAFT_HF_PROPERTIES_MODEL"]
    tok = AutoTokenizer.from_pretrained(name)
    if tok.pad_token is None:
        tok.pad_token = tok.eos_token
    model = AutoModelForCausalLM.from_pretrained(name)
    model.eval()

    def generate(contexts, clauses, entities):
        prompts = [
            f"Context: {c}\nSentence: {s}\nProperties:"
            for c, s in zip(contexts, clauses)
        ]
        enc = tok(prompts, return_tensors="pt", padding=True, truncation=True)
        with torch.no_grad():
            out = model.generate(
                **enc, max_length=400, do_sample=False, pad_token_id=tok.eos_token_id
            )
        decoded = [tok.decode(seq, skip_special_tokens=True) for seq in out]
        return [d.rpartition("Properties:")[2].strip() for d in decoded]

    return generate


def generate_behaviours(clauses: DataFrame, mentions: DataFrame,
                        model_loader=_stub_properties_loader) -> DataFrame:
    """clauses + mentions -> behaviours: each clause gains a ``subject``
    (the sentence's first mention surface — the reference's generative
    model infers the subject from context; the stub needs it explicit)
    and the generated ``behaviours`` grammar string. ``model_loader``
    swaps in a real checkpoint factory (``_hf_properties_loader``); the
    prompt context is the ``context`` column when the caller attached
    one (M8 window), else the clause itself."""
    first_mention = (
        mentions.groupBy("url", "sent_id")
        .agg(F.min_by("surface", "begin").alias("subject"))
    )
    joined = clauses.join(first_mention, on=["url", "sent_id"], how="left")
    subject = F.coalesce(F.col("subject"), F.lit("unknown entity"))
    ctx = F.col("context") if "context" in joined.columns else F.col("clause")
    udf = model_udf(T.StringType(), model_loader, name="_properties_udf")
    return joined.withColumn("behaviours", udf(ctx, F.col("clause"), subject))
