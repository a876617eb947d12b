"""M13: GPT-2 variable extractor — sentence-only generative head that
maps each rule sentence straight to the ``entity @ behaviour =
True|False;`` grammar, without the M8 context window.

Reference semantics (``src/variable_extractor_generate_GPT-2.py:56-91``):
prompt ``<|startoftext|>Sentence: {rule}\nBehaviours:`` into a
fine-tuned GPT-2, greedy decode (do_sample=False), take the text after
``Behaviours:`` as the grammar string. SURVEY lists M13 as superseded
by the M9/M10 two-stage path for the KG build; it is implemented here
as the standalone single-shot alternative with the same swap point as
every other model stage: one ``functions.rows.model_udf`` whose
``model_loader`` defaults to the deterministic stub.

Scale shape: one Arrow-batched UDF over the rule-sentence projection —
no shuffle of its own (inherits the upstream url partitioning); the
model loads once per TASK.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import stub_models
from ..functions.rows import model_udf


def _stub_variables_loader():
    """Default model factory: the deterministic sentence-only grammar
    stub. Returns ``generate(sentences) -> grammar-string list``."""
    return stub_models.extract_variables_batch


def _parse_variables_generation(decoded: str) -> str:
    """Pure parse of one decoded GPT-2 sequence: the grammar string is
    everything after the LAST ``Behaviours:`` marker (the prompt echo
    precedes it — the reference decodes prompt+generation together,
    ``variable_extractor_generate_GPT-2.py:87``)."""
    _, sep, tail = decoded.rpartition("Behaviours:")
    return (tail if sep else decoded).strip()


def _hf_variables_loader():  # pragma: no cover - requires transformers+torch
    """Real-model factory for the M13 swap point: loads the fine-tuned
    GPT-2 named by ``$SPARK_GRAFT_HF_VARIABLE_MODEL`` ONCE per task,
    then greedy-decodes each prompt batch (max_length=300,
    do_sample=False — the reference's generate call)."""
    import os

    import torch
    from transformers import AutoModelForCausalLM, AutoTokenizer

    name = os.environ["SPARK_GRAFT_HF_VARIABLE_MODEL"]
    tok = AutoTokenizer.from_pretrained(name)
    if tok.pad_token is None:
        tok.pad_token = tok.eos_token
    model = AutoModelForCausalLM.from_pretrained(name)
    model.eval()

    def generate(sentences):
        prompts = [f"Sentence: {s}\nBehaviours:" for s in sentences]
        enc = tok(prompts, return_tensors="pt", padding=True, truncation=True)
        with torch.no_grad():
            out = model.generate(
                **enc, max_length=300, do_sample=False,
                pad_token_id=tok.eos_token_id,
            )
        return [
            _parse_variables_generation(tok.decode(seq, skip_special_tokens=True))
            for seq in out
        ]

    return generate


def extract_variables(rule_sentences_df: DataFrame, model_loader=_stub_variables_loader) -> DataFrame:
    """rule sentences -> + ``behaviours`` (grammar string). The output
    column feeds the same ``operators.properties`` grammar parser as the
    M10 path, so either head can drive the N6+ rule build.
    ``model_loader`` swaps in a real checkpoint factory
    (``_hf_variables_loader``)."""
    udf = model_udf(T.StringType(), model_loader, name="_variables_udf")
    return rule_sentences_df.withColumn("behaviours", udf(F.col("sentence")))
