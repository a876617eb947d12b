"""M6: relation classification -> the (subj, pred, obj) triples table.

Reference: ``BertForSequenceClassification`` over marked sentences, 8
classes (``src/relation_extractor.py:59-68``; inference twin
``src/MQTT_relation.py:114-146``); pairs predicted NO RELATION (0) are
dropped, the rest become triples.

Spark shape: one Arrow-batched pandas UDF producing ``pred`` + a native
filter + projection. The relation-id -> name decode is a broadcast-free
native CASE (``element_at`` on an array literal), so everything after the
UDF stays in whole-stage codegen.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..config import RELATION_NAMES
from ..functions import stub_models
from ..functions.rows import map_rows
from .pairs import _sentence_pairs

_NAMES = [RELATION_NAMES[i] for i in range(len(RELATION_NAMES))]


@pandas_udf(T.IntegerType())
def _relation_udf(marked: pd.Series) -> pd.Series:
    return pd.Series(stub_models.classify_relation_batch(list(marked)), dtype="int32")


def _stub_relation_loader():
    """Default model factory: the deterministic rule classifier. Returns
    a ``classify(marked_sentences) -> class_id list`` callable."""
    return stub_models.classify_relation_batch


def _hf_relation_loader():  # pragma: no cover - requires transformers+torch
    """Real-model factory for the M6 swap point: loads the fine-tuned
    ``BertForSequenceClassification`` named by
    ``$SPARK_GRAFT_HF_RELATION_MODEL`` ONCE per task, then argmax over
    the 8 relation logits per marked sentence — the reference's batch
    scoring loop (``src/relation_extractor.py:152-178``,
    ``src/MQTT_relation.py:114-146``)."""
    import os

    import torch
    from transformers import AutoModelForSequenceClassification, AutoTokenizer

    name = os.environ["SPARK_GRAFT_HF_RELATION_MODEL"]
    tok = AutoTokenizer.from_pretrained(name)
    model = AutoModelForSequenceClassification.from_pretrained(name)
    model.eval()

    def classify(marked_sentences):
        enc = tok(list(marked_sentences), return_tensors="pt", padding=True, truncation=True)
        with torch.no_grad():
            return model(**enc).logits.argmax(-1).tolist()

    return classify


def make_relation_udf(model_loader=_stub_relation_loader):
    """Iterator-form pandas UDF: the model factory runs once per TASK,
    then scores every Arrow batch (load-once/score-many — the same swap
    shape as :func:`..operators.mentions.make_mentions_udf`).
    ``model_loader`` must be a top-level (pickle-able) zero-arg callable
    returning ``classify(marked_sentences) -> class ids``."""

    @pandas_udf(T.IntegerType())
    def udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        classify = model_loader()  # once per task, NOT per batch
        for marked in batches:
            yield pd.Series(classify(list(marked)), dtype="int32")

    return udf


def classify_pairs(pairs: DataFrame, model_loader=None) -> DataFrame:
    """pairs -> pairs + pred (int) + pred_name. ``model_loader`` swaps
    in a real checkpoint factory (``_hf_relation_loader``)."""
    rel_udf = _relation_udf if model_loader is None else make_relation_udf(model_loader)
    names = F.array(*[F.lit(n) for n in _NAMES])
    return pairs.withColumn("pred", rel_udf(F.col("marked_sentence"))).withColumn(
        "pred_name", F.element_at(names, F.col("pred") + 1)
    )


def extract_triples(pairs: DataFrame) -> DataFrame:
    """classified pairs -> triples(subj, pred, obj, url, sent_id).

    Directionality: the reference's label set encodes both directions
    (HAS TYPE vs TYPE OF), so subj/obj are always (e1, e2) in sentence
    order, as in ``src/relation_extractor.py:42-56``.
    """
    classified = classify_pairs(pairs)
    return classified.filter(F.col("pred") != 0).select(
        F.col("e1").alias("subj"),
        F.col("pred_name").alias("pred"),
        F.col("e2").alias("obj"),
        "url",
        "sent_id",
    )


TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("sent_id", T.IntegerType()),
    ]
)


def extract_triples_from_arrays(mentions_arr: DataFrame) -> DataFrame:
    """Fused fast path: mention arrays -> triples in ONE ``mapInPandas``
    (pair fan-out + marker insertion + relation classify + pred!=0
    filter inside a single Python pass). Semantically identical to
    ``extract_triples(generate_pairs_from_arrays(...))`` — pinned by
    tests — but the ~C(n,2)-sized marked-sentence column never crosses
    the JVM<->Python boundary, which at 10^12 documents is the largest
    intermediate of the whole pipeline."""

    def sentence_triples(url, sent_id, sentence, mentions):
        for e1, e2, marked in _sentence_pairs(sentence, mentions):
            pred = stub_models.classify_relation(marked)
            if pred != 0:
                yield e1, _NAMES[pred], e2, url, sent_id

    return map_rows(
        mentions_arr, ["url", "sent_id", "sentence", "mentions"], TRIPLES_SCHEMA, sentence_triples
    )
