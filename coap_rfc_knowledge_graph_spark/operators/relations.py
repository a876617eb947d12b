"""M4-M6: entity-pair generation, [E1]/[E2] marker insertion and
relation classification -> the (subj, pred, obj) triples table.

Reference: all C(n,2) ordered combinations of a sentence's entity spans,
markers inserted into the token list at offset-adjusted positions
(``src/relation_extractor.py:25-39``), then special tokens dropped and
the text re-decoded / space-collapsed (``:79-84``). Each marked sentence
goes through ``BertForSequenceClassification``, 8 classes
(``src/relation_extractor.py:59-68``; inference twin
``src/MQTT_relation.py:114-146``); pairs predicted NO RELATION (0) are
dropped, the rest become triples.

Spark shape: ONE fused ``mapInPandas`` over the mention arrays. Each
sentence row carries its mention array; the task tokenizes the sentence
once, fans out to every marked pair, scores the pairs and emits the
triples. No shuffle at all: this replaces the naive theta self-join on
(url, sent_id) (an equi-join + filter that reshuffles the corpus and
re-tokenizes per pair), and the C(n,2)-sized marked-sentence column
never crosses the JVM<->Python boundary (un-fusing it measured ~2x
slower). At 10^12 documents the blowup is bounded per row (mentions per
sentence <= tens), never per partition, and the stage stays narrow —
pipelined straight from the mention stage.

Model swap point: ``extract_triples_from_arrays(model_loader=...)``.
The zero-arg factory runs once per task, before the Arrow-batch loop,
and returns ``classify(marked_sentences) -> class ids``. It is called on
slices of at most ``spark.sql.execution.arrow.maxRecordsPerBatch``
marked pairs (read on the driver; 0 or less means no limit, as in
Spark), so a real BERT never gets more sentences per call than one Arrow
batch, and a worker holds at most one slice of marked strings. It must
return one class id per sentence; a short or long result fails the
task. ``_stub_relation_loader`` (the deterministic hash classifier) is
the default; :func:`_hf_relation_loader` loads a real checkpoint.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from itertools import islice

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..config import RELATION_NAMES
from ..functions import stub_models, tokenizer
from ..functions.rows import arrow_batch_rows

_NAMES = [RELATION_NAMES[i] for i in range(len(RELATION_NAMES))]

TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("sent_id", T.IntegerType()),
    ]
)


def _mark_tokens(toks: list[str], b1: int, e1: int, b2: int, e2: int) -> str:
    """Marker insertion replicating the reference's ``list.insert``
    sequence (offsets +2/+4 after earlier inserts,
    ``src/relation_extractor.py:25-39``)."""
    t = list(toks)
    t.insert(b1, "[E1]")
    t.insert(e1 + 2, "[/E1]")
    t.insert(b2 + 2, "[E2]")
    t.insert(e2 + 4, "[/E2]")
    kept = [x for x in t if x not in (tokenizer.PAD, tokenizer.CLS, tokenizer.SEP)]
    return re.sub(" +", " ", tokenizer.decode(kept, skip_special_tokens=False))


def _marked_pairs(toks: list[str], spans: list[tuple[int, int]]) -> Iterator[str]:
    """The marked sentence of every pair ``i < j`` of ``spans`` (token
    ``(begin, end)`` indexes), in that order; each is byte-identical to
    ``_mark_tokens(toks, *spans[i], *spans[j])``.

    ``_mark_tokens`` copies and re-decodes the whole sentence per pair.
    Here the sentence is decoded once, and a per-span table holds, for
    each span, its E1 piece (decoded prefix + ``[E1]`` span ``[/E1]``) and
    its E2 piece (``[E2]`` span ``[/E2]`` + decoded suffix), with the
    spacing ``decode`` puts around each marker (its ``_NO_SPACE_BEFORE``
    / ``_NO_SPACE_AFTER`` rules). A pair is then E1[i] + junction + the
    decoded words between the spans + junction + E2[j], or E1[i] + " " +
    E2[j] when the spans are adjacent. ``_mark_tokens``' trailing
    ``re.sub(" +", " ")`` is a no-op on ``decode`` output (tokens never
    contain spaces; ``decode`` emits at most one space per junction), so
    slicing the decoded sentence keeps the bytes.

    The table covers the canonical layout the tagger emits
    (``1 <= b1 <= e1 < b2 <= e2 <= len(toks) - 2``, [CLS]/[SEP]
    bracketing, no [PAD]). Any other pair — overlapping spans, a span
    touching the special tokens, a padded token list — falls back to
    ``_mark_tokens``, the single source of truth for edge cases."""
    m = len(toks) - 2
    canonical = m >= 0 and toks[0] == tokenizer.CLS and toks[-1] == tokenizer.SEP
    canonical = canonical and tokenizer.PAD not in toks
    words = toks[1:-1] if canonical else []
    nsb = [w in tokenizer._NO_SPACE_BEFORE for w in words]
    nsa = [w[-1] in tokenizer._NO_SPACE_AFTER for w in words]
    # the decoded sentence and each word's [start, end) offsets in it
    start: list[int] = []
    end: list[int] = []
    parts: list[str] = []
    pos = 0
    for k, w in enumerate(words):
        if k and not (nsb[k] or nsa[k - 1]):
            pos += 1
            parts.append(" ")
        start.append(pos)
        pos += len(w)
        end.append(pos)
        parts.append(w)
    dec = "".join(parts)

    # per span (words a..z): its first word (-1 when the span is outside
    # the table), its E1 piece bare and with its junction into a middle,
    # and its E2 piece bare and with its junction out of a middle
    n = len(spans)
    first = [-1] * n
    e1_bare, e1_join, e2_bare, e2_join = ([""] * n for _ in range(4))
    for i, (b, e) in enumerate(spans):
        if not (canonical and 1 <= b <= e <= m):
            continue
        a, z = b - 1, e - 1
        body = ("" if nsb[a] else " ") + dec[start[a] : end[z]] + ("" if nsa[z] else " ")
        head = dec[: end[a - 1]] + ("" if nsa[a - 1] else " ") if a else ""
        tail = ("" if nsb[z + 1] else " ") + dec[start[z + 1] :] if z + 1 < m else ""
        first[i] = a
        e1_bare[i] = head + "[E1]" + body + "[/E1]"
        e1_join[i] = e1_bare[i] + ("" if z + 1 < m and nsb[z + 1] else " ")
        e2_bare[i] = "[E2]" + body + "[/E2]" + tail
        e2_join[i] = ("" if a and nsa[a - 1] else " ") + e2_bare[i]

    for i, (b1, e1) in enumerate(spans):
        # a span outside the table pairs only through the fallback
        z1 = e1 - 1 if first[i] >= 0 else len(toks)
        left, left_join = e1_bare[i], e1_join[i]
        for j in range(i + 1, n):
            a2 = first[j]
            if a2 <= z1:  # overlapping spans, or either span outside the table
                yield _mark_tokens(toks, b1, e1, *spans[j])
            elif a2 == z1 + 1:
                yield left + " " + e2_bare[j]
            else:
                yield left_join + dec[start[z1 + 1] : end[a2 - 1]] + e2_join[j]


def _sentence_pairs(sentence: str, mentions) -> Iterator[tuple[str, str, str]]:
    """One sentence's pair fan-out -> (e1, e2, marked_sentence) for every
    C(n,2) combination of its mention spans, in (begin, end) order. The
    sentence is tokenized once; fewer than two mentions yield nothing."""
    if mentions is None or len(mentions) < 2:
        return
    spans = sorted(
        ((int(m["begin"]), int(m["end"]), m["surface"]) for m in mentions),
        key=lambda x: (x[0], x[1]),
    )
    marked = _marked_pairs(tokenizer.tokenize(sentence, pad=False), [(b, e) for b, e, _ in spans])
    for i, (_, _, s1) in enumerate(spans):
        for _, _, s2 in spans[i + 1 :]:
            yield s1, s2, next(marked)


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


def extract_triples_from_arrays(mentions_arr: DataFrame, model_loader=_stub_relation_loader) -> DataFrame:
    """mention arrays (url, sent_id, sentence, mentions) ->
    triples(subj, pred, obj, url, sent_id), in one ``mapInPandas``.

    ``model_loader()`` runs once per task, before the Arrow-batch loop.
    Per Arrow batch the task fans out and marks every pair, calls the
    model on slices of at most ``spark.sql.execution.arrow.maxRecordsPerBatch``
    marked sentences, and drops the pairs predicted 0 (NO RELATION).
    Marking is row-total, as in ``functions.rows.map_rows``: a sentence
    whose marking raises keeps the pairs it already produced and costs
    only its own pairs. A model that raises, or that returns a different
    number of predictions than it was given sentences, fails the task.
    A ``maxRecordsPerBatch`` of 0 or less means no limit, as in Spark:
    the model then gets each Arrow batch's pairs in one call.

    Directionality: the reference's label set encodes both directions
    (HAS TYPE vs TYPE OF), so subj/obj are always (e1, e2) in sentence
    order, as in ``src/relation_extractor.py:42-56``.

    NOTE deliberately no ``filter(size(mentions) >= 2)`` here: a native
    filter on a UDF-produced column makes Catalyst evaluate the mention
    UDF TWICE (once for the predicate, once for the projection — two
    ArrowEvalPython nodes); the <2-mention rows are skipped inside the
    task instead (tests/test_plans.py pins the single-evaluation shape)."""
    slice_rows = arrow_batch_rows(mentions_arr.sparkSession)
    names = TRIPLES_SCHEMA.fieldNames()

    def batch_pairs(pdf):
        for url, sent_id, sentence, mentions in zip(pdf["url"], pdf["sent_id"], pdf["sentence"], pdf["mentions"]):
            try:
                for e1, e2, marked in _sentence_pairs(sentence, mentions):
                    yield marked, e1, e2, url, sent_id
            except Exception:
                continue

    def fn(batches):
        model = model_loader()
        for pdf in batches:
            rows: list[tuple] = []
            pairs = batch_pairs(pdf)
            while chunk := list(islice(pairs, slice_rows)):
                preds = model([pair[0] for pair in chunk])
                for (_, e1, e2, url, sent_id), pred in zip(chunk, preds, strict=True):
                    if pred != 0:
                        rows.append((e1, _NAMES[pred], e2, url, sent_id))
            yield pd.DataFrame(rows, columns=names)

    return mentions_arr.select("url", "sent_id", "sentence", "mentions").mapInPandas(fn, TRIPLES_SCHEMA)
