"""The model-stage swap points: every model stage's UDF is one
load-once ``functions.rows.model_udf``, and the fused relation operator
loads its model once per task in its own batch loop. Each stage with an explicit stub
factory equals its default path, every factory runs once per task (not
per Arrow batch), and the real-HF factories run when transformers/torch
and a checkpoint are available (skipped otherwise — VERDICT round-1
item 9).
"""

import importlib.util
import os
import tempfile
import uuid

import pytest

from coap_rfc_knowledge_graph_spark.operators import conditions, coref, mentions, relations, variables
from coap_rfc_knowledge_graph_spark.operators.mentions import extract_mentions


def _counting(inner, mark_dir):
    """Wrap the stub factory ``inner`` so that each call leaves one
    marker file in ``mark_dir``. The wrapper is a closure, so cloudpickle
    ships it by value (the test module itself is not importable on
    executors)."""

    def loader():
        import os as _os
        import uuid as _uuid

        _os.makedirs(mark_dir, exist_ok=True)
        with open(_os.path.join(mark_dir, _uuid.uuid4().hex), "w") as fh:
            fh.write("x")
        return inner()

    return loader


def _sentences(spark, n):
    rows = [
        ("u%d" % (i % 4), i, "The CoAP server sends a Reset message. It MUST be empty %d." % i)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "url string, sent_id long, sentence string").coalesce(2)


def _rule_sentences(spark, n):
    rows = [
        ("u%d" % (i % 4), i, i, i % 2 == 0, "If the server restarts, the token MUST be set to %d." % i)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "url string, sent_id long, rule_num long, is_strong boolean, sentence string"
    ).coalesce(2)


def _mention_arrays(spark, n):
    """Mention arrays as ``extract_mentions(explode=False)`` emits them:
    three spans per sentence, so three candidate pairs per row."""
    rows = [
        ("u%d" % (i % 4), i, "The CoAP server MUST send a Reset message now %d." % i,
         [(2, 3, "CoAP server"), (7, 8, "Reset message"), (10, 10, str(i))])
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "url string, sent_id int, sentence string, "
        "mentions array<struct<begin:int,end:int,surface:string>>",
    ).coalesce(2)


def _behaviours(spark, n, loader):
    clauses = spark.createDataFrame(
        [("u%d" % (i % 4), i, "the token MUST be set to %d" % i) for i in range(n)],
        "url string, sent_id long, clause string",
    ).coalesce(2)
    first = spark.createDataFrame(
        [("u%d" % (i % 4), i, 0, "token") for i in range(n)],
        "url string, sent_id long, begin int, surface string",
    )
    return conditions.generate_behaviours(clauses, first, model_loader=loader)


# stage -> (its default stub factory, run(spark, n_rows, model_loader))
_STAGES = {
    "mentions": (
        mentions._stub_loader,
        lambda spark, n, loader: extract_mentions(_sentences(spark, n), model_loader=loader),
    ),
    "split": (
        conditions._stub_split_loader,
        lambda spark, n, loader: conditions.split_conditions(_rule_sentences(spark, n), model_loader=loader),
    ),
    "properties": (conditions._stub_properties_loader, _behaviours),
    "coref": (
        coref._stub_coref_loader,
        lambda spark, n, loader: coref.resolve_coreferences(_sentences(spark, n), model_loader=loader),
    ),
    "variables": (
        variables._stub_variables_loader,
        lambda spark, n, loader: variables.extract_variables(_sentences(spark, n), model_loader=loader),
    ),
    "relation": (
        relations._stub_relation_loader,
        lambda spark, n, loader: relations.extract_triples_from_arrays(
            _mention_arrays(spark, n), model_loader=loader
        ),
    ),
}


@pytest.mark.parametrize("stage", sorted(_STAGES))
def test_model_stage_loads_once_per_task(spark, stage):
    """64 rows in 8-row Arrow batches over 2 tasks: the stage's model
    factory runs once per task (at most 2 calls), never once per batch
    (8 or more)."""
    inner, run = _STAGES[stage]
    mark_dir = os.path.join(tempfile.gettempdir(), f"kg_{stage}_marks_{uuid.uuid4().hex}")
    conf = {"spark.sql.execution.arrow.maxRecordsPerBatch": "8", "spark.sql.shuffle.partitions": "2"}
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        # inputs are coalesced to 2 partitions and shuffles run at 2;
        # collect unsorted (a Spark-side sort would re-evaluate the UDF
        # to sample range bounds)
        out = run(spark, 64, _counting(inner, mark_dir)).collect()
        assert len(out) > 0
        n_loads = len(os.listdir(mark_dir))
        assert 1 <= n_loads <= 2, n_loads
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_mentions_swap_parity(spark):
    """M2 swap point: extract_mentions with an explicit stub factory
    must equal the default path."""

    def stub_loader():
        from coap_rfc_knowledge_graph_spark.functions import stub_models

        return stub_models.tag_batch

    sdf = _sentences(spark, 64)
    key = lambda r: (r.url, r.sent_id, r.begin)
    base = sorted(extract_mentions(sdf).collect(), key=key)
    swapped = sorted(extract_mentions(sdf, model_loader=stub_loader).collect(), key=key)
    assert base == swapped and len(base) > 0


def test_relation_swap_parity(spark):
    """M6 swap point: the fused relation operator with an explicit stub
    factory must equal the default path."""

    def stub_loader():
        from coap_rfc_knowledge_graph_spark.functions import stub_models

        return stub_models.classify_relation_batch

    marr = _mention_arrays(spark, 64)
    key = lambda r: (r.url, r.sent_id, r.subj, r.obj)
    base = sorted(relations.extract_triples_from_arrays(marr).collect(), key=key)
    swapped = sorted(relations.extract_triples_from_arrays(marr, model_loader=stub_loader).collect(), key=key)
    assert base == swapped and 0 < len(base) < 3 * 64


def test_relation_model_calls_are_sliced(spark):
    """The fused relation operator keeps what a swapped model predicts,
    calls it on at most ``maxRecordsPerBatch`` marked pairs at a time,
    and fails the task when the model raises instead of dropping pairs."""

    def bounded_loader():
        def classify(marked):
            if not 0 < len(marked) <= 8:
                raise ValueError(f"model called on {len(marked)} pairs")
            return [1] * len(marked)

        return classify

    def failing_loader():
        def classify(marked):
            raise RuntimeError("relation model failed")

        return classify

    def short_loader():
        return lambda marked: [1] * (len(marked) - 1)

    marr = _mention_arrays(spark, 64)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
    try:
        # 64 rows in 8-row Arrow batches: 24 pairs per batch, scored 8 at a time
        out = relations.extract_triples_from_arrays(marr, model_loader=bounded_loader).collect()
        assert len(out) == 3 * 64 and {r.pred for r in out} == {relations._NAMES[1]}
        with pytest.raises(Exception, match="relation model failed"):
            relations.extract_triples_from_arrays(marr, model_loader=failing_loader).collect()
        # one prediction too few must fail the task, not drop the last pair
        with pytest.raises(Exception, match="zip"):
            relations.extract_triples_from_arrays(marr, model_loader=short_loader).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


@pytest.mark.parametrize("max_records", ["0", "-1"])
def test_relation_model_calls_without_batch_limit(spark, max_records):
    """Spark reads a ``maxRecordsPerBatch`` of 0 or less as no limit; the
    fused relation operator then scores each Arrow batch's pairs in one
    call and keeps every triple the model predicts."""
    marr = _mention_arrays(spark, 64)
    key = lambda r: (r.url, r.sent_id, r.subj, r.obj)
    base = sorted(relations.extract_triples_from_arrays(marr).collect(), key=key)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", max_records)
    try:
        out = sorted(relations.extract_triples_from_arrays(marr).collect(), key=key)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert out == base and len(base) > 0


def test_coref_swap_parity(spark):
    """M8 swap point: resolve_coreferences with an explicit stub factory
    must equal the default path."""
    from coap_rfc_knowledge_graph_spark.operators.coref import resolve_coreferences

    def stub_loader():
        from coap_rfc_knowledge_graph_spark.functions import stub_models

        return stub_models.answer_coref_batch

    rows = [
        ("u%d" % (i % 2), i, "The CoAP server sends a Reset message. It MUST be empty %d." % i)
        for i in range(16)
    ]
    sdf = spark.createDataFrame(rows, "url string, sent_id long, sentence string")
    key = lambda r: (r.url, r.sent_id, r.pronoun, r.occurrence)
    base = sorted(resolve_coreferences(sdf).collect(), key=key)
    swapped = sorted(resolve_coreferences(sdf, model_loader=stub_loader).collect(), key=key)
    assert base == swapped and len(base) > 0


@pytest.mark.skipif(
    importlib.util.find_spec("transformers") is None
    or importlib.util.find_spec("torch") is None
    or "SPARK_GRAFT_HF_RELATION_MODEL" not in os.environ,
    reason="transformers/torch not installed or SPARK_GRAFT_HF_RELATION_MODEL unset",
)
def test_hf_relation_checkpoint_swap(spark):  # pragma: no cover - optional deps
    from coap_rfc_knowledge_graph_spark.operators.relations import (
        _hf_relation_loader,
        extract_triples_from_arrays,
    )

    marr = spark.createDataFrame(
        [("u1", 0, "The server MUST send a Reset message.",
          [(2, 2, "server"), (6, 7, "Reset message")])],
        "url string, sent_id int, sentence string, "
        "mentions array<struct<begin:int,end:int,surface:string>>",
    )

    def loader():
        # keep the pair whatever relation the checkpoint predicts, so the
        # one candidate pair proves the model was reached and answered
        classify = _hf_relation_loader()
        return lambda marked: [1 if 0 <= p < len(relations._NAMES) else 0 for p in classify(marked)]

    out = extract_triples_from_arrays(marr, model_loader=loader).collect()
    assert len(out) == 1 and (out[0].subj, out[0].obj) == ("server", "Reset message")


@pytest.mark.skipif(
    importlib.util.find_spec("transformers") is None
    or importlib.util.find_spec("torch") is None
    or "SPARK_GRAFT_HF_QA_MODEL" not in os.environ,
    reason="transformers/torch not installed or SPARK_GRAFT_HF_QA_MODEL unset",
)
def test_hf_coref_checkpoint_swap(spark):  # pragma: no cover - optional deps
    from coap_rfc_knowledge_graph_spark.operators.coref import (
        _hf_coref_loader,
        resolve_coreferences,
    )

    sdf = spark.createDataFrame(
        [("u1", 0, "The CoAP server sends a Reset message. It MUST be empty.")],
        "url string, sent_id long, sentence string",
    )
    out = resolve_coreferences(sdf, model_loader=_hf_coref_loader).collect()
    assert out is not None  # schema-stable; span content depends on checkpoint


def test_wordpiece_label_realignment():
    """The HF path's subword->word label mapping, unit-tested without
    transformers: logits arrive per WORDPIECE ([CLS] first, subword
    splits sharing a word id) and must map back to the repo's
    whitespace token list by FIRST-subword label, with "O" re-inserted
    at our special-token positions — positional truncation would shift
    every label (round-2 ADVICE, mentions.py)."""
    from coap_rfc_knowledge_graph_spark.operators.mentions import _realign_wordpiece_labels

    # sentence tokens as the repo's tokenizer emits them
    toks = ["[CLS]", "The", "CoAP", "server", "[SEP]", "[PAD]"]
    # HF encoding: [CLS]=None, The=0, Co+##AP (word 1, two pieces),
    # server=2, [SEP]=None, pad=None
    word_ids = [None, 0, 1, 1, 2, None, None]
    pos_labels = ["B-ENT", "O", "B-ENT", "I-ENT", "I-ENT", "O", "O"]
    got = _realign_wordpiece_labels(toks, 3, word_ids, pos_labels)
    # first-subword label wins for "CoAP"; [CLS] logit ("B-ENT") dropped
    assert got == ["O", "O", "B-ENT", "I-ENT", "O", "O"]


@pytest.mark.skipif(
    importlib.util.find_spec("transformers") is None
    or importlib.util.find_spec("torch") is None
    or "SPARK_GRAFT_HF_MODEL" not in os.environ,
    reason="transformers/torch not installed or SPARK_GRAFT_HF_MODEL unset",
)
def test_hf_checkpoint_swap(spark):  # pragma: no cover - optional deps
    from coap_rfc_knowledge_graph_spark.operators.mentions import _hf_loader

    sdf = spark.createDataFrame(
        [("u1", 0, "The CoAP server MUST send a Reset message.")],
        "url string, sent_id long, sentence string",
    )
    out = extract_mentions(sdf, model_loader=_hf_loader).collect()
    assert out is not None  # schema-stable; span content depends on checkpoint


def test_split_swap_parity(spark):
    """M9 swap point: split_conditions with an explicit stub factory
    must equal the default path."""
    from coap_rfc_knowledge_graph_spark.operators.conditions import split_conditions

    def stub_loader():
        from coap_rfc_knowledge_graph_spark.functions import stub_models

        return stub_models.split_condition_batch

    rows = [
        ("u%d" % (i % 2), i, i, i % 2 == 0,
         "If the server restarts, the token MUST be set to %d." % i)
        for i in range(16)
    ]
    sdf = spark.createDataFrame(
        rows, "url string, sent_id long, rule_num long, is_strong boolean, sentence string"
    )
    key = lambda r: (r.url, r.sent_id, r.clause_id)
    base = sorted(split_conditions(sdf).collect(), key=key)
    swapped = sorted(split_conditions(sdf, model_loader=stub_loader).collect(), key=key)
    assert base == swapped and len(base) == 32  # antecedent + consequent each


def test_properties_swap_parity(spark):
    """M10 swap point: generate_behaviours with the adapting stub
    factory must equal the default two-arg path (the stub ignores the
    extra context argument the real model consumes)."""
    from coap_rfc_knowledge_graph_spark.operators.conditions import (
        _stub_properties_loader,
        generate_behaviours,
    )

    clauses = spark.createDataFrame(
        [("u1", i, "the token MUST be set to %d" % i) for i in range(8)],
        "url string, sent_id long, clause string",
    )
    mentions = spark.createDataFrame(
        [("u1", i, 0, "token") for i in range(8)],
        "url string, sent_id long, begin int, surface string",
    )
    key = lambda r: (r.url, r.sent_id)
    base = sorted(generate_behaviours(clauses, mentions).collect(), key=key)
    swapped = sorted(
        generate_behaviours(clauses, mentions, model_loader=_stub_properties_loader).collect(),
        key=key,
    )
    assert [r.behaviours for r in base] == [r.behaviours for r in swapped] and len(base) == 8


def test_variables_swap_parity_and_grammar(spark):
    """M13: extract_variables default == explicit stub factory, and the
    output parses in the N6 grammar (entity @ behaviour = bool;)."""
    from coap_rfc_knowledge_graph_spark.operators.variables import extract_variables

    def stub_loader():
        from coap_rfc_knowledge_graph_spark.functions import stub_models

        return stub_models.extract_variables_batch

    rows = [
        ("u1", 0, "The Token MUST be set to zero."),
        ("u1", 1, "The CoAP server MUST NOT reject the message."),
    ]
    sdf = spark.createDataFrame(rows, "url string, sent_id long, sentence string")
    key = lambda r: (r.url, r.sent_id)
    base = sorted(extract_variables(sdf).collect(), key=key)
    swapped = sorted(extract_variables(sdf, model_loader=stub_loader).collect(), key=key)
    assert [r.behaviours for r in base] == [r.behaviours for r in swapped]
    assert base[0].behaviours == "token @ be set to zero = True;"
    assert base[1].behaviours == "coap @ reject the message = False;"


def test_parse_split_generation_pure():
    """M9 HF decode parse, unit-tested without transformers."""
    from coap_rfc_knowledge_graph_spark.operators.conditions import _parse_split_generation

    s = "If X, then Y MUST Z."
    gen = "Sentence: If X, then Y MUST Z.\nAntecedent: If X;\nConsequent: Y MUST Z;"
    assert _parse_split_generation(s, gen) == [
        ("Antecedent rule", "If X"),
        ("Consequent rule", "Y MUST Z"),
    ]
    assert _parse_split_generation(s, "Sentence: ...\nAntecedent: Not applicable") == [
        ("Entity rule", s)
    ]
    assert _parse_split_generation(s, "garbage with no markers") == [("Entity rule", s)]


def test_parse_variables_generation_pure():
    """M13 HF decode parse, unit-tested without transformers."""
    from coap_rfc_knowledge_graph_spark.operators.variables import _parse_variables_generation

    d = "Sentence: The Token MUST be 0.\nBehaviours: token @ be 0 = True;"
    assert _parse_variables_generation(d) == "token @ be 0 = True;"
    assert _parse_variables_generation("no marker at all") == "no marker at all"


_GPT2_SKIP = pytest.mark.skipif(
    importlib.util.find_spec("transformers") is None
    or importlib.util.find_spec("torch") is None,
    reason="transformers/torch not installed",
)


@_GPT2_SKIP
@pytest.mark.skipif(
    "SPARK_GRAFT_HF_SPLIT_MODEL" not in os.environ,
    reason="SPARK_GRAFT_HF_SPLIT_MODEL unset",
)
def test_hf_split_checkpoint_swap(spark):  # pragma: no cover - optional deps
    from coap_rfc_knowledge_graph_spark.operators.conditions import (
        _hf_split_loader,
        split_conditions,
    )

    sdf = spark.createDataFrame(
        [("u1", 0, 0, True, "If the server restarts, the token MUST be reset.")],
        "url string, sent_id long, rule_num long, is_strong boolean, sentence string",
    )
    out = split_conditions(sdf, model_loader=_hf_split_loader).collect()
    assert len(out) >= 1 and all(r.condition.endswith("rule") for r in out)


@_GPT2_SKIP
@pytest.mark.skipif(
    "SPARK_GRAFT_HF_PROPERTIES_MODEL" not in os.environ,
    reason="SPARK_GRAFT_HF_PROPERTIES_MODEL unset",
)
def test_hf_properties_checkpoint_swap(spark):  # pragma: no cover - optional deps
    from coap_rfc_knowledge_graph_spark.operators.conditions import (
        _hf_properties_loader,
        generate_behaviours,
    )

    clauses = spark.createDataFrame(
        [("u1", 0, "the token MUST be set to zero")],
        "url string, sent_id long, clause string",
    )
    mentions = spark.createDataFrame(
        [("u1", 0, 0, "token")], "url string, sent_id long, begin int, surface string"
    )
    out = generate_behaviours(clauses, mentions, model_loader=_hf_properties_loader).collect()
    assert len(out) == 1 and out[0].behaviours is not None


@_GPT2_SKIP
@pytest.mark.skipif(
    "SPARK_GRAFT_HF_VARIABLE_MODEL" not in os.environ,
    reason="SPARK_GRAFT_HF_VARIABLE_MODEL unset",
)
def test_hf_variables_checkpoint_swap(spark):  # pragma: no cover - optional deps
    from coap_rfc_knowledge_graph_spark.operators.variables import (
        _hf_variables_loader,
        extract_variables,
    )

    sdf = spark.createDataFrame(
        [("u1", 0, "The Token MUST be set to zero.")],
        "url string, sent_id long, sentence string",
    )
    out = extract_variables(sdf, model_loader=_hf_variables_loader).collect()
    assert len(out) == 1 and out[0].behaviours is not None
