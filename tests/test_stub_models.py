"""Unit tests for the deterministic model stand-ins + tokenizer."""

from coap_rfc_knowledge_graph_spark.functions import stub_models as sm
from coap_rfc_knowledge_graph_spark.functions import tokenizer as tk


def test_tokenize_layout():
    toks = tk.tokenize("The server MUST reply.", max_tokens=16)
    assert toks[0] == tk.CLS
    assert toks[-1] == tk.PAD
    assert tk.SEP in toks
    assert len(toks) == 16


def test_tokenize_truncation():
    toks = tk.tokenize("word " * 1000, max_tokens=32)
    assert len(toks) == 32
    assert toks[-1] == tk.SEP  # truncated: no room for PAD


def test_decode_roundtrip():
    s = "The Uri-Path option MUST NOT be empty."
    toks = tk.tokenize(s, pad=False)
    assert tk.decode(toks) == s


def test_tagger_bio_shape():
    toks = tk.tokenize("The CoAP Server sends a message to the Client.", pad=False)
    tags = sm.tag_tokens(toks)
    assert len(tags) == len(toks)
    spans = sm.decode_spans(tags)
    surfaces = [tk.decode_span(toks, b, e) for b, e in spans]
    assert "CoAP Server" in surfaces
    assert "Client" in surfaces
    assert "message" in surfaces  # lexicon word


def test_decode_spans_b_to_b_quirk():
    # B O B I O: first span closes on O; B->B (adjacent) includes the new
    # B token in the previous span, as in extract_all_MQTT_entities.py:116-122
    assert sm.decode_spans([0, 2, 0, 1, 2]) == [(0, 0), (2, 3)]
    assert sm.decode_spans([0, 0, 2]) == [(0, 1), (1, 1)]
    # PAD breaks decoding
    assert sm.decode_spans([0, 3, 0]) == []


def test_relation_classifier_deterministic_and_bounded():
    preds = sm.classify_relation_batch(["a [E1] b [/E1] c [E2] d [/E2]"] * 3)
    assert preds[0] == preds[1] == preds[2]
    assert all(0 <= p < 8 for p in preds)


def test_embedding_similarity_structure():
    a = sm.embed_phrase("acknowledgement message")
    b = sm.embed_phrase("acknowledgement messages")
    c = sm.embed_phrase("retransmission window")
    assert sm.cosine(a, b) > 0.9
    assert sm.cosine(a, c) < 0.5
    assert abs(sum(x * x for x in a) - 1.0) < 1e-9


def test_condition_split():
    both = sm.split_condition("If the version is unknown, the message MUST be ignored.")
    assert both[0][0] == "Antecedent rule"
    assert both[1][0] == "Consequent rule"
    solo = sm.split_condition("The message MUST be ignored.")
    assert solo == [("Entity rule", "The message MUST be ignored.")]


def test_generate_properties_grammar():
    out = sm.generate_properties("the field MUST be set to 7", "Version field")
    assert out == "version field @ be set to 7 = True;"
    neg = sm.generate_properties("it MUST NOT be ignored", "option")
    assert neg.endswith("= False;")
    rng = sm.generate_properties("the value MUST be between 0 and 8", "length")
    assert "between 0 and 8" in rng


def test_coref_answer():
    ctx = "The Server processes the request. Then it replies."
    assert sm.answer_coref(ctx, "it", 1) == "Server"
