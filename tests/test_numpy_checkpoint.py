"""Execute the mention swap point with the VENDORED numpy checkpoint
(VERDICT r3 item 1): the tokenize -> word_ids -> logits -> realign
dataflow that the HF path (`mentions._hf_loader`) runs, previously only
unit-tested against a synthetic word_ids fixture, now runs END TO END —
real WordPiece subword splits, a real (numpy) transformer forward with
contextual B-vs-I attention, and the realignment — unskipped, on Spark.

The checkpoint is certified at generation time
(tools/make_tiny_checkpoint.py): every vocab piece classifies to the
closed-form rule in every prev-context, so these tests can compute
exact expected tags independently of the forward pass.
"""

from __future__ import annotations

import numpy as np
import pytest

from coap_rfc_knowledge_graph_spark.functions import stub_models
from coap_rfc_knowledge_graph_spark.functions.wordpiece import (
    CLS,
    PAD,
    SEP,
    UNK,
    WordPieceTokenizer,
    load_checkpoint,
    load_entity_pieces,
)
from coap_rfc_knowledge_graph_spark.operators.mentions import (
    _label_to_tag_id,
    _numpy_checkpoint_loader,
    _realign_wordpiece_labels,
    extract_mentions,
)

B, I, O = stub_models.B, stub_models.I, stub_models.O


# --- WordPiece algorithm (no Spark) -------------------------------------------


def test_wordpiece_greedy_longest_match():
    tok = WordPieceTokenizer([PAD, UNK, CLS, SEP, "co", "##ap", "##apx", "server", "##s"])
    assert tok.tokenize_word("CoAP") == ["co", "##ap"]  # lowercased, split
    assert tok.tokenize_word("coapx") == ["co", "##apx"]  # longest continuation wins
    assert tok.tokenize_word("server") == ["server"]
    assert tok.tokenize_word("servers") == ["server", "##s"]
    assert tok.tokenize_word("zzz") == [UNK]  # no prefix match
    assert tok.tokenize_word("serverzz") == [UNK]  # unmatchable remainder -> whole word UNK


def test_wordpiece_word_ids_hf_semantics():
    """word_ids: None at [CLS]/[SEP]/[PAD], the word index repeated
    across a split word's pieces — the encoding shape
    _realign_wordpiece_labels consumes (HF is_split_into_words)."""
    tok = WordPieceTokenizer([PAD, UNK, CLS, SEP, "co", "##ap", "the", "server"])
    ids, wids = tok.encode_words(["The", "CoAP", "server"])
    assert wids == [None, 0, 1, 1, 2, None]
    assert [tok.vocab[i] for i in ids] == [CLS, "the", "co", "##ap", "server", SEP]
    mat, batch_wids = tok.encode_batch([["The", "server"], ["The", "CoAP", "server"]])
    assert mat.shape == (2, 6)  # padded to batch max
    assert [tok.vocab[i] for i in mat[0]] == [CLS, "the", "server", SEP, PAD, PAD]
    assert batch_wids[0] == [None, 0, 1, None, None, None]


# --- the forward pass matches the certified rule -------------------------------


def _expected_word_tags(words: list[str]) -> list[int]:
    """Closed-form expectation, independent of the numpy forward: a word
    is an entity iff its FIRST piece is a certified entity piece; B vs I
    by whether the PREVIOUS piece in the sequence (the prior word's last
    piece, [CLS] for the first word) is an entity piece."""
    clf = load_checkpoint()
    entity = load_entity_pieces()
    tags = []
    prev_piece = CLS
    for w in words:
        pieces = clf.tokenizer.tokenize_word(w)
        if pieces[0] in entity:
            tags.append(I if prev_piece in entity else B)
        else:
            tags.append(O)
        prev_piece = pieces[-1]
    return tags


def test_forward_tags_match_certified_rule():
    clf = load_checkpoint()
    words = ["The", "CoAP", "server", "MUST", "send", "the", "token", "value", "."]
    ids, wids = clf.tokenizer.encode_words(words)
    pred = clf.tag_ids(np.array([ids]))[0]
    got = []
    seen = set()
    for pos, wid in enumerate(wids):
        if wid is None or wid in seen:
            continue
        seen.add(wid)
        got.append(int(pred[pos]))
    #           The CoAP server MUST send the token value .
    assert got == [O, B, I, O, O, O, B, I, O]
    assert got == _expected_word_tags(words)


def test_realignment_against_real_encoding():
    """The exact VERDICT item: _realign_wordpiece_labels driven by a REAL
    tokenizer encoding (subword splits + specials), not a synthetic
    fixture — with the int-label contract decode_spans requires."""
    clf = load_checkpoint()
    toks = ["[CLS]", "The", "CoAP", "server", "[SEP]", "[PAD]"]
    words = ["The", "CoAP", "server"]
    ids, wids = clf.tokenizer.encode_words(words)
    labels = [int(j) for j in clf.tag_ids(np.array([ids]))[0]]
    got = _realign_wordpiece_labels(toks, len(words), wids, labels, other=O)
    assert got == [O, O, B, I, O, O]
    assert stub_models.decode_spans(got) == [(2, 3)]  # "CoAP server"


def test_label_to_tag_id_contract():
    """decode_spans consumes the reference's INT scheme; every label form
    a checkpoint can emit must map into it."""
    assert [_label_to_tag_id(k) for k in (0, 1, 2, 3, 9)] == [0, 1, 2, 3, 2]
    assert _label_to_tag_id("LABEL_0") == 0 and _label_to_tag_id("LABEL_3") == 3
    assert _label_to_tag_id("LABEL_7") == 2 and _label_to_tag_id("LABEL_x") == 2
    assert _label_to_tag_id("B-ENT") == 0 and _label_to_tag_id("I-PER") == 1
    assert _label_to_tag_id("O") == 2 and _label_to_tag_id("[PAD]") == 3


# --- end to end through the Spark swap point -----------------------------------


def test_numpy_checkpoint_through_swap_point(spark):
    """extract_mentions with the vendored checkpoint: the full
    iterator-UDF path (load-once factory, WordPiece encode, numpy
    forward, realign, span decode, surface decode) executes on Spark and
    yields the exact certified spans."""
    rows = [
        ("u1", 0, "The CoAP server MUST send the token value ."),
        ("u1", 1, "An empty reset was sent ."),  # no entity pieces -> no mentions
        ("u2", 0, "Each MQTT broker uses a session ."),
    ]
    sdf = spark.createDataFrame(rows, "url string, sent_id long, sentence string")
    got = {
        (r.url, r.sent_id, r.begin, r.end, r.surface)
        for r in extract_mentions(sdf, model_loader=_numpy_checkpoint_loader).collect()
    }
    # repo token positions include [CLS] at 0
    assert got == {
        ("u1", 0, 2, 3, "CoAP server"),
        ("u1", 0, 7, 8, "token value"),
        ("u2", 0, 2, 3, "MQTT broker"),
        ("u2", 0, 6, 6, "session"),
    }, got


def test_numpy_checkpoint_partitioning_invariant(spark):
    rows = [
        ("u%d" % (i % 5), i, "The CoAP server MUST send the token value %d ." % i)
        for i in range(40)
    ]
    sdf = spark.createDataFrame(rows, "url string, sent_id long, sentence string")
    a = sorted(map(tuple, extract_mentions(sdf.coalesce(1), model_loader=_numpy_checkpoint_loader).collect()))
    b = sorted(map(tuple, extract_mentions(sdf.repartition(16), model_loader=_numpy_checkpoint_loader).collect()))
    assert a == b and len(a) > 0
