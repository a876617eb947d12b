"""Unit tests of the text-extraction contract (pure Python, no Spark)."""

import os

import pytest

from coap_rfc_knowledge_graph_spark.functions.text_extract import (
    RFC_HEADINGS,
    clean_spec_lines,
    clean_spec_sentences,
    decode_pdf,
    extract_document,
    extract_rfc_sentences,
    extract_web_sentences,
    sent_tokenize,
    strip_html,
)
from coap_rfc_knowledge_graph_spark.sources.pages import _REFERENCE_DATA as DATA


def test_sent_tokenize_basic():
    text = "The server MUST reply. The client MAY retry! Is that so? Yes."
    assert sent_tokenize(text) == [
        "The server MUST reply.",
        "The client MAY retry!",
        "Is that so?",
        "Yes.",
    ]


def test_sent_tokenize_abbreviations_and_numbers():
    text = "See Section 4.2 for details of cf. the Token field. Values up to 65535 are valid."
    out = sent_tokenize(text)
    assert len(out) == 2
    assert out[0].endswith("Token field.")


def test_sent_tokenize_punkt_quirks():
    """Pins the pretrained-Punkt behaviours the reference corpus exhibits."""
    # bare "e.g." splits even before lowercase (rfc8613 "...context, e.g. / as")
    assert sent_tokenize("Derive a new context, e.g. as described below.") == [
        "Derive a new context, e.g.",
        "as described below.",
    ]
    # non-abbreviation word + period splits regardless of next-token case
    assert sent_tokenize("The Server does not accept it. error 0x87 applies.") == [
        "The Server does not accept it.",
        "error 0x87 applies.",
    ]
    # number + period merges before a lowercase bullet word
    assert sent_tokenize("in the range 0 to 63. o Name: The name field.") == [
        "in the range 0 to 63. o Name: The name field.",
    ]
    # initial + frequent sentence starter splits; unknown capitalized merges
    assert sent_tokenize("insert the step: A. If present, process it.") == [
        "insert the step: A.",
        "If present, process it.",
    ]
    assert sent_tokenize("given in Appendix A. OSCORE may be used.") == [
        "given in Appendix A. OSCORE may be used.",
    ]
    # "•" bullets start sentences (MQTT spec block)
    assert sent_tokenize("The Client can: • publish a message. • subscribe.") == [
        "The Client can: • publish a message.",
        "• subscribe.",
    ]


def test_sent_tokenize_initials():
    out = sent_tokenize("Written by B. Frank. The spec is final.")
    assert out == ["Written by B. Frank.", "The spec is final."]


@pytest.mark.reference_data
@pytest.mark.parametrize("name", ["rfc7252", "rfc7959", "rfc8613", "rfc8974"])
def test_rfc_extraction_shape(name):
    author, heading = RFC_HEADINGS[name]
    raw = open(os.path.join(DATA, f"{name}.txt"), encoding="utf-8").read()
    sents = extract_rfc_sentences(raw, author, heading)
    assert len(sents) > 100
    # P1: no heading boilerplate survives
    assert not any(heading in s for s in sents)
    # P3/P5 guarantees
    for s in sents:
        assert s != ""
        assert "  " not in s  # collapsed spaces
        assert not s.startswith(" ")
        assert "- " not in s
        assert "+---" not in s
        assert any(c.isalpha() for c in s)
        assert not ("Figure" in s and ":" in s)
        assert not ("Table" in s and ":" in s)


@pytest.mark.reference_data
def test_rfc_extraction_deterministic():
    raw = open(os.path.join(DATA, "rfc7252.txt"), encoding="utf-8").read()
    a = extract_rfc_sentences(raw, "Shelby, et al.", "RFC 7252")
    b = extract_rfc_sentences(raw, "Shelby, et al.", "RFC 7252")
    assert a == b


@pytest.mark.reference_data
@pytest.mark.parametrize("i,name", list(enumerate(["rfc7252", "rfc7959", "rfc8613", "rfc8974"])))
def test_rfc_extraction_byte_identical_to_reference_corpus(i, name):
    """The full byte-identical contract (north rule): our extraction vs
    the reference's frozen nltk output (data/pretrain_sentences.txt
    blocks 0-3, writer prepare_pretrain_data.py:250-272) must be EXACT —
    every sentence, byte for byte, in order. Closed in round 3 (was
    P .993 / R .996) by pinning the pretrained Punkt model's per-type
    initial statistics, closer-run realignment, and ellipsis ortho
    behavior (see sent_tokenize)."""
    blocks = (
        open(os.path.join(DATA, "pretrain_sentences.txt"), encoding="utf-8").read().split("\n\n")
    )
    raw = open(os.path.join(DATA, f"{name}.txt"), encoding="utf-8").read()
    ours = extract_rfc_sentences(raw, *RFC_HEADINGS[name])
    ref = [s for s in blocks[i].split("\n") if s]
    assert ours == ref


def test_clean_spec_lines_page_numbers_and_prefixes():
    lines = ["  12 The packet MUST be sent  ", "mqtt-v5.0-os", "-----", "Standards Track Work Product x", "Plain line"]
    out = clean_spec_lines(lines, drop_prefixes=("mqtt-v5", "Standards Track Work Product"))
    assert out == ["The packet MUST be sent", "Plain line"]


def test_clean_spec_sentences():
    out = clean_spec_sentences(
        ["  A  B\nC  ", "123456", "see Figure 3", "<field x>", "ok"],
        drop_contains=("Figure",),
        drop_startswith=("<field",),
    )
    assert out == ["A B C", "ok"]


def test_strip_html_and_web_path():
    html = b"<html><head><style>x{}</style></head><body><p>The server MUST reply.</p><p>Done now.</p></body></html>"
    text = strip_html(html)
    sents = extract_web_sentences(text)
    assert sents == ["The server MUST reply.", "Done now."]


@pytest.mark.reference_data
def test_extract_document_routing():
    raw = open(os.path.join(DATA, "rfc7252.txt"), encoding="utf-8").read()
    via_doc = extract_document("https://spec.example/rfc7252", None, raw, "en")
    direct = extract_rfc_sentences(raw, "Shelby, et al.", "RFC 7252")
    assert via_doc == direct
    assert extract_document("https://x/y", None, None, "en") == []


def test_decode_pdf_rejects_garbage():
    with pytest.raises(ValueError):
        decode_pdf(b"%PDF-1.4")  # truncated: no catalog
    # and the dispatcher degrades to an empty doc instead of raising
    assert extract_document("https://x/broken.pdf", b"%PDF-1.4", None, "en") == []
