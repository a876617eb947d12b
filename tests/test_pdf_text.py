"""The vendored PDF text extractor (S2) — unit + reference-parity tests.

Reference contract: ``src/prepare_pretrain_data.py:115-160`` decodes
``data/mqtt_specification.pdf`` with pdfplumber and freezes the result as
block 4 of ``data/pretrain_sentences.txt``. The whole path (vendored
decoder -> P6 line cleanup -> Punkt-like split -> P7 cleanup -> the
``[:46]+[49:]`` splice) must reproduce that block sentence-for-sentence.
"""

import os

import pytest

from coap_rfc_knowledge_graph_spark.functions.pdf_text import (
    Lexer,
    PDFDocument,
    parse_object,
    parse_tounicode,
    pdf_page_lines,
)
from coap_rfc_knowledge_graph_spark.functions.text_extract import (
    extract_document,
    extract_mqtt_sentences,
)

from coap_rfc_knowledge_graph_spark.sources.pages import _REFERENCE_DATA as DATA

MQTT_PDF = os.path.join(DATA, "mqtt_specification.pdf")


def _minimal_pdf(pages: list[list[str]] | None = None) -> bytes:
    """Hand-built n-page PDF: uncompressed content, WinAnsi font."""
    if pages is None:
        pages = [["Hello (PDF)", "Second line."]]
    objs = [
        b"1 0 obj\n<</Type/Catalog/Pages 2 0 R>>\nendobj\n",
    ]
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(len(pages)))
    objs.append(
        f"2 0 obj\n<</Type/Pages/Kids[{kids}]/Count {len(pages)}>>\nendobj\n".encode()
    )
    for i, lines in enumerate(pages):
        page_num, content_num = 3 + 2 * i, 4 + 2 * i
        objs.append(
            f"{page_num} 0 obj\n<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]"
            f"/Resources<</Font<</F1 {3 + 2 * len(pages)} 0 R>>>>"
            f"/Contents {content_num} 0 R>>\nendobj\n".encode()
        )
        stream = b"".join(
            b"BT /F1 12 Tf 72 %d Td (%s) Tj ET\n"
            % (700 - 20 * j, ln.replace("(", r"\(").replace(")", r"\)").encode("cp1252"))
            for j, ln in enumerate(lines)
        )
        objs.append(
            b"%d 0 obj\n<</Length %d>>\nstream\n%s\nendstream\nendobj\n"
            % (content_num, len(stream), stream)
        )
    objs.append(
        b"%d 0 obj\n<</Type/Font/Subtype/TrueType/BaseFont/ArialMT"
        b"/Encoding/WinAnsiEncoding/FirstChar 32/LastChar 122>>\nendobj\n"
        % (3 + 2 * len(pages))
    )
    body = b"%PDF-1.4\n" + b"".join(objs)
    return body + b"trailer\n<</Root 1 0 R/Size 99>>\nstartxref\n0\n%%EOF\n"


def test_object_parser_primitives():
    lex = Lexer(b"<</A 1/B(txt)/C[1 2 R /N]/D<48 69>/E true>>")
    d = parse_object(lex)
    assert d["A"] == 1
    assert d["B"] == b"txt"
    assert d["C"][0].num == 1 and d["C"][1] == "N"
    assert d["D"] == b"Hi"
    assert d["E"] is True


def test_tounicode_bfchar_and_bfrange():
    cmap = (
        b"begincmap\n"
        b"2 beginbfchar\n<0003> <0020>\n<0044> <0061>\nendbfchar\n"
        b"1 beginbfrange\n<0010> <0012> <0041>\nendbfrange\n"
        b"endcmap"
    )
    m = parse_tounicode(cmap)
    assert m[0x0003] == " " and m[0x0044] == "a"
    assert m[0x0010] == "A" and m[0x0011] == "B" and m[0x0012] == "C"


def test_minimal_pdf_roundtrip():
    lines = pdf_page_lines(_minimal_pdf())
    assert lines == ["Hello (PDF)", "Second line."]


def test_truncated_pdf_raises():
    with pytest.raises(ValueError):
        PDFDocument(b"%PDF-1.4 garbage").pages()


@pytest.mark.reference_data
def test_mqtt_pdf_page_count_and_sample():
    doc = PDFDocument(open(MQTT_PDF, "rb").read())
    pages = doc.pages()
    assert len(pages) == 137
    lines = pdf_page_lines(open(MQTT_PDF, "rb").read(), 10, 11)
    assert any("Intellectual property rights policy" in ln for ln in lines)


@pytest.mark.reference_data
def test_mqtt_pdf_matches_reference_corpus():
    """North-rule parity: the full S2+P6+P7 path reproduces the reference's
    frozen pdfplumber+nltk output EXACTLY (ordered, sentence-for-sentence),
    including the positional [:46]+[49:] splice."""
    data = open(MQTT_PDF, "rb").read()
    mine = extract_mqtt_sentences(data)
    ref = (
        open(os.path.join(DATA, "pretrain_sentences.txt"), encoding="utf-8")
        .read()
        .split("\n\n")[4]
        .split("\n")
    )
    assert mine == ref


@pytest.mark.reference_data
def test_dispatcher_routes_pdf_binary():
    data = open(MQTT_PDF, "rb").read()
    via_doc = extract_document("https://docs.oasis-open.org/mqtt/v5.0/mqtt_spec.pdf", data, None, "en")
    assert via_doc == extract_mqtt_sentences(data)


def test_multipage_pdf_and_page_range():
    pdf = _minimal_pdf([[f"Page {i} line one.", f"Page {i} line two."] for i in range(5)])
    assert pdf_page_lines(pdf, 0, None) == [
        f"Page {i} line {w}." for i in range(5) for w in ("one", "two")
    ]
    assert pdf_page_lines(pdf, 2, 4)[0] == "Page 2 line one."
    assert len(pdf_page_lines(pdf, 2, 4)) == 4


def test_amqp_spec_path_structural():
    """extract_amqp_sentences applies the reference's AMQP line/sentence
    filters (src/prepare_pretrain_data.py:163-238): boilerplate prefixes,
    hex/XML fragments, arrows/tables dropped; margin digits stripped."""
    from coap_rfc_knowledge_graph_spark.functions.text_extract import extract_amqp_sentences

    body_pages = [
        [
            "12 The sender MUST settle the message.",
            "amqp-core-transport-v1.0 page header",
            "0x00 0x53 0x75 hex dump",
            "<type name='properties'>",
            "PART 2 TRANSPORT",
            "A |--+-- table art.",
            "The receiver SHOULD acknowledge receipt.",
        ]
    ]
    # spec-sized document: 16 front-matter pages the [16:119] range must
    # skip, the body page, and filler pages whose only line the AMQP
    # "0x" prefix filter drops (the spec page-range semantics only apply
    # to documents that actually span the spec's page count)
    pages = (
        [["Front matter %d." % i] for i in range(16)]
        + body_pages
        + [["0x%02d filler hex line" % i] for i in range(102)]
    )
    out = extract_amqp_sentences(_minimal_pdf(pages))
    assert out == [
        "The sender MUST settle the message.",
        "The receiver SHOULD acknowledge receipt.",
    ]


def test_short_pdf_routed_generically_not_spliced():
    """A crawled PDF whose url merely mentions mqtt must NOT lose pages
    to the spec's [10:118] range or sentences to the [:46]+[49:] splice."""
    from coap_rfc_knowledge_graph_spark.functions.text_extract import extract_document

    pages = [[f"Tutorial sentence number {i} MUST be kept."] for i in range(5)]
    out = extract_document("https://example.com/mqtt-tutorial.pdf", _minimal_pdf(pages), None, "en")
    assert out == [f"Tutorial sentence number {i} MUST be kept." for i in range(5)]


def test_long_nonspec_pdf_fails_fingerprint_gate():
    """Page count alone must not trigger the spec page-range/splice: a
    130-page crawled PDF with 'mqtt' in its url but WITHOUT the spec's
    per-page 'mqtt-v5' boilerplate marker is decoded whole, unspliced
    (content-fingerprint gate in _spec_pdf_lines)."""
    from coap_rfc_knowledge_graph_spark.functions.text_extract import extract_document

    pages = [[f"Handbook sentence number {i} MUST be kept."] for i in range(130)]
    out = extract_document("https://example.com/mqtt-handbook.pdf", _minimal_pdf(pages), None, "en")
    assert out == [f"Handbook sentence number {i} MUST be kept." for i in range(130)]


def test_long_spec_shaped_pdf_passes_fingerprint_gate():
    """A document that spans the spec range AND carries the per-page
    marker gets the spec treatment: front pages [0:10) skipped and the
    positional splice applied."""
    from coap_rfc_knowledge_graph_spark.functions.text_extract import extract_mqtt_sentences

    pages = [["Front matter %d." % i] for i in range(10)] + [
        ["mqtt-v5.0 page marker", f"Spec sentence number {i} MUST hold."] for i in range(110)
    ]
    out = extract_mqtt_sentences(_minimal_pdf(pages))
    body = [f"Spec sentence number {i} MUST hold." for i in range(108)]
    assert out == body[:46] + body[49:]
