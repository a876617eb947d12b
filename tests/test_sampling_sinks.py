"""The S4 text sink."""

from __future__ import annotations

import glob

from coap_rfc_knowledge_graph_spark.sources.sinks import write_sentences_text


def test_write_sentences_text(spark, tmp_path):
    rows = [
        ("b", 0, "B zero."), ("b", 1, "B one."),
        ("a", 0, "A zero."), ("a", 1, "A one."), ("a", 2, "A two."),
    ]
    sents = spark.createDataFrame(rows, "url string, sent_id int, sentence string")
    out = str(tmp_path / "txt")
    write_sentences_text(sents, out)
    text = "".join(open(f).read() for f in sorted(glob.glob(out + "/part-*")))
    blocks = [b for b in text.split("\n\n") if b.strip()]
    assert len(blocks) == 2
    joined = {b.splitlines()[0]: b.splitlines() for b in blocks}
    assert ["A zero.", "A one.", "A two."] in [b.splitlines() for b in blocks]
    assert ["B zero.", "B one."] in [b.splitlines() for b in blocks]
