"""pages -> sentences: the S1/S2 + P1-P7 stage (SURVEY §2.1-2.2).

One document is processed whole (the reference cleanup is stateful across
a document — body slicing, positional splices — so the UDF is
document-at-a-time, never line-parallel within a doc). Parallelism is
across documents: the input is hash-partitioned by ``url`` (the north
rule's partitioning key) and each Arrow batch fans a page out into
(url, sent_id, sentence) rows via ``mapInPandas``.

Scale notes: the only shuffle is the explicit repartition by url (which
downstream stages reuse — mentions, pairs and the sentence join are all
url-keyed, so Spark can avoid re-shuffling). Column pruning is explicit:
only (url, html, text, lang) reach the Python worker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.rows import map_rows
from ..functions.text_extract import extract_document

SENTENCES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("sent_id", T.IntegerType()),
        T.StructField("sentence", T.StringType()),
    ]
)


def extract_sentences(pages: DataFrame, url_partitions: int | None = None) -> DataFrame:
    """pages -> sentences(url, sent_id, sentence), sent_id = 0-based
    position within the document (the alignment key replacing the
    reference's parallel-list indexing)."""

    def doc_sentences(url, html, text, lang):
        for sent_id, sentence in enumerate(extract_document(url, html, text, lang)):
            yield url, sent_id, sentence

    cols = ["url", "html", "text", "lang"]
    pruned = pages.select(*cols)
    if url_partitions:
        pruned = pruned.repartition(url_partitions, "url")
    return map_rows(pruned, cols, SENTENCES_SCHEMA, doc_sentences)
