"""S4 sink.

- :func:`write_sentences_text` — the reference's pretrain-corpus format:
  one sentence per line, one blank line between documents
  (``src/prepare_pretrain_data.py:250-272``), as a distributed text
  write (one file per url-partition; cat-able).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_sentences_text(sentences: DataFrame, path: str) -> None:
    """sentences(url, sent_id, sentence) -> text files, documents
    separated by blank lines. The per-document assembly is an
    aggregation (concat_ws over the collected, sent_id-ordered list) so
    lines of one document never interleave across files."""
    per_doc = (
        sentences.withColumn(
            "s",
            F.struct("sent_id", "sentence"),
        )
        .groupBy("url")
        .agg(F.sort_array(F.collect_list("s")).alias("ss"))
        .select(
            "url",
            F.concat_ws("\n", F.transform("ss", lambda x: x["sentence"])).alias("block"),
        )
    )
    # trailing blank line between documents
    per_doc.select(F.concat(F.col("block"), F.lit("\n")).alias("value")).write.mode(
        "overwrite"
    ).text(path)
