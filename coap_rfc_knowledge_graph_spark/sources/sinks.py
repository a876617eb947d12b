"""S4/S5 sinks.

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


def _nt_escape(col):
    """N-Triples string-literal escaping (RDF 1.1 canonical subset:
    backslash first, then quote, newline, CR, tab) — native regexp
    codegen, no Python."""
    c = F.regexp_replace(col, r"\\", r"\\\\")
    c = F.regexp_replace(c, '"', r'\\"')
    c = F.regexp_replace(c, "\n", r"\\n")
    c = F.regexp_replace(c, "\r", r"\\r")
    return F.regexp_replace(c, "\t", r"\\t")


def write_ntriples(
    triples: DataFrame,
    path: str,
    base_iri: str = "urn:kg:",
    subj_col: str = "subj_id",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> None:
    """Graph materialize in the interchange format every triple store
    loads: one ``<subj> <pred> "obj" .`` line per triple, distributed
    text write (line-per-row, so files concatenate into one valid
    N-Triples document). Subjects/predicates become IRIs under
    ``base_iri`` (percent-free ids expected: numeric entity ids and
    the predicate vocabulary); objects are escaped string literals.
    Predicates are percent-encoded (url_encode, '+' restored to %20)
    so the term mapping stays INJECTIVE — substituting '_' for every
    disallowed byte would silently merge 'has part' with 'has_part'.
    Rows with a NULL term are dropped explicitly: a NULL concat would
    otherwise write a blank line — an invisible fact loss AND invalid
    N-Triples. Projection + write only — zero shuffle at any graph
    size."""
    pred_iri = F.regexp_replace(F.url_encode(F.col(pred_col)), r"\+", "%20")
    line = F.concat(
        F.lit(f"<{base_iri}e"),
        F.col(subj_col).cast("string"),
        F.lit(f"> <{base_iri}p/"),
        pred_iri,
        F.lit('> "'),
        _nt_escape(F.col(obj_col).cast("string")),
        F.lit('" .'),
    )
    complete = triples.na.drop(subset=[subj_col, pred_col, obj_col])
    complete.select(line.alias("value")).write.mode("overwrite").text(path)
