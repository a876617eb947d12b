"""The shared whitespace-lowercase tokenizer expression.

This single expression defines the CROSS-ENGINE TOKENIZATION CONTRACT:
every token-level operator (lexical retrieval, corpus LM coverage,
token budgets, n-gram decontamination, paragraph windows) and every one
of their DuckDB oracles rests on

    filter(split(lower(text), '\\s+'), t -> t <> '')

behaving identically in Spark and DuckDB — pinned by the U+0130
``lower()`` dialect fuzz (tests/test_curation_ops.py) and the
tokenization differential fuzz. It lives in ONE place so a future fix
(e.g. a locale boundary, a different split class) cannot silently
desynchronize some operators from others and from their oracles. The
DuckDB spelling is
``list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens_expr(text_col: Column | str) -> Column:
    """array<string> of non-empty lowercase whitespace tokens."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")
