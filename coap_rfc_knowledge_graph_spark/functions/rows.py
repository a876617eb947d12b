"""``map_rows``: the one Arrow-batch scaffold for stateless per-row
``mapInPandas`` operators, each of which supplies only a row function."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def map_rows(df: DataFrame, cols: list, schema: T.StructType, row_fn) -> DataFrame:
    """``df.select(*cols)`` -> rows of ``schema``. ``row_fn(*values)`` is
    called once per input row with the values of ``cols`` and yields zero
    or more tuples in ``schema`` field order; Arrow casts them to the
    schema's types. Row-total: if ``row_fn`` raises, its row keeps the
    tuples already yielded and the batch goes on, so a malformed row
    costs only its own output, never the task."""
    names = schema.fieldNames()

    def fn(batches):
        for pdf in batches:
            rows: list[tuple] = []
            for values in zip(*(pdf[c] for c in pdf.columns)):
                try:
                    for out in row_fn(*values):
                        rows.append(out)
                except Exception:
                    continue
            yield pd.DataFrame(rows, columns=names)

    return df.select(*cols).mapInPandas(fn, schema)
