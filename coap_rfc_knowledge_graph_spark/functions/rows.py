"""The two Arrow-batch scaffolds: ``map_rows`` for stateless per-row
``mapInPandas`` operators, each of which supplies only a row function,
and ``model_udf`` for model stages, each of which supplies only a model
loader and a batch function."""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


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


def _call_model(model, *columns):
    return model(*columns)


def model_udf(return_type, model_loader, apply=_call_model, *, name: str):
    """One model stage's iterator pandas UDF (load once, score many).
    ``model_loader()`` runs once per task, outside the Arrow-batch loop;
    ``apply(model, *columns)`` maps one batch, each argument column as a
    list, to that batch's output values (by default it calls the model
    with the columns). ``name`` labels the UDF in plans and event logs.
    ``model_loader`` must be a pickle-able zero-arg callable."""

    def fn(batches: Iterator[Tuple[pd.Series, ...]]) -> Iterator[pd.Series]:
        model = model_loader()
        for cols in batches:
            # a one-argument call receives each batch as a bare Series
            cols = cols if isinstance(cols, tuple) else (cols,)
            yield pd.Series(apply(model, *(list(c) for c in cols)))

    fn.__name__ = name
    return pandas_udf(fn, return_type)
