"""The two Arrow-batch scaffolds: ``map_rows`` for stateless per-row
``mapInPandas`` operators, each of which supplies only a row function,
and ``model_udf`` for model stages, each of which supplies only a model
loader and a batch function. Plus the dictionary-sized path:
``arrow_batch_rows`` reads the batch size, ``collect_one_batch`` lets a
stage skip its distributed plan when its input fits one batch, and
``local_frame`` returns the driver's result as a frame that runs no
task."""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def arrow_batch_rows(spark: SparkSession) -> int | None:
    """``spark.sql.execution.arrow.maxRecordsPerBatch``, read on the
    driver; ``None`` when it is 0 or less, which Spark reads as no
    limit."""
    n = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    return n if n > 0 else None


def collect_one_batch(df: DataFrame, max_rows: int | None = None) -> list[Row] | None:
    """``df``'s rows if there are at most one Arrow batch of them (and at
    most ``max_rows``, for a caller whose driver work grows faster than
    the rows), else ``None``. One ``limit(budget + 1)`` collect decides
    and fetches at once: no count job. With no batch limit the answer is
    always ``None``: an unbounded budget would pull any table onto the
    driver, so the caller keeps its distributed plan. A caller that goes
    on to read ``df`` again checkpoints it first, so the probe's
    upstream work is not run twice."""
    budget = arrow_batch_rows(df.sparkSession)
    if budget is None:
        return None
    if max_rows is not None:
        budget = min(budget, max_rows)
    rows = df.limit(budget + 1).collect()
    return rows if len(rows) <= budget else None


def local_frame(spark: SparkSession, columns: dict[str, list], schema: str) -> DataFrame:
    """``columns`` (name -> values, in ``schema``'s order) as a frame of
    ``schema``, through Arrow: a ``LocalRelation``, which runs no task
    and starts no Python worker. A frame built from a list of rows is a
    Python RDD whose first use costs seconds; a pandas frame would turn
    every NaN into a null. pyspark slices the table into batches of
    ``maxRecordsPerBatch`` rows and rejects a non-positive size, so this
    is for results of :func:`collect_one_batch`, which only exist under
    a positive one."""
    return spark.createDataFrame(pa.table(columns), schema)


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
