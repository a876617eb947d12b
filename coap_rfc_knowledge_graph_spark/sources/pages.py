"""The ``pages`` source table (Common-Crawl-style web pages).

Schema per BASELINE.json input_hint:
    pages(url string, warc_ts timestamp, html binary, text string, lang string)

Three deterministic constructors, all seeded — no external data:

- :func:`rfc_pages` embeds the real RFC corpus from ``/root/reference/data``
  as rows (the byte-identical / P-R parity test corpus, FIXTURES.md §1).
- :func:`pages_from_documents` adapts the driver's synthetic ``documents``
  parquet into the pages schema (the bench/scale corpus).
- :func:`synthetic_pages` generates N seeded filler pages fully inside
  Spark (``spark.range`` + vectorized numpy in mapInPandas — deterministic
  per row id, so the table content is independent of partitioning).

At 10^12-document scale this table is an Iceberg table partitioned by
``bucket(url, B)`` + ``days(warc_ts)``; here it is parquet with the same
layout discipline (hash-bucket writes by url).
"""

from __future__ import annotations

import datetime
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

_REFERENCE_DATA = "/root/reference/data"
_EPOCH = datetime.datetime(2024, 1, 1)

RFC_FILES = ["rfc7252", "rfc7959", "rfc8613", "rfc8974"]


def rfc_pages(spark: SparkSession, data_dir: str = _REFERENCE_DATA) -> DataFrame:
    """The four RFC documents as pages rows (correctness corpus)."""
    rows = []
    for i, name in enumerate(RFC_FILES):
        path = os.path.join(data_dir, f"{name}.txt")
        with open(path, encoding="utf-8") as fh:
            text = fh.read()
        rows.append((f"https://spec.example/{name}", _EPOCH + datetime.timedelta(hours=i), None, text, "en"))
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the driver's ``documents(doc_id, text, lang, source, n_chars)``
    parquet into the pages schema. Pure projection — stays in codegen."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return docs.select(
        F.concat(F.lit("https://synth.example/"), F.col("source"), F.lit("/"), F.col("doc_id")).alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") % 86400).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


_WORDS = np.array(
    "the a of to and in for with on at client server message option token request response "
    "payload value field version packet endpoint header broker session protocol must should "
    "may shall sender receiver format error code number length size byte order time data "
    "stream frame block window transfer control state machine action event handler retry".split()
)
_HEAD_ENTITY = "Server"


def _gen_batch(ids: np.ndarray, seed: int, skew_frac: float) -> pd.DataFrame:
    """Vectorized deterministic page text for a batch of row ids."""
    n = len(ids)
    # per-row deterministic PRNG stream: hash ids with a splitmix-style mix
    h = (ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) + np.uint64(seed)) & np.uint64(2**64 - 1)
    texts = []
    for k in range(n):
        rng = np.random.Generator(np.random.Philox(key=int(h[k])))
        n_sent = int(rng.integers(5, 25))
        sents = []
        for s in range(n_sent):
            words = list(rng.choice(_WORDS, size=int(rng.integers(6, 18))))
            if rng.random() < 0.35:
                words.insert(int(rng.integers(0, len(words))), "MUST")
            if rng.random() < skew_frac:
                words.insert(0, _HEAD_ENTITY)
            else:
                words[0] = words[0].capitalize()
            sent = " ".join(words) + "."
            # ~20% conditional sentences: exercise the condition splitter,
            # antecedent/consequent rules and the condition-edge join
            if rng.random() < 0.2:
                sent = f"When the value is set to {int(rng.integers(0, 9))}, the " + sent[0].lower() + sent[1:]
            sents.append(sent)
        texts.append(" ".join(sents))
    urls = [f"https://crawl.example/p/{int(i)}" for i in ids]
    ts = pd.to_datetime(1704067200 + (ids % 864000), unit="s")
    html = [
        f"<html><body><p>{t}</p></body></html>".encode() if (int(i) % 7 == 0) else None
        for i, t in zip(ids, texts)
    ]
    text = [None if (int(i) % 7 == 0) else t for i, t in zip(ids, texts)]
    return pd.DataFrame({"url": urls, "warc_ts": ts, "html": html, "text": text, "lang": "en"})


def synthetic_pages(
    spark: SparkSession, n: int, seed: int = 42, skew_frac: float = 0.3, partitions: int | None = None
) -> DataFrame:
    """N seeded filler pages. ``skew_frac`` of sentences lead with one head
    entity ("Server") to exercise the salted link join (FIXTURES.md §5).
    Every 7th page carries html-only content to exercise the binary path."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _gen_batch(pdf["id"].to_numpy(), seed, skew_frac)

    rng = spark.range(n, numPartitions=partitions)
    return rng.mapInPandas(gen, PAGES_SCHEMA)


_CONTRADICTION_PROBES = [
    # Q2: single self-contradictory rule (numeric-range branch, lo > hi)
    ("q2-single-rule", "The broker count MUST be between 9 and 3."),
    # Q4: unconditional entity rule vs a conditional consequent
    (
        "q4-entity-vs-consequent",
        "The channel flag MUST be set to alpha. "
        "If the reset occurs, the channel flag MUST be set to beta.",
    ),
    # Q5: one antecedent with two mutually-contradictory consequents
    (
        "q5-consequent-pair",
        "When the beacon fires, the topic depth MUST be set to three; "
        "also the topic depth MUST be set to nine.",
    ),
    # Q6: unconditional entity rule vs a conditional antecedent
    (
        "q6-entity-vs-antecedent",
        "The session timer MUST be set to gamma. "
        "When the session timer is set to delta, the endpoint MAY retry.",
    ),
    # Q5 second shape: OR-connective consequents (negated pair) — the
    # "or" in the antecedent makes both consequent rules connective=OR,
    # exercising the solver's disjunct branching beyond the single
    # AND-pair case (VERDICT r2 item 8)
    (
        "q5-or-consequents",
        "When the frame check runs or repeats, the frame size MUST be "
        "set to four; also the frame size MUST NOT be set to four.",
    ),
    # Q5 third shape: numeric-range consequent vs point value — the
    # range branch emits TWO atoms (> lo, < hi), so the pairwise unsat
    # crosses a multi-atom clause
    (
        "q5-range-consequents",
        "When the payload scan completes, the payload length MUST be "
        "between 3 and 5; also the payload length MUST be set to 9.",
    ),
    # Q6 second/third shapes: distinct entities so each contributes its
    # own flagged-entity x antecedent pair
    (
        "q6-link-timeout",
        "The link timeout MUST be set to five. "
        "If the link timeout is set to seven, the client MAY reconnect.",
    ),
    (
        "q6-connection-mode",
        "The connection mode MUST be set to active. "
        "When the connection mode is set to passive, the broker SHOULD pause.",
    ),
]


def contradiction_probe_pages(spark: SparkSession) -> DataFrame:
    """Deterministic probe pages, each crafted so the FULL pipeline
    (sentences -> stub splitter -> N6 grammar -> solver) produces one
    known contradiction family (Q2/Q4/Q5/Q6) — they make the driver's
    findings entries non-vacuous on corpora that lack organic
    conditional contradictions. Shapes mirror the reference's finding
    kinds (``src/CoAP_contradiction_checking.py:543-1002``)."""
    rows = [
        (f"https://probe.example/{key}", _EPOCH, None, text, "en")
        for key, text in _CONTRADICTION_PROBES
    ]
    return spark.createDataFrame(rows, PAGES_SCHEMA)
