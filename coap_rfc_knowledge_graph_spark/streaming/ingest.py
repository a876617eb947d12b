"""Structured Streaming ingestion for continuous KG construction.

The reference is strictly batch (SURVEY §2.6: no streaming analogue), so
this module is an EXTENSION for the web-scale deployment: a crawl drops
page files continuously; the pipeline keeps the KG tables current.

Two patterns:

- :func:`stream_triples` — incremental triple extraction. The extract
  chain (sentences -> mentions -> pairs -> triples) is a deterministic
  per-document batch transform, so it rides in ``foreachBatch``: each
  micro-batch runs the SAME code as the batch pipeline (one source of
  truth). Exactly-once comes from the streaming checkpoint (source
  offsets) + an IDEMPOTENT per-batch write: each micro-batch overwrites
  its own ``batch_id=N`` subdirectory, so a retried partially-written
  batch replaces itself instead of duplicating rows; readers see the
  union via partition discovery (``spark.read.parquet(output_dir)``).
- :func:`windowed_event_counts` — watermark + tumbling-window
  aggregation over an event stream (late data dropped past the
  watermark), the standard stateful-agg shape for crawl telemetry.

Scale notes: ``maxFilesPerTrigger`` bounds micro-batch size so the UDF
stages keep their Arrow batch profile; state for the windowed agg is
bounded by the watermark horizon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.pages import PAGES_SCHEMA


def stream_pages(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-drop source of pages parquet (a stand-in for the crawl bus;
    swap format('parquet') for kafka + from_avro at deployment)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def stream_triples(
    pages_stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    url_partitions: int | None = None,
    available_now: bool = True,
):
    """pages stream -> continuously-appended triples parquet.

    Returns the started StreamingQuery; callers ``awaitTermination`` or
    stop it. ``available_now=True`` drains everything currently present
    then stops (the batch-backfill trigger)."""
    from ..operators.mentions import extract_mentions
    from ..operators.relations import extract_triples_from_arrays
    from ..operators.sentences import extract_sentences

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        triples = extract_triples_from_arrays(
            extract_mentions(
                extract_sentences(batch_df, url_partitions=url_partitions),
                explode=False,
            )
        )
        # idempotent: a retry of this micro-batch overwrites the same
        # subdirectory; batch_id resurfaces as a partition column on read
        triples.write.mode("overwrite").parquet(f"{output_dir}/batch_id={batch_id}")

    writer = (
        pages_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_link_graph(
    pages_stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """pages stream -> continuously-appended hyperlink-edge parquet:
    the streaming twin of the batch ``--link-graph`` stage (the crawl's
    edge table stays current as pages arrive). Same idempotent
    one-subdirectory-per-micro-batch write discipline as
    :func:`stream_triples` — edge extraction is a stateless per-page
    transform (``html_links``), so batch == stream edge sets by
    construction and the ONLY streaming concern is exactly-once, which
    the checkpoint + overwrite-own-batch_id write provides. Readers see
    the union via partition discovery and aggregate/dedup downstream
    exactly as they would over the batch stage's output."""
    from ..operators.html_extract import html_links

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        edges = html_links(batch_df)
        edges.write.mode("overwrite").parquet(f"{output_dir}/batch_id={batch_id}")

    writer = (
        pages_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events_stream: DataFrame,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Tumbling-window event counts with a late-data watermark:
    (window_start, window_end, event_type, n). Standard streaming agg —
    state bounded by the watermark horizon."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
        )
    )


def stream_dedup_first_seen(
    pages_stream: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Custom stateful operator: cross-micro-batch exact dedup.

    Emits each distinct content hash ONCE — the first page (by url, for
    within-batch determinism) that carries it, across ALL micro-batches.
    Built on ``applyInPandasWithState`` grouped by content hash: state is
    one boolean per seen hash, so a duplicate arriving hours later in a
    different micro-batch still drops. This is the streaming face of
    ``operators.dedup.dedup_exact`` (same hash, same keep-first rule).

    Scale: state size = one tiny row per DISTINCT document ever seen —
    the minimum any exact cross-stream dedup can hold; the shuffle is on
    the hash (uniform by construction, no skew).
    """
    import pandas as pd

    hashed = pages_stream.select(
        "url",
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("content_hash"),
    )

    def keep_first(key, pdfs, state):
        if state.exists:
            # hash already emitted in an earlier micro-batch: drop all
            for _ in pdfs:
                pass
            return
        first_url = None
        for pdf in pdfs:
            if len(pdf):
                u = pdf["url"].min()  # deterministic within the batch
                first_url = u if first_url is None else min(first_url, u)
        state.update((True,))
        if first_url is not None:
            yield pd.DataFrame({"content_hash": [key[0]], "url": [first_url]})

    return hashed.groupBy("content_hash").applyInPandasWithState(
        keep_first,
        outputStructType="content_hash string, url string",
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def stream_near_dup_candidates(
    pages_stream: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 5,
    seed: int = 13,
    id_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Custom stateful operator: cross-micro-batch NEAR-dup candidate
    detection — the streaming face of ``operators.dedup.
    minhash_lsh_pairs`` (same signatures, same banding).

    Each MinHash band bucket is a state group: the first document to
    arrive in a bucket (by id, for within-batch determinism) claims it;
    every later document landing in the same bucket — in this or ANY
    later micro-batch — emits a candidate row ``(doc_id, first_id,
    band)``. Downstream consumers verify candidates exactly (the batch
    est_jaccard re-rank), exactly as in the batch path.

    Scale: state is one id string per DISTINCT (band, band-signature)
    bucket ever seen — the same keys the batch path shuffles on (uniform
    by construction); no all-pairs anything.
    """
    import pandas as pd

    from ..operators.dedup import minhash_signatures

    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        pages_stream, num_hashes=num_hashes, k=k, seed=seed, id_col=id_col, text_col=text_col
    )
    banded = sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.slice(F.col("sig"), bi * rows_per_band + 1, rows_per_band),
            )
        ).alias("band", "band_sig"),
    ).withColumn(
        "band_key",
        F.concat_ws(
            "-",
            F.col("band"),
            F.concat_ws(",", F.transform("band_sig", lambda x: x.cast("string"))),
        ),
    ).select("band_key", "band", F.col("doc_id").cast("string").alias("doc_id"))

    def claim_or_pair(key, pdfs, state):
        ids: list = []
        band = None
        for pdf in pdfs:
            if len(pdf):
                ids.extend(pdf["doc_id"].tolist())
                band = int(pdf["band"].iloc[0])
        if not ids:
            return
        ids.sort()
        if state.exists:
            (first_id,) = state.get
        else:
            first_id = ids.pop(0)
            state.update((first_id,))
        ids = [i for i in ids if i != first_id]  # re-crawl of the claimer
        if ids:
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "first_id": [first_id] * len(ids),
                    "band": [band] * len(ids),
                }
            )

    return banded.groupBy("band_key").applyInPandasWithState(
        claim_or_pair,
        outputStructType="doc_id string, first_id string, band int",
        stateStructType="first_id string",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def stream_latest_snapshot(
    keyed_stream: DataFrame,
    key_col: str = "norm_url",
    ts_col: str = "crawl_ts",
    payload_cols: tuple[str, ...] = ("url", "text"),
) -> DataFrame:
    """Custom stateful operator: cross-micro-batch latest-snapshot
    upserts — the streaming face of ``operators.webtext.
    latest_snapshot`` (same lexicographic (ts, payload) winner rule).

    Input: a stream already keyed by canonical URL (run
    ``webtext.normalize_urls`` on the page stream first) with a NUMERIC
    crawl timestamp and string payload columns. For every micro-batch
    that touches a key, emits ONE row with the best-so-far snapshot
    (max by ``(ts, *payloads)`` across ALL batches) and the cumulative
    ``n_crawls`` — a change-log of snapshot upgrades. The LAST emission
    per key always equals the batch ``latest_snapshot`` over the union
    of all micro-batches (the parity test pins this), so a downstream
    ``foreachBatch`` upsert keyed on ``key_col`` maintains the exact
    batch table incrementally. Null handling: crawls with a null
    timestamp are dropped (they cannot compete, and pandas sorts NaN
    opposite to Spark's null-first struct max); null payload strings
    coerce to ``""`` — the parity contract is over non-null-ts rows.

    Scale: state is one (ts, payloads, count) row per DISTINCT
    canonical URL — what any cross-stream snapshot collapse must hold;
    shuffle is on the canonical URL (uniform at web scale).
    """
    import pandas as pd

    out_fields = ", ".join(
        [f"{key_col} string", f"{ts_col} long"]
        + [f"{c} string" for c in payload_cols]
        + ["n_crawls long"]
    )
    state_fields = ", ".join(
        ["best_ts long"]
        + [f"p{i} string" for i in range(len(payload_cols))]
        + ["n long"]
    )

    def upgrade(key, pdfs, state):
        if state.exists:
            stored = state.get
            best = (stored[0], *stored[1 : 1 + len(payload_cols)])
            n = stored[-1]
        else:
            best, n = None, 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            # a crawl without a timestamp cannot compete (and pandas
            # sorts NaN LAST where Spark's struct max puts nulls first —
            # letting it through would both crash int() and break the
            # batch-parity contract); null payloads coerce to "" for the
            # same reason
            pdf = pdf.dropna(subset=[ts_col])
            if not len(pdf):
                continue
            n += len(pdf)
            view = pdf.assign(**{c: pdf[c].fillna("") for c in payload_cols})
            sub = view.sort_values([ts_col, *payload_cols], kind="mergesort")
            cand_row = sub.iloc[-1]
            cand = (int(cand_row[ts_col]), *(str(cand_row[c]) for c in payload_cols))
            if best is None or cand > best:
                best = cand
        if best is None:
            return
        state.update((best[0], *best[1:], n))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                ts_col: [best[0]],
                **{c: [v] for c, v in zip(payload_cols, best[1:])},
                "n_crawls": [n],
            }
        )

    return keyed_stream.select(key_col, ts_col, *payload_cols).groupBy(
        key_col
    ).applyInPandasWithState(
        upgrade,
        outputStructType=out_fields,
        stateStructType=state_fields,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
