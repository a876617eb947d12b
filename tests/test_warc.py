"""WARC ingest: framing parser (plain + member-per-record gzip,
skipped record types, truncation tolerance, HTTP head stripping) and
the Spark binaryFile -> mapInPandas pages path feeding the extractor."""

from __future__ import annotations

import gzip
import os
import signal
import sys
from datetime import datetime, timezone

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from coap_rfc_knowledge_graph_spark.sources.warc import (  # noqa: E402
    parse_warc,
    read_warc,
    write_warc,
)

TS = datetime(2024, 3, 1, 12, 0, 0)
HTML1 = b"<html><body><p>CoAP is a specialized web transfer protocol for constrained nodes.</p></body></html>"
HTML2 = b"<html><body><p>The protocol supports request response semantics over UDP transport.</p></body></html>"


def _records():
    return [
        ("https://a.example/one", TS, HTML1),
        ("https://b.example/two", TS, HTML2),
    ]


def test_roundtrip_plain_and_gzip(tmp_path):
    for compress in (False, True):
        p = str(tmp_path / f"f{compress}.warc{'.gz' if compress else ''}")
        write_warc(p, _records(), compress=compress)
        with open(p, "rb") as fh:
            got = parse_warc(fh.read())
        assert [(u, h) for u, _, h in got] == [(u, h) for u, _, h in _records()]
        assert all(ts == TS.replace(tzinfo=timezone.utc) for _, ts, _ in got)


def test_non_response_records_skipped_and_no_http_head():
    info = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Type: application/warc-fields\r\n"
        b"Content-Length: 9\r\n\r\nrobots: x\r\n\r\n"
    )
    req = (
        b"WARC/1.0\r\nWARC-Type: request\r\nWARC-Target-URI: https://a.example/one\r\n"
        b"WARC-Date: 2024-03-01T12:00:00Z\r\nContent-Length: 4\r\n\r\nGET \r\n\r\n"
    )
    # a conversion-style response without HTTP headers: payload kept whole
    resp = (
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://c.example/raw\r\n"
        b"WARC-Date: 2024-03-01T13:00:00Z\r\nContent-Type: text/html\r\n"
        b"Content-Length: 11\r\n\r\n<p>body</p>\r\n\r\n"
    )
    got = parse_warc(info + req + resp)
    assert got == [
        ("https://c.example/raw", datetime(2024, 3, 1, 13, 0, 0, tzinfo=timezone.utc), b"<p>body</p>")
    ]


def test_truncated_tail_keeps_earlier_records(tmp_path):
    p = str(tmp_path / "t.warc")
    write_warc(p, _records(), compress=False)
    with open(p, "rb") as fh:
        data = fh.read()
    got = parse_warc(data[:-40])  # cut into record 2's body
    assert [u for u, _, _ in got] == ["https://a.example/one"]
    # garbage header after a valid record: parse stops, no raise
    assert [u for u, _, _ in parse_warc(data[: len(data) // 2] + b"NOT A HEADER")] != []


def test_negative_content_length_ends_parse(tmp_path):
    """A Content-Length of minus the header's own length would move the
    cursor back onto the same header, re-appending its record forever;
    it is a malformed record and ends the file's parse."""
    p = str(tmp_path / "v.warc")
    write_warc(p, [_records()[0]], compress=False)
    with open(p, "rb") as fh:
        valid = fh.read()
    bad = b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://c/\r\nContent-Length: -82\r\n\r\n"
    assert len(bad) == 82

    def timeout(signum, frame):
        raise TimeoutError("parse_warc did not return")

    old = signal.signal(signal.SIGALRM, timeout)
    signal.alarm(10)
    try:
        got = parse_warc(valid + bad)
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)
    assert [u for u, _, _ in got] == ["https://a.example/one"]


def test_corrupt_gzip_member_salvages_prior_records(tmp_path):
    """A bit-flipped/garbage member mid-archive must cost the file's
    REMAINING records, never raise into the Spark task (the module's
    tolerance contract)."""
    p = str(tmp_path / "c.warc.gz")
    write_warc(p, [_records()[0]], compress=True)
    with open(p, "rb") as fh:
        valid = fh.read()
    got = parse_warc(valid + b"\x1f\x8b\x08" + b"\x00" * 64)
    assert [u for u, _, _ in got] == ["https://a.example/one"]
    # truncated final member: same salvage
    p2 = str(tmp_path / "t.warc.gz")
    write_warc(p2, _records(), compress=True)
    with open(p2, "rb") as fh:
        both = fh.read()
    got = parse_warc(both[:-20])
    assert [u for u, _, _ in got] == ["https://a.example/one"]


def test_multimember_gzip_is_cc_layout(tmp_path):
    p = str(tmp_path / "cc.warc.gz")
    write_warc(p, _records(), compress=True)
    with open(p, "rb") as fh:
        raw = fh.read()
    # must be TWO members (splittable layout), not one stream
    assert raw.count(b"\x1f\x8b\x08") >= 2
    # and each member independently decompressible
    first_end = raw.find(b"\x1f\x8b\x08", 3)
    assert b"WARC/1.0" in gzip.decompress(raw[:first_end])


def test_read_warc_spark_to_pages_and_extractor(spark, tmp_path):
    d = tmp_path / "warcs"
    d.mkdir()
    write_warc(str(d / "a.warc.gz"), [_records()[0]], compress=True)
    write_warc(str(d / "b.warc"), [_records()[1]], compress=False)
    pages = read_warc(spark, str(d))
    rows = {r["url"]: r for r in pages.collect()}
    assert set(rows) == {"https://a.example/one", "https://b.example/two"}
    r = rows["https://a.example/one"]
    assert bytes(r["html"]) == HTML1 and r["text"] is None and r["lang"] is None
    assert r["warc_ts"] == TS
    # feeds the boilerplate extractor end-to-end (WARC -> html -> text)
    from coap_rfc_knowledge_graph_spark.operators.html_extract import main_content

    texts = {r["url"]: r["text"] for r in main_content(pages).collect()}
    assert "specialized web transfer protocol" in texts["https://a.example/one"]
    assert "request response semantics" in texts["https://b.example/two"]


def test_read_warc_instants_under_non_utc_session(spark, tmp_path):
    """warc_ts keeps the record's UTC instant whatever the session time
    zone; a record without a WARC-Date reads as NULL next to dated ones."""
    d = tmp_path / "tz"
    d.mkdir()
    far = datetime(9999, 12, 31, 23, 59, 59)
    write_warc(str(d / "a.warc"), [_records()[0], ("https://c.example/far", far, HTML1)],
               compress=False)
    undated = (
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://d.example/undated\r\n"
        b"Content-Length: 11\r\n\r\n<p>body</p>\r\n\r\n"
    )
    with open(d / "a.warc", "ab") as fh:
        fh.write(undated)
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")  # UTC+9, no DST
        got = dict(
            read_warc(spark, str(d)).select("url", F.col("warc_ts").cast("long")).collect()
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    assert got == {
        "https://a.example/one": int(TS.replace(tzinfo=timezone.utc).timestamp()),
        "https://c.example/far": int(far.replace(tzinfo=timezone.utc).timestamp()),
        "https://d.example/undated": None,
    }


def test_warc_to_kg_end_to_end(spark, tmp_path):
    """The whole north-rule loop through the spark-submit entry point:
    WARC archives -> --from-warc ingest -> --html-extract boilerplate
    removal -> --normalize-unicode -> resumable KG build (sentences,
    mentions, triples, entities) with non-empty stage manifests."""
    import sys
    from datetime import datetime

    from pyspark.sql import functions as F

    from coap_rfc_knowledge_graph_spark.sources.pages import synthetic_pages

    # real extraction-bearing text, wrapped in boilerplate-laden HTML
    docs = (
        synthetic_pages(spark, 16)
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select("url", "text")
        .limit(12)
        .collect()
    )
    assert len(docs) == 12
    nav = '<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/b">Shop</a></nav>'
    records = []
    for i, r in enumerate(docs):
        body = r["text"].replace("\n\n", "</p><p>")
        html = f"<html><head><script>x=1</script></head><body>{nav}<article><p>{body}</p></article></html>"
        records.append((r["url"], datetime(2024, 3, 1, 6 + (i % 12)), html.encode()))
    d = tmp_path / "crawl"
    d.mkdir()
    write_warc(str(d / "seg0.warc.gz"), records[:6], compress=True)
    write_warc(str(d / "seg1.warc.gz"), records[6:], compress=True)

    out = str(tmp_path / "state")
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")
    )
    import run_pipeline

    old = sys.argv
    try:
        sys.argv = [
            "run_pipeline.py", "--pages", str(d), "--out", out,
            "--from-warc", "--html-extract", "--normalize-unicode", "NFC",
            "--link-graph", "--url-partitions", "4",
        ]
        run_pipeline.main()
    finally:
        sys.argv = old
    from coap_rfc_knowledge_graph_spark.plans.checkpointing import StageStore

    store = StageStore(out)
    curated = store.read(spark, "curated_pages")
    assert curated.count() == 12
    assert curated.filter(F.col("text").contains("Home")).count() == 0  # nav stripped
    for stage in ("sentences", "mentions", "triples", "entities"):
        assert store.manifest(stage)["row_count"] > 0, stage
    # the hyperlink graph was materialized from the raw crawl (each
    # page carries the 3 nav links)
    lg = store.read(spark, "link_graph")
    assert lg.count() == 36 and set(lg.columns) == {"src", "dst", "anchor"}


def test_job_html_extract_and_normalize_prepasses(spark):
    """--html-extract fills NULL text from html (rows with text pass
    through untouched) and --normalize-unicode runs the NFC corpus
    pass — wired through the same _apply_prepasses the job runs."""
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")
    )
    import run_pipeline

    decomposed = "café"
    rows = [
        ("u0", bytearray(HTML1), None, "en"),
        ("u1", bytearray(b"<p>ignored</p>"), f"existing {decomposed} text", "en"),
        ("u2", None, None, "en"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary, text string, lang string")
    args = run_pipeline.parse_args(
        ["--pages", "-", "--out", "-", "--html-extract", "--normalize-unicode", "NFC"]
    )
    out = {r.url: r.text for r in run_pipeline._apply_prepasses(spark, args, pages).collect()}
    assert "specialized web transfer protocol" in out["u0"]
    assert out["u1"] == "existing café text"  # untouched by extract, NFC-composed
    assert out["u2"] is None  # nothing to extract from, nulls flow


def test_warc11_fractional_second_dates_parse():
    """WARC 1.1 permits fractional seconds; those records must keep
    their timestamp instead of silently getting warc_ts=NULL."""
    body = b"<html>x</html>"
    rec = (
        b"WARC/1.1\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://frac.example/\r\n"
        b"WARC-Date: 2024-03-01T12:00:00.123456Z\r\n"
        b"Content-Length: %d\r\n\r\n" % len(body)
    ) + body + b"\r\n\r\n"
    got = parse_warc(rec)
    assert len(got) == 1
    url, ts, payload = got[0]
    assert ts == datetime(2024, 3, 1, 12, 0, 0, 123456, tzinfo=timezone.utc)
    assert payload == body


def test_warc_date_with_offset_normalizes_to_utc():
    body = b"y"
    rec = (
        b"WARC/1.1\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://off.example/\r\n"
        b"WARC-Date: 2024-03-01T14:00:00+02:00\r\n"
        b"Content-Length: 1\r\n\r\n" + body + b"\r\n\r\n"
    )
    got = parse_warc(rec)
    assert got[0][1] == datetime(2024, 3, 1, 12, 0, 0, tzinfo=timezone.utc)


def test_write_wet_roundtrip(spark, tmp_path):
    """The WET sink closes the archive loop: pages out as WARC
    conversion records, read back byte-identically by the repo's own
    parser with record_types=('conversion',)."""
    from coap_rfc_knowledge_graph_spark.sources.warc import write_wet

    rows = [
        ("https://a.example/one", datetime(2024, 3, 1, 12, tzinfo=timezone.utc),
         "Extracted text one.\n\nSecond paragraph — naïve café."),
        ("https://b.example/two", None, "Short."),
        ("https://c.example/null", datetime(2024, 3, 2, tzinfo=timezone.utc), None),
    ]
    pages = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")
    out = str(tmp_path / "wet")
    manifest = write_wet(pages.repartition(2), out).collect()
    files = sorted(r.path for r in manifest if r.path)
    assert files and all(p.endswith(".warc.wet.gz") for p in files)
    assert sum(r.n_records for r in manifest) == 2  # NULL-text row skipped
    got = []
    for p in files:
        with open(p, "rb") as fh:
            got.extend(parse_warc(fh.read(), record_types=("conversion",)))
    by_url = {u: (ts, payload) for u, ts, payload in got}
    assert set(by_url) == {"https://a.example/one", "https://b.example/two"}
    ts1, body1 = by_url["https://a.example/one"]
    assert body1.decode() == rows[0][2]  # byte-identical text incl. unicode
    assert ts1 == rows[0][1]
    ts2, body2 = by_url["https://b.example/two"]
    assert body2 == b"Short." and ts2 == datetime(1970, 1, 1, tzinfo=timezone.utc)
    # the default reader must NOT see conversion records as pages
    with open(files[0], "rb") as fh:
        assert parse_warc(fh.read()) == []


def test_write_wet_uncompressed_and_empty_partitions(spark, tmp_path):
    from coap_rfc_knowledge_graph_spark.sources.warc import write_wet

    pages = spark.createDataFrame(
        [("https://a.example/x", datetime(2024, 1, 1, tzinfo=timezone.utc), "t")],
        "url string, warc_ts timestamp, text string",
    )
    out = str(tmp_path / "wet_plain")
    manifest = write_wet(pages.repartition(8), out, compress=False).collect()
    assert len(manifest) == 8
    written = [r for r in manifest if r.path]
    assert len(written) == 1 and written[0].n_records == 1
    assert all(r.path is None and r.n_records == 0 for r in manifest if not r.path)
    with open(written[0].path, "rb") as fh:
        data = fh.read()
    assert data.startswith(b"WARC/1.0\r\nWARC-Type: conversion")
    assert parse_warc(data, record_types=("conversion",))[0][2] == b"t"


def test_job_wet_out(spark, tmp_path):
    """--wet-out exports the curated pages as WET segment files the
    repo's own parser reads back."""
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")
    )
    import run_pipeline

    rows = [
        (f"https://s{i}.example/p", None,
         f"The CoAP client MUST retry request number {i} after a timeout.", "en")
        for i in range(6)
    ]
    src = str(tmp_path / "pages_src")
    spark.createDataFrame(rows, "url string, html binary, text string, lang string").write.parquet(src)
    out = str(tmp_path / "state")
    wet = str(tmp_path / "wet")
    old = sys.argv
    try:
        sys.argv = ["run_pipeline.py", "--pages", src, "--out", out, "--wet-out", wet]
        run_pipeline.main()
    finally:
        sys.argv = old
    got = []
    for name in sorted(os.listdir(wet)):
        with open(os.path.join(wet, name), "rb") as fh:
            got.extend(parse_warc(fh.read(), record_types=("conversion",)))
    assert sorted(u for u, _, _ in got) == sorted(r[0] for r in rows)
    texts = {u: p.decode() for u, _, p in got}
    assert texts["https://s3.example/p"] == rows[3][2]


def test_write_wet_rerun_leaves_only_manifest_segments(spark, tmp_path):
    """A re-run into the same directory with fewer records: a partition
    that now writes nothing removes its own earlier segment, so the
    directory holds exactly the files the manifest names."""
    from coap_rfc_knowledge_graph_spark.sources.warc import write_wet

    out = str(tmp_path / "wet")

    def run(n):
        rows = [(f"https://r.example/{i}", datetime(2024, 1, 1), f"text {i}") for i in range(n)]
        pages = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")
        return write_wet(pages.repartition(4), out).collect()

    assert sum(r.n_records for r in run(8)) == 8 and len(os.listdir(out)) == 4
    manifest = run(1)
    assert sorted(os.path.join(out, f) for f in os.listdir(out)) == sorted(
        r.path for r in manifest if r.path
    )
    got = []
    for name in os.listdir(out):
        with open(os.path.join(out, name), "rb") as fh:
            got.extend(parse_warc(fh.read(), record_types=("conversion",)))
    assert [(u, p) for u, _, p in got] == [("https://r.example/0", b"text 0")]


def test_write_wet_sanitizes_crlf_in_url(spark, tmp_path):
    """A url carrying CR/LF must not inject WARC header lines."""
    from coap_rfc_knowledge_graph_spark.sources.warc import write_wet

    evil = "https://a.example/x\r\nWARC-Type: warcinfo\r\nX: y"
    pages = spark.createDataFrame(
        [(evil, datetime(2024, 1, 1, tzinfo=timezone.utc), "body")],
        "url string, warc_ts timestamp, text string",
    )
    out = str(tmp_path / "wet")
    manifest = write_wet(pages.coalesce(1), out).collect()
    path = next(r.path for r in manifest if r.path)
    with open(path, "rb") as fh:
        recs = parse_warc(fh.read(), record_types=("conversion",))
    assert len(recs) == 1
    url, _, body = recs[0]
    assert "%0D%0A" in url and "\r" not in url and body == b"body"


def test_write_wet_correct_under_non_utc_session(spark, tmp_path):
    """Arrow hands the worker session-local naive datetimes; the sink
    must localize back before stamping WARC-Date, or every exported
    timestamp shifts by the session offset."""
    from coap_rfc_knowledge_graph_spark.sources.warc import write_wet

    instant = datetime(2024, 3, 1, 12, 0, 0, tzinfo=timezone.utc)
    pages = spark.createDataFrame(
        [("https://a.example/x", instant, "t")],
        "url string, warc_ts timestamp, text string",
    )
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")  # UTC+9, no DST
        out = str(tmp_path / "wet_tz")
        manifest = write_wet(pages.coalesce(1), out).collect()
        path = next(r.path for r in manifest if r.path)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    with open(path, "rb") as fh:
        (url, ts, body), = parse_warc(fh.read(), record_types=("conversion",))
    assert ts == instant  # NOT 21:00Z


def test_wet_roundtrip_property(spark, tmp_path):
    """Property-style WET round trip: arbitrary printable urls/texts
    (incl. unicode, newlines in text, CR/LF in urls) survive
    write_wet -> parse_warc byte-exactly."""
    import random
    import string

    rng = random.Random(42)
    alphabet = string.printable + "äöüßéñ中文🙂"
    # header-field values are whitespace-trimmed by every WARC parser
    # (incl. ours), so urls avoid leading/trailing-strippable chars;
    # CR/LF stay in to exercise the documented percent-encoding
    url_alphabet = (
        "".join(c for c in string.printable if not c.isspace()) + "äñ中\r\n"
    )
    rows = []
    for i in range(40):
        url = "https://f.example/" + "".join(
            rng.choice(url_alphabet) for _ in range(rng.randint(0, 30))
        )
        text = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 200)))
        rows.append((i, url, text))
    pages = spark.createDataFrame(
        [(u, datetime(2024, 1, 1, tzinfo=timezone.utc), t) for _, u, t in rows],
        "url string, warc_ts timestamp, text string",
    )
    out = str(tmp_path / "wet_prop")
    manifest = write_wet_import()(pages.repartition(3), out).collect()
    got = []
    for r in manifest:
        if r.path:
            with open(r.path, "rb") as fh:
                got.extend(parse_warc(fh.read(), record_types=("conversion",)))
    assert len(got) == 40
    # texts survive byte-exactly; urls survive modulo the documented
    # CR/LF percent-encoding
    expect_texts = sorted(t for _, _, t in rows)
    assert sorted(p.decode("utf-8") for _, _, p in got) == expect_texts
    sanitize = lambda u: u.replace("\r", "%0D").replace("\n", "%0A")  # noqa: E731
    assert sorted(u for u, _, _ in got) == sorted(sanitize(u) for _, u, _ in rows)


def write_wet_import():
    from coap_rfc_knowledge_graph_spark.sources.warc import write_wet

    return write_wet
