"""WARC source: from-scratch ISO 28500 reader → input_hint pages table."""

from __future__ import annotations

import datetime as dt

from icrawler_spark.crawl.warc import (
    build_warc_bytes,
    parse_warc_records,
    read_warc,
)

RECS = [
    ("https://w.test/a.html", "2024-01-01T00:00:00Z", b"<html><body>A</body></html>"),
    ("https://w.test/b.html", "2024-01-02T12:30:00Z", b"<html><body>B</body></html>"),
]


def test_parse_records_plain_and_gzip_members():
    for gz in (False, True):
        data = build_warc_bytes(RECS, gzip_members=gz)
        got = list(parse_warc_records(data))
        assert len(got) == 2
        h0, block0 = got[0]
        assert h0["warc-type"] == "response"
        assert h0["warc-target-uri"] == "https://w.test/a.html"
        assert block0.endswith(b"<html><body>A</body></html>")


def test_parse_records_corrupt_tail_keeps_prefix():
    data = build_warc_bytes(RECS) + b"WARC/1.0\r\nContent-Length: oops\r\n\r\nx"
    assert len(list(parse_warc_records(data))) == 2
    # truncated mid-record: prefix survives
    whole = build_warc_bytes(RECS)
    assert len(list(parse_warc_records(whole[: len(whole) - 10]))) == 1
    assert list(parse_warc_records(b"")) == []
    assert list(parse_warc_records(b"not a warc at all")) == []


def test_read_warc_dataframe_and_crawl(spark, tmp_path):
    """read_warc produces the exact input_hint schema; the resulting pages
    table drives the real CrawlEngine (seed fetch + pagination follow)."""
    from icrawler_spark.crawl import CrawlConfig, CrawlEngine

    host = "https://w.test"
    recs = [
        (f"{host}/p0.html", "2024-01-01T00:00:00Z",
         f'<html><body><a href="{host}/p1.html">下一页</a></body></html>'.encode()),
        (f"{host}/p1.html", "2024-01-01T00:00:01Z", b"<html><body>end</body></html>"),
        # a request record must be ignored
    ]
    raw = build_warc_bytes(recs, gzip_members=True)
    raw += (
        b"WARC/1.0\r\nWARC-Type: request\r\n"
        b"WARC-Target-URI: https://w.test/p0.html\r\n"
        b"Content-Length: 2\r\n\r\nhi\r\n\r\n"
    )
    f = tmp_path / "seg-00000.warc.gz"
    f.write_bytes(raw)

    pages = read_warc(spark, str(f))
    assert [f.name for f in pages.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang", "redirect_to"
    ]
    rows = {r.url: r for r in pages.collect()}
    assert set(rows) == {f"{host}/p0.html", f"{host}/p1.html"}
    assert rows[f"{host}/p0.html"].warc_ts == dt.datetime(2024, 1, 1, 0, 0, 0)
    assert bytes(rows[f"{host}/p0.html"].html).startswith(b"<html>")  # http hdrs stripped

    eng = CrawlEngine(
        spark,
        pages,
        CrawlConfig(start_url=f"{host}/p0.html", max_rounds=5,
                    use_bloom=False, parse_entries=False),
    )
    eng.run()
    assert eng.crawl_order() == [f"{host}/p0.html", f"{host}/p1.html"]


def test_write_warc_roundtrip(spark, tmp_path):
    """pages → WARC segments → pages: urls, timestamps, and payload bytes
    survive byte-exact; segment count = partition count."""
    import datetime as dt

    from icrawler_spark.crawl.warc import read_warc, write_warc

    rows = [
        (f"https://rt.test/p{i}.html", dt.datetime(2024, 2, 1, 0, 0, i),
         f"<html><body>page {i} 中文</body></html>".encode(), None, None)
        for i in range(23)
    ] + [("https://rt.test/null.html", dt.datetime(2024, 2, 2), None, None, None)]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp_ntz, html binary, text string, lang string"
    ).repartition(3)
    out = str(tmp_path / "segs")
    written = write_warc(pages, out).collect()
    assert sum(r.n_records for r in written) == 23  # NULL html skipped
    assert 1 <= len([r for r in written if r.path]) <= 3

    back = read_warc(spark, out + "/*.warc.gz")
    got = {r.url: (r.warc_ts, bytes(r.html)) for r in back.collect()}
    assert len(got) == 23
    for i in range(23):
        ts, html = got[f"https://rt.test/p{i}.html"]
        assert ts == dt.datetime(2024, 2, 1, 0, 0, i)
        assert html == f"<html><body>page {i} 中文</body></html>".encode()


def test_warc_redirects_end_to_end(spark, tmp_path):
    """A WARC archive containing a 301 drives the engine's redirect
    following natively: Location is surfaced as redirect_to, the target is
    crawled, and write_warc preserves the 301 through a roundtrip."""
    from icrawler_spark.crawl import CrawlConfig, CrawlEngine
    from icrawler_spark.crawl.warc import build_warc_bytes, read_warc, write_warc

    host = "https://wr.test"
    raw = build_warc_bytes(
        [
            (f"{host}/old.html", "2024-01-01T00:00:00Z", b"", f"{host}/new.html"),
            (f"{host}/new.html", "2024-01-01T00:00:01Z", b"<html><body>target</body></html>"),
        ],
        gzip_members=True,
    )
    f = tmp_path / "seg.warc.gz"
    f.write_bytes(raw)
    pages = read_warc(spark, str(f))
    rows = {r.url: r.redirect_to for r in pages.collect()}
    assert rows == {f"{host}/old.html": f"{host}/new.html", f"{host}/new.html": None}

    eng = CrawlEngine(
        spark, pages,
        CrawlConfig(start_url=f"{host}/old.html", max_rounds=5,
                    use_bloom=False, parse_entries=False),
    )
    eng.run()
    assert eng.crawl_order() == [f"{host}/old.html", f"{host}/new.html"]

    out = str(tmp_path / "rt")
    write_warc(pages, out).collect()
    again = {r.url: r.redirect_to for r in read_warc(spark, out + "/*.warc.gz").collect()}
    assert again == rows  # 301 Location survives the sink→source roundtrip


def test_streaming_read_memory_is_o_record_not_o_segment(tmp_path):
    """The 100×-scale contract: parsing a segment holds O(record) memory,
    never the inflated segment. Build a segment that inflates to ~256 MB
    (64 records × 4 MB, per-record gzip members — the Common Crawl layout)
    and iterate it through the same chunk/record machinery read_warc uses;
    tracemalloc peak must stay far below the inflated size."""
    import gzip
    import tracemalloc

    from icrawler_spark.crawl.warc import _iter_inflated_chunks, _iter_warc_records

    rec_mb = 4
    n_recs = 64
    body = b"x" * (rec_mb << 20)
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        + f"Content-Length: {len(body)}\r\n\r\n".encode()
        + body
    )
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://big.test/x\r\n"
        b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        + f"Content-Length: {len(http)}\r\n\r\n".encode()
        + http
        + b"\r\n\r\n"
    )
    member = gzip.compress(rec, compresslevel=1)
    seg = tmp_path / "big.warc.gz"
    with open(seg, "wb") as fh:
        for _ in range(n_recs):
            fh.write(member)

    inflated_total = len(rec) * n_recs
    assert inflated_total >= 256 << 20

    tracemalloc.start()
    count = 0
    with open(seg, "rb") as fh:
        for headers, block in _iter_warc_records(_iter_inflated_chunks(fh)):
            assert len(block) == len(http)
            count += 1
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert count == n_recs
    # peak must be a handful of records (buffer + yielded block + chunk),
    # nowhere near the 256 MB inflated stream
    assert peak < 48 << 20, f"peak {peak >> 20} MB vs inflated {inflated_total >> 20} MB"


def test_write_warc_streams_records(tmp_path, spark):
    """write_warc frames/compresses record-at-a-time: a partition larger
    than the old buffer-the-partition approach writes the same byte-exact
    archive (roundtrip equality is covered above); here we check multi-file
    globbing + a plain (non-gzip) segment read back through the streaming
    chunker's passthrough path."""
    import datetime as dt

    from icrawler_spark.crawl.warc import read_warc, write_warc

    rows = [
        (f"https://pt.test/p{i}.html", dt.datetime(2024, 6, 1, 0, 0, i),
         f"<html>{i}</html>".encode(), None, None)
        for i in range(7)
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp_ntz, html binary, text string, lang string"
    ).repartition(2)
    out = str(tmp_path / "plain")
    written = write_warc(pages, out, gzip_members=False).collect()
    assert sum(r.n_records for r in written) == 7
    back = read_warc(spark, out + "/*.warc")
    assert {r.url for r in back.collect()} == {r[0] for r in rows}


def test_write_warc_failed_partition_leaves_no_segment(tmp_path, spark):
    """A partition that fails after its first record was written must leave
    no seg-* file behind: records stream into a hidden temp file that is
    renamed only on success and unlinked on failure. One record per Arrow
    batch; the second batch carries a timestamp pandas cannot represent, so
    the task fails while reading it, after record one is on disk."""
    import os

    import pytest

    from icrawler_spark.crawl.warc import write_warc

    rows = [
        ("https://f.test/a.html", dt.datetime(2024, 1, 1), b"<html>a</html>"),
        ("https://f.test/b.html", dt.datetime(1, 1, 1), b"<html>b</html>"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp_ntz, html binary"
    ).coalesce(1)
    out = str(tmp_path / "failed")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        with pytest.raises(Exception):
            write_warc(pages, out).collect()
    finally:
        spark.conf.set(key, prev)
    assert os.listdir(out) == []


def test_read_warc_malformed_date_is_null_not_fatal(tmp_path, spark):
    """A malformed WARC-Date in an otherwise well-framed record must not
    fail the read (ANSI cast would throw): try_to_timestamp → NULL."""
    from icrawler_spark.crawl.warc import build_warc_bytes, read_warc

    raw = build_warc_bytes(
        [("https://d.test/ok.html", "2024-01-01T00:00:00Z", b"<html>ok</html>"),
         ("https://d.test/bad.html", "not-a-date-at-all", b"<html>bad</html>")],
        gzip_members=True,
    )
    f = tmp_path / "dates.warc.gz"
    f.write_bytes(raw)
    rows = {r.url: r.warc_ts for r in read_warc(spark, str(f)).collect()}
    assert rows["https://d.test/bad.html"] is None
    assert rows["https://d.test/ok.html"] is not None
