"""WARC source: Common-Crawl-style archives → the input_hint pages table.

The input corpus the north_rule describes ("Iceberg table of
Common-Crawl-style web pages") is distributed, in the wild, as WARC files
(ISO 28500): concatenated records of the form

    WARC/1.0\r\n
    <warc headers>\r\n
    \r\n
    <block: http response headers \r\n\r\n payload>
    \r\n\r\n

Common Crawl ships ~1 GB ``.warc.gz`` segments where every record is its
own gzip member, so the standard Spark ingestion shape is ONE FILE PER
TASK: Spark's ``binaryFile`` source lists the segment files (column-pruned
to ``path`` only — the content bytes never enter the JVM row), and an
Arrow-batched ``mapInPandas`` STREAMS each file's records executor-side.
No record ever crosses a partition boundary (the classic "WARC files don't
split" rule), parallelism = number of segment files — exactly how a 100 TB
crawl dump is laid out (tens of thousands of segments).

Memory contract — O(record), never O(segment): the per-record gzip members
exist precisely so consumers can stream. ``read_warc`` inflates one bounded
chunk at a time, holds at most (one record + one chunk) in the parse
buffer, and yields pandas frames every ``_BATCH_RECORDS`` records /
``_BATCH_BYTES`` payload bytes; ``write_warc`` compresses and writes each
record as it arrives instead of buffering the partition.  A 1 GB segment
that inflates to 3-5 GB therefore costs an executor a few MB, not a few GB
— 32 concurrent file-tasks stay flat instead of multiplying segment size.

From-scratch parser (no warcio in this sandbox, and none needed): WARC and
HTTP framing are byte-exact header blocks split on CRLFCRLF with
``Content-Length``-framed blocks. Only ``WARC-Type: response`` records
become pages rows; the html payload is the HTTP body (headers stripped),
``url`` = WARC-Target-URI, ``warc_ts`` = WARC-Date (``try_to_timestamp``:
a malformed date in an otherwise well-framed record becomes NULL, it does
not fail the read — same corrupt-tolerant posture as the framing).
``text``/``lang`` are left NULL — they are downstream extraction products,
not archive contents.
"""

from __future__ import annotations

import io
import zlib

from pyspark.sql import DataFrame, SparkSession

_CRLF2 = b"\r\n\r\n"

# read_warc emits a pandas frame whenever either bound trips: keeps Arrow
# batches (and executor-Python memory) flat regardless of segment size.
_BATCH_RECORDS = 1000
_BATCH_BYTES = 64 << 20

# an on-wire header block larger than this is garbage, not a header — stop
# at the well-formed prefix instead of buffering unboundedly looking for
# the CRLFCRLF terminator
_MAX_HEADER_BYTES = 1 << 20

_CHUNK = 1 << 20


def _iter_inflated_chunks(fh, chunk_size: int = _CHUNK):
    """Stream-decompress a (possibly multi-member) gzip file object into
    bounded chunks; plain (non-gzip) bytes pass through chunked.  A corrupt
    member ends the stream at the well-formed prefix.  Memory: O(chunk)."""
    head = fh.read(2)
    if head != b"\x1f\x8b":
        while head:
            yield head
            head = fh.read(chunk_size)
        return
    buf = head
    d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
    while True:
        if d is None:
            # between members: next member, or trailing plain bytes; the
            # 2-byte magic may straddle a read boundary, so top up first
            while len(buf) < 2:
                more = fh.read(chunk_size)
                if not more:
                    break
                buf += more
            if not buf:
                return
            if buf[:2] == b"\x1f\x8b":
                d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
            else:
                while buf:
                    yield buf
                    buf = fh.read(chunk_size)
                return
        if not buf:
            buf = fh.read(chunk_size)
            if not buf:
                return
        try:
            out = d.decompress(buf)
        except zlib.error:
            return  # corrupt tail — keep the well-formed prefix
        if out:
            yield out
        if d.eof:
            buf = d.unused_data
            d = None
        else:
            buf = b""


def _iter_warc_records(chunks):
    """Incremental WARC record parser over an iterator of byte chunks.

    Yields (headers: dict, block: bytes) per record.  Content-Length
    framing per ISO 28500 §4; a record missing or lying about
    Content-Length ends the well-formed prefix (corrupt-tolerant:
    everything parsed so far is kept, the tail is skipped — the PERMISSIVE
    posture the extract-summary source uses too).  The buffer holds at most
    one record plus one input chunk."""
    it = iter(chunks)
    buf = b""
    eof = False

    def fill(need: int) -> bool:
        nonlocal buf, eof
        while not eof and len(buf) < need:
            try:
                buf += next(it)
            except StopIteration:
                eof = True
        return len(buf) >= need

    while True:
        # skip inter-record line breaks
        while fill(1) and buf[:1] in (b"\r", b"\n"):
            buf = buf[2:] if buf[:2] == b"\r\n" else buf[1:]
        if not fill(5):
            return
        if buf[:5] != b"WARC/":
            return  # tail garbage — stop at the well-formed prefix
        hdr_end = buf.find(_CRLF2)
        while hdr_end < 0 and not eof and len(buf) < _MAX_HEADER_BYTES:
            fill(len(buf) + 1)
            hdr_end = buf.find(_CRLF2)
        if hdr_end < 0:
            return
        headers = _parse_headers(buf[:hdr_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return
        block_start = hdr_end + len(_CRLF2)
        block_end = block_start + length
        if not fill(block_end):
            return  # truncated final record
        yield headers, buf[block_start:block_end]
        buf = buf[block_end:]


def _parse_headers(block: bytes) -> dict[str, str]:
    """Header block → {lower(name): value}; tolerant of bare LF and folds."""
    headers: dict[str, str] = {}
    last = None
    for raw in block.split(b"\n"):
        line = raw.rstrip(b"\r")
        if not line:
            continue
        if line[:1] in (b" ", b"\t") and last is not None:  # obs-fold
            headers[last] += " " + line.strip().decode("latin-1")
            continue
        if b":" not in line:
            continue
        k, v = line.split(b":", 1)
        last = k.strip().decode("latin-1").lower()
        headers[last] = v.strip().decode("latin-1")
    return headers


def parse_warc_records(data: bytes):
    """Yield (headers: dict, block: bytes) per WARC record from in-memory
    bytes — the same streaming machinery ``read_warc`` uses, wrapped over a
    BytesIO (tests / small blobs; large segments go through ``read_warc``
    which never materializes the file)."""
    yield from _iter_warc_records(_iter_inflated_chunks(io.BytesIO(data)))


def _http_body(block: bytes) -> bytes:
    """HTTP response block → payload (headers stripped; tolerate bare body)."""
    if block[:5] in (b"HTTP/",):
        sep = block.find(_CRLF2)
        if sep >= 0:
            return block[sep + len(_CRLF2):]
    return block


def _http_redirect(block: bytes) -> str | None:
    """3xx response block → Location header value, else None."""
    if block[:5] != b"HTTP/":
        return None
    sep = block.find(_CRLF2)
    head = block[: sep if sep >= 0 else len(block)]
    status_line = head.split(b"\n", 1)[0]
    parts = status_line.split()
    if len(parts) < 2 or not parts[1].isdigit() or parts[1][:1] != b"3":
        return None
    return _parse_headers(head).get("location") or None


def _local_path(uri: str) -> str:
    """binaryFile path URI → local filesystem path (file: scheme or bare)."""
    from urllib.parse import unquote, urlparse

    p = urlparse(uri)
    if p.scheme in ("", "file"):
        return unquote(p.path) if p.scheme == "file" else uri
    raise NotImplementedError(
        f"read_warc streams from local/file: paths; got scheme {p.scheme!r}. "
        "For object stores, pass opener= a callable returning a streaming "
        "file object for the URI (e.g. an S3 ranged-GET body)."
    )


def read_warc(spark: SparkSession, path: str, opener=None) -> DataFrame:
    """WARC file(s) → input_hint pages DataFrame (url, warc_ts, html, text,
    lang). ``path`` accepts globs (``segments/*.warc.gz``). One task per
    file — the Common-Crawl segment layout IS the parallelism unit.

    Streaming read: only the file PATHS flow through Spark (binaryFile is
    column-pruned to ``path``); each executor task opens its segment and
    iterates gzip members record-by-record, so peak memory is one record +
    one 1 MB chunk + one bounded Arrow batch — not the inflated segment.
    ``opener(uri)`` injects a streaming file object for non-local storage
    (defaults to local ``open``)."""
    import pandas as pd
    from pyspark.sql import functions as F

    files = spark.read.format("binaryFile").load(path).select("path")
    _open = opener or (lambda uri: open(_local_path(uri), "rb"))

    def parse(batches):
        def fresh():
            return {"url": [], "warc_ts": [], "html": [], "redirect_to": []}

        rows, nbytes = fresh(), 0
        for pdf in batches:
            for uri in pdf["path"]:
                with _open(uri) as fh:
                    for headers, block in _iter_warc_records(
                        _iter_inflated_chunks(fh)
                    ):
                        if headers.get("warc-type") != "response":
                            continue
                        url = headers.get("warc-target-uri")
                        if not url:
                            continue
                        body = _http_body(block)
                        rows["url"].append(url)
                        rows["warc_ts"].append(headers.get("warc-date"))
                        rows["html"].append(body)
                        # 3xx Location → the engine's redirect_to column, so
                        # a WARC corpus drives the engine's redirect following
                        rows["redirect_to"].append(_http_redirect(block))
                        nbytes += len(body)
                        if len(rows["url"]) >= _BATCH_RECORDS or nbytes >= _BATCH_BYTES:
                            yield pd.DataFrame(rows)
                            rows, nbytes = fresh(), 0
        if rows["url"]:
            yield pd.DataFrame(rows)

    raw = files.mapInPandas(
        parse, "url string, warc_ts string, html binary, redirect_to string"
    )
    return raw.select(
        "url",
        F.try_to_timestamp(F.col("warc_ts")).alias("warc_ts"),
        "html",
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
        "redirect_to",
    )


def build_warc_bytes(records: list[tuple[str, str, bytes]], gzip_members: bool = False) -> bytes:
    """Synthesize a WARC stream for tests/benchmarks: (url, iso_date, html)
    → response records (with HTTP framing), optionally one gzip member per
    record (the Common Crawl layout)."""
    return b"".join(
        _record_bytes(rec[0], rec[1], rec[2], rec[3] if len(rec) > 3 else None,
                      gzip_members=gzip_members)
        for rec in records
    )


def _record_bytes(url: str, date: str, html: bytes, location: str | None,
                  gzip_members: bool = False) -> bytes:
    """One response record (with HTTP framing), optionally one gzip member."""
    import gzip as _gzip

    if location:
        http = (
            b"HTTP/1.1 301 Moved Permanently\r\n"
            + f"Location: {location}\r\n".encode()
            + f"Content-Length: {len(html)}\r\n\r\n".encode()
            + html
        )
    else:
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            + f"Content-Length: {len(html)}\r\n\r\n".encode()
            + html
        )
    rec = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        + f"WARC-Target-URI: {url}\r\n".encode()
        + f"WARC-Date: {date}\r\n".encode()
        + f"Content-Length: {len(http)}\r\n".encode()
        + b"\r\n"
        + http
        + b"\r\n\r\n"
    )
    return _gzip.compress(rec) if gzip_members else rec


def write_warc(pages: DataFrame, out_dir: str, gzip_members: bool = True) -> DataFrame:
    """pages table → WARC segment files, one per partition (the inverse of
    ``read_warc``): each executor partition writes ``seg-<uuid>.warc.gz``
    with one gzip member per record, Common-Crawl style. Returns a DataFrame
    (path, n_records) of the written segments — an action the caller fires.

    Scale shape: writing happens entirely executor-side (no driver collect)
    and RECORD-AT-A-TIME — each record is framed, compressed, and written as
    it arrives, so a task's memory is one record, never the partition.
    Segment count = partition count, so ``pages.repartition(n)`` before the
    call sizes the segments. Pages with NULL html are skipped (nothing to
    archive). ``warc_ts`` is emitted as ISO-8601 Z; absent → epoch."""
    import os
    import uuid

    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)
    cols = [c for c in ("url", "warc_ts", "html", "redirect_to") if c in pages.columns]

    def write_part(batches):
        # records stream into a hidden temp file that is renamed to its
        # seg-* name only once the partition is complete: a failed or retried
        # task must never leave a truncated segment for a seg-* glob to ingest
        fh, path, tmp, n = None, None, None, 0
        try:
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    if row.html is None:
                        continue
                    ts = getattr(row, "warc_ts", None)
                    iso = (
                        ts.strftime("%Y-%m-%dT%H:%M:%SZ")
                        if ts is not None and not pd.isna(ts)
                        else "1970-01-01T00:00:00Z"
                    )
                    loc = getattr(row, "redirect_to", None)
                    if fh is None:
                        seg = uuid.uuid4().hex
                        path = os.path.join(
                            out_dir,
                            f"seg-{seg}.warc" + (".gz" if gzip_members else ""),
                        )
                        tmp = os.path.join(out_dir, f".seg-{seg}.tmp")
                        fh = open(tmp, "wb")
                    fh.write(
                        _record_bytes(row.url, iso, bytes(row.html), loc or None,
                                      gzip_members=gzip_members)
                    )
                    n += 1
        except BaseException:
            if fh is not None:
                fh.close()
                os.unlink(tmp)
            raise
        if fh is not None:
            fh.close()
            os.rename(tmp, path)
        if n == 0:
            yield pd.DataFrame({"path": [], "n_records": []})
            return
        yield pd.DataFrame({"path": [path], "n_records": [n]})

    return pages.select(*cols).mapInPandas(write_part, "path string, n_records long")
