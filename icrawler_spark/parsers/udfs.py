"""Vectorized Spark liftings of the parse stage.

Arrow-batched ``mapInPandas`` transforms: html bytes in, structured rows out.
The HTML tree walk is inherently per-document Python, but batches cross the
JVM↔Python boundary as Arrow columns (no per-row serialization), matching the
input_hint's "vectorized pandas/Arrow UDFs, no per-row Python [at the Spark
level]" contract.

There are two: ``parse_pages`` decodes and parses each listing page ONCE and
emits its pagination links and listing entries as arrays on one row per page
(the crawl frontier pins that output once per round and reads both streams
from the pin), and ``parse_detail_attachments`` reads downloaded detail
pages. ``parse_pagination_links`` and ``parse_listing_entries`` are
``posexplode`` views over ``parse_pages``.

Page-size note for 100 TB: one input row = one page (≤ a few MB of html), so
an Arrow batch of the default 10k rows stays well under executor memory; cap
with spark.sql.execution.arrow.maxRecordsPerBatch when pages are large.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions.pure import decode_html_bytes
from . import listing
from .dom import parse_html

DOCUMENT_STRUCT = StructType([
    StructField("doc_type", StringType()),
    StructField("url", StringType()),
    StructField("title", StringType()),
])

ENTRY_STRUCT = StructType([
    StructField("serial", IntegerType()),
    StructField("title", StringType()),
    StructField("remark", StringType()),
    StructField("documents", ArrayType(DOCUMENT_STRUCT)),
])

ATTACHMENT_SCHEMA = StructType([
    StructField("task", StringType()),
    StructField("page_url", StringType()),
    StructField("att_pos", IntegerType()),
    StructField("doc_type", StringType()),
    StructField("url", StringType()),
    StructField("title", StringType()),
])


def _frame(out: dict[str, list]) -> pd.DataFrame:
    # explicit object dtype: an all-empty batch must not degrade complex
    # columns to float64, which Arrow cannot cast to list<struct>
    return pd.DataFrame({k: pd.Series(v, dtype=object) for k, v in out.items()})


def _html_of(value) -> str:
    if value is None:
        return ""
    if isinstance(value, (bytes, bytearray)):
        return decode_html_bytes(bytes(value))
    return str(value)


def parse_pages(pages: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """pages(task, url, html[, start_url][, dialect][, *carry]) → one row per
    page: (task, page_url, *carry[, links][, entries]).

    Each page's html is decoded and parsed ONCE; the one tree feeds every
    requested extractor. The input columns choose the outputs: ``start_url``
    adds ``links`` (pagination urls in document order — the reference's FIFO
    append order), ``dialect`` adds ``entries`` (listing entry structs in
    document order). Array positions are the link/entry positions, carried as
    data so BFS ordering survives any partitioning (SURVEY §4 hard-part (a)).

    ``carry`` names input columns echoed verbatim onto their page's row —
    the crawl frontier carries discovery_pos (and redirect_to) this way
    instead of joining the parse output back to the fetched-keys table."""
    cols = set(pages.columns)
    missing = {"task", "url", "html"} - cols
    if missing:
        raise ValueError(f"parse_pages: missing columns {sorted(missing)}")
    with_links = "start_url" in cols
    with_entries = "dialect" in cols
    schema = StructType(
        [StructField("task", StringType()), StructField("page_url", StringType())]
        + [StructField(c, pages.schema[c].dataType) for c in carry]
        + ([StructField("links", ArrayType(StringType()))] if with_links else [])
        + ([StructField("entries", ArrayType(ENTRY_STRUCT))] if with_entries else [])
    )
    names = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in names}
            for row in pdf.itertuples(index=False):
                root = parse_html(_html_of(row.html))
                out["task"].append(row.task)
                out["page_url"].append(row.url)
                for c in carry:
                    out[c].append(getattr(row, c))
                if with_links:
                    meta = listing.extract_pagination_meta(row.url, root, row.start_url)
                    out["links"].append([item["url"] for item in meta["links"]])
                if with_entries:
                    out["entries"].append([
                        {"serial": e.get("serial"), "title": e.get("title"),
                         "remark": e.get("remark"),
                         "documents": [{"doc_type": d.get("type"), "url": d.get("url"),
                                        "title": d.get("title")}
                                       for d in e.get("documents", [])]}
                        for e in listing.extract_listing_entries(
                            row.url, root, row.dialect or "default"
                        )
                    ])
            yield _frame(out)

    return pages.mapInPandas(run, schema)


def parse_listing_entries(pages: DataFrame) -> DataFrame:
    """pages(task, url, html[, dialect]) → one row per listing entry
    (task, page_url, entry_pos, serial, title, remark, documents): the
    exploded ``entries`` of :func:`parse_pages`."""
    if "dialect" not in pages.columns:
        pages = pages.withColumn("dialect", F.lit("default"))
    return parse_pages(pages.select("task", "url", "html", "dialect")).select(
        "task", "page_url", F.posexplode("entries").alias("entry_pos", "_e")
    ).select("task", "page_url", "entry_pos", "_e.*")


def parse_pagination_links(pages: DataFrame, slim: bool = True) -> DataFrame:
    """pages(task, url, html, start_url) → (task, page_url, link_pos, url)
    pagination link rows: the exploded ``links`` of :func:`parse_pages`.
    ``slim`` is kept for existing callers; the output is always slim."""
    return parse_pages(pages.select("task", "url", "html", "start_url")).select(
        "task", "page_url",
        F.posexplode("links").alias("link_pos", "url"),
    ).select("task", "page_url", F.col("link_pos").cast("long"), "url")


def parse_detail_attachments(pages: DataFrame) -> DataFrame:
    """pages(task, url, html) → attachments found on downloaded detail pages
    (one level of recursive expansion, ref pbc_monitor.py:532-569)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in
                                    ("task", "page_url", "att_pos", "doc_type", "url", "title")}
            for row in pdf.itertuples(index=False):
                html = _html_of(row.html)
                for pos, a in enumerate(
                    listing.discover_detail_attachments(row.url, html)
                ):
                    out["task"].append(row.task)
                    out["page_url"].append(row.url)
                    out["att_pos"].append(pos)
                    out["doc_type"].append(a["type"])
                    out["url"].append(a["url"])
                    out["title"].append(a["title"])
            yield _frame(out)

    return pages.mapInPandas(run, ATTACHMENT_SCHEMA)
