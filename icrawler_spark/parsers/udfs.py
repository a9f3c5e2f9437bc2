"""Vectorized Spark liftings of the parse stage.

Arrow-batched ``mapInPandas`` transforms: html bytes in, structured rows out.
The HTML tree walk is inherently per-document Python, but batches cross the
JVM↔Python boundary as Arrow columns (no per-row serialization), matching the
input_hint's "vectorized pandas/Arrow UDFs, no per-row Python [at the Spark
level]" contract.

Page-size note for 100 TB: one input row = one page (≤ a few MB of html), so
an Arrow batch of the default 10k rows stays well under executor memory; cap
with spark.sql.execution.arrow.maxRecordsPerBatch when pages are large.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.pure import decode_html_bytes
from . import listing

DOCUMENT_STRUCT = StructType([
    StructField("doc_type", StringType()),
    StructField("url", StringType()),
    StructField("title", StringType()),
])

ENTRY_SCHEMA = StructType([
    StructField("task", StringType()),
    StructField("page_url", StringType()),
    StructField("entry_pos", IntegerType()),
    StructField("serial", IntegerType()),
    StructField("title", StringType()),
    StructField("remark", StringType()),
    StructField("documents", ArrayType(DOCUMENT_STRUCT)),
])

PAGINATION_SCHEMA = StructType([
    StructField("task", StringType()),
    StructField("page_url", StringType()),
    StructField("link_pos", LongType()),
    StructField("url", StringType()),
    StructField("text", StringType()),
    StructField("kind", StringType()),
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


def parse_listing_entries(pages: DataFrame) -> DataFrame:
    """pages(task, url, html, dialect) → one row per listing entry.

    ``entry_pos`` is the document-order position within the page — carried as
    data so BFS ordering survives any partitioning (SURVEY §4 hard-part (a)).
    """
    cols = set(pages.columns)
    required = {"task", "url", "html"}
    missing = required - cols
    if missing:
        raise ValueError(f"parse_listing_entries: missing columns {sorted(missing)}")
    has_dialect = "dialect" in cols

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in
                                    ("task", "page_url", "entry_pos", "serial",
                                     "title", "remark", "documents")}
            for row in pdf.itertuples(index=False):
                html = _html_of(row.html)
                dialect = getattr(row, "dialect", "default") if has_dialect else "default"
                for pos, e in enumerate(
                    listing.extract_listing_entries(row.url, html, dialect or "default")
                ):
                    out["task"].append(row.task)
                    out["page_url"].append(row.url)
                    out["entry_pos"].append(pos)
                    out["serial"].append(e.get("serial"))
                    out["title"].append(e.get("title"))
                    out["remark"].append(e.get("remark"))
                    out["documents"].append(
                        [{"doc_type": d.get("type"), "url": d.get("url"),
                          "title": d.get("title")} for d in e.get("documents", [])]
                    )
            yield _frame(out)

    return pages.mapInPandas(run, ENTRY_SCHEMA)


def parse_pagination_links(
    pages: DataFrame, carry: tuple[str, ...] = (), slim: bool = False
) -> DataFrame:
    """pages(task, url, html, start_url[, *carry]) → pagination link rows in
    document order (``link_pos`` reproduces the reference's FIFO append order).

    ``carry`` names long-typed input columns echoed verbatim onto every link
    row of their page — Arrow pass-through at a few bytes per row. The crawl
    frontier carries discovery_pos this way instead of joining the parse
    output back to the fetched-keys table: at 10^7-pages/round scale that
    join shuffled every candidate link row (~12x the round size) just to
    re-attach an integer the parse input already had.

    ``slim`` drops the (text, kind) columns from the output — the frontier
    never reads them, and at 10^7 pages/round the anchor text alone is
    ~0.5-1 GB of Arrow transfer plus the same again through the links pin
    on a memory-bandwidth-bound stage."""
    base = (
        [f for f in PAGINATION_SCHEMA.fields if f.name not in ("text", "kind")]
        if slim
        else list(PAGINATION_SCHEMA.fields)
    )
    carry_schema = StructType(base + [StructField(c, LongType()) for c in carry])
    cols = tuple(f.name for f in carry_schema.fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in cols}
            for row in pdf.itertuples(index=False):
                html = _html_of(row.html)
                meta = listing.extract_pagination_meta(row.url, html, row.start_url)
                kinds = (
                    {}
                    if slim
                    else {meta[k]: k for k in ("next", "prev", "first", "last") if meta[k]}
                )
                carried = [(c, getattr(row, c)) for c in carry]
                for pos, item in enumerate(meta["links"]):
                    out["task"].append(row.task)
                    out["page_url"].append(row.url)
                    out["link_pos"].append(pos)
                    out["url"].append(item["url"])
                    if not slim:
                        out["text"].append(item["text"])
                        out["kind"].append(kinds.get(item["url"]))
                    for c, v in carried:
                        out[c].append(v)
            yield _frame(out)

    return pages.mapInPandas(run, carry_schema)


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
