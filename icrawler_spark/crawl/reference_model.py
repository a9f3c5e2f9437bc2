"""Pure-Python oracle of the reference's crawl semantics.

Faithful transcription of ``iterate_listing_pages`` (ref pbc_monitor.py:
188-260): FIFO queue seeded with start_url, append-time dedup against
``visited ∪ queue ∪ new_links`` (pbc_monitor.py:249-254), visited marked
after processing. bs4 is unavailable in this sandbox, so link/entry
extraction uses this package's behavior-matched parsers (themselves
golden-tested against the reference's fixtures in tests/test_parsers.py).

Used as the test oracle for crawl-order + seen-set equality of the Spark
engine (BASELINE.md "identical crawl order + seen-set vs reference").

The optional ``host_budget`` extends the reference semantics per the
north_rule: each round processes, per netloc, at most ``budget`` queued pages
in FIFO order; the remainder keeps its queue position for the next round.
``host_budget=None`` reproduces the reference exactly.
"""

from __future__ import annotations

from ..functions.pure import classify_document_type, is_supported_scheme, url_netloc
from ..parsers.listing import (
    discover_detail_attachments,
    extract_listing_entries,
    extract_pagination_links,
)


def crawl_model(
    site: dict[str, str],
    start_url: str,
    dialect: str = "default",
    host_budget: int | None = None,
    max_rounds: int = 1000,
):
    """Returns (order, seen_urls, entries) —

    order: processing order of listing pages (missing pages included, as the
    engine also marks them visited);
    seen_urls: every document URL recorded in the seen set;
    entries: list of (title, serial, remark, [doc urls]) in discovery order.
    """
    queue: list[str] = [start_url]
    visited: set[str] = set()
    order: list[str] = []
    seen_urls: list[str] = []
    seen_set: set[str] = set()
    entries = []

    rounds = 0
    while queue and rounds < max_rounds:
        # one round = one BFS level (queue snapshot), budget applied per host
        level, queue = queue, []
        if host_budget is not None:
            taken: list[str] = []
            counts: dict[str, int] = {}
            deferred: list[str] = []
            for url in level:
                h = url_netloc(url)
                if counts.get(h, 0) < host_budget:
                    counts[h] = counts.get(h, 0) + 1
                    taken.append(url)
                else:
                    deferred.append(url)
            level, queue = taken, deferred
        new_links: list[str] = []
        for url in level:
            if url in visited:
                continue
            order.append(url)
            visited.add(url)
            html = site.get(url)
            if html is None:
                continue  # missing page: visited, nothing parsed
            for e in extract_listing_entries(url, html, dialect):
                docs = [d["url"] for d in e.get("documents", [])]
                entries.append((e.get("title"), e.get("serial"), e.get("remark"), docs))
                for d in e.get("documents", []):
                    if d["url"] not in seen_set:
                        seen_set.add(d["url"])
                        seen_urls.append(d["url"])
            for link in extract_pagination_links(url, html, start_url):
                if link not in visited and link not in queue and link not in new_links:
                    new_links.append(link)
        queue = queue + new_links
        rounds += 1
    return order, set(seen_urls), entries


def download_model(
    site: dict,
    entries,
    allowed_types: set[str] | None = None,
):
    """Serial transcription of ``_process_documents_for_entry``
    (ref pbc_monitor.py:572-813): per entry, walk the document queue with
    scheme/allowed filters, seen-set skip, download (url ∈ site), and html
    detail-attachment expansion re-queued one level.

    entries: discovery-ordered list of (title, serial, remark, [(url, type,
    title)]) — the richer shape from ``crawl_model_docs``. Returns
    (downloaded_urls, all_doc_urls, n_downloads)."""
    allowed = {t.lower() for t in allowed_types} if allowed_types is not None else None
    files_downloaded: set[str] = set()
    all_docs: set[str] = set()
    n_downloads = 0
    for _title, _serial, _remark, docs in entries:
        queue = [dict(d) for d in docs]
        seen_urls: set[str] = set()
        while queue:
            doc = queue.pop(0)
            url = doc.get("url")
            if not url or not is_supported_scheme(url):
                continue
            if url in seen_urls:
                continue
            seen_urls.add(url)
            ntype = (doc.get("type") or classify_document_type(url)).lower()
            if allowed is not None and ntype not in allowed:
                continue
            all_docs.add(url)
            if url in files_downloaded:
                continue
            content = site.get(url)
            if content is None:
                continue  # download failed — reference logs and continues
            files_downloaded.add(url)
            n_downloads += 1
            if ntype == "html":
                html = content if isinstance(content, str) else content.decode("utf-8", "ignore")
                for att in discover_detail_attachments(url, html):
                    att_type = (att.get("type") or classify_document_type(att["url"])).lower()
                    if allowed is not None and att_type not in allowed:
                        continue
                    if att["url"] not in seen_urls:
                        queue.append({"url": att["url"], "type": att_type, "title": att.get("title")})
    return files_downloaded, all_docs, n_downloads


def crawl_model_docs(site: dict, start_url: str, dialect: str = "default"):
    """Like crawl_model but entries carry full (url, type, title) documents."""
    _order, _seen, _entries = crawl_model(site, start_url, dialect)
    # re-walk pages in order to collect the full doc dicts
    queue = [start_url]
    visited: set[str] = set()
    rich = []
    while queue:
        url = queue.pop(0)
        if url in visited:
            continue
        visited.add(url)
        html = site.get(url)
        if html is None:
            continue
        text = html if isinstance(html, str) else html.decode("utf-8", "ignore")
        for e in extract_listing_entries(url, text, dialect):
            rich.append((e.get("title"), e.get("serial"), e.get("remark"), e.get("documents", [])))
        for link in extract_pagination_links(url, text, start_url):
            if link not in visited and link not in queue:
                queue.append(link)
    return rich
