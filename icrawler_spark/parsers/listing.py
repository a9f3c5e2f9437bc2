"""Listing/detail-page extraction: the crawl engine's parse stage.

Behavior-matched re-implementation (on the stdlib-DOM in ``dom.py``) of the
reference parser dialects:

- ``default`` dialect — table rows → txtlist items → legacy flat links
  (ref parser.py:251-497)
- ``tiaofasi`` dialect — anchor-walk over the listing directory
  (ref parser_tiaofasi.py:153-222)
- pagination extraction (ref parser.py:555-601)
- detail-page attachment discovery (ref pbc_monitor.py:532-569)
- filename-title repair via anchor text (ref pbc_monitor.py:74-107)

These are pure functions ``(url, html) -> list[dict]`` — no Spark imports;
``udfs.py`` lifts them into Arrow-batched mapInPandas stages so the Spark-side
hot path stays columnar. ``html`` is the page text or its ``parse_html``
tree: the page-parse UDF parses each page once and hands the one tree to both
the pagination walk and the dialect entry parser.
"""

from __future__ import annotations

import os
import re
from urllib.parse import urljoin, urlparse

from ..functions.pure import (
    ATTACHMENT_SUFFIXES,
    classify_document_type,
    find_date_in_text,
    parse_serial,
    safe_filename,
)
from .dom import Element, TextNode, parse_html

# --- pagination vocabulary (ref parser.py:23-31) ------------------------------

PAGINATION_TEXT = frozenset({"下一页", "下页", "上一页", "末页", "尾页", "首页"})
PAGINATION_SYMBOLS = frozenset({"<", ">", "«", "»", "‹", "›", "<<", ">>"})
PAGINATION_NEXT = frozenset({"下一页", "下页"})
PAGINATION_PREV = frozenset({"上一页", "上页"})
PAGINATION_FIRST = frozenset({"首页"})
PAGINATION_LAST = frozenset({"末页", "尾页"})

_NUM_ONLY = re.compile(r"^\d+$")
_PAGE_NUM = re.compile(r"^(?:第\s*)?\d+\s*页?$")
_WS = re.compile(r"\s+")

# --- generic link labels (ref parser.py:47-82) --------------------------------

GENERIC_LINK_TEXT = frozenset({
    "下载", "查看", "详情", "点击查看", "点击下载", "附件",
    "word", "pdf", "doc", "docx", "wps", "xls", "xlsx", "zip", "rar",
})
_GENERIC_CLEAN = re.compile(r"[\s：:（）()【】\[\]<>“”\"'·、，。；,.;!！?？]")
_GENERIC_SUFFIXES = ("版", "本")
_GENERIC_FULL = re.compile(r"^(点击)?(查看|下载|附件)?(word|wps|pdf|docx?|xls|xlsx)?(下载|查看)?$")
_GENERIC_PHRASES = [
    re.compile(r"下载\s*(?:word|wps|pdf|docx?|xls|xlsx|zip|rar)\s*(?:版)?", re.IGNORECASE),
    re.compile(r"(?:word|wps|pdf|docx?|xls|xlsx|zip|rar)\s*下载", re.IGNORECASE),
    re.compile(r"附件\s*(?:下载|查看)", re.IGNORECASE),
    re.compile(r"点击\s*(?:下载|查看)", re.IGNORECASE),
]

_PAGINATED_INDEX = re.compile(r"^index(?:[_-]?\d+)\.html$", re.IGNORECASE)
_ONCLICK_URL = re.compile(r"""['"]([^'"]+)['"]""")


def _tree(html: str | Element) -> Element:
    return html if isinstance(html, Element) else parse_html(html)


def _collapse(text: str) -> str:
    return _WS.sub(" ", text or "").strip()


def _el_text(el: Element) -> str:
    return el.get_text(" ", strip=True)


# --- attachment label cascade (ref parser.py:125-226) --------------------------


def _ancestor_preceding_text(anchor: Element, max_levels: int = 4) -> list[str]:
    """Concatenated text of siblings preceding each ancestor, innermost first."""
    texts: list[str] = []
    current: Element | None = anchor
    for _ in range(max_levels):
        parent = current.parent if current is not None else None
        if parent is None:
            break
        pieces: list[str] = []
        for child in parent.children:
            if child is current:
                break
            if isinstance(child, TextNode):
                t = child.data
            elif isinstance(child, Element):
                t = _el_text(child)
            else:
                continue
            t = _collapse(t)
            if t:
                pieces.append(t)
        if pieces:
            texts.append(" ".join(pieces))
        current = parent
        if parent.name in ("body", "html"):
            break
    return texts


def _tidy_label(text: str) -> str:
    text = _collapse(text)
    for pat in _GENERIC_PHRASES:
        text = pat.sub(" ", text)
    text = _collapse(text)
    text = re.sub(r"([：:])\s+", r"\1", text)
    for word in GENERIC_LINK_TEXT:
        text = re.sub(rf"{re.escape(word)}$", "", text, flags=re.IGNORECASE).strip()
    text = text.rstrip(":：-—··•·").strip()
    if len(text) > 200:
        text = text[:200].strip()
    return text


def _is_generic_label(text: str) -> bool:
    lowered = _GENERIC_CLEAN.sub("", text.lower())
    for suffix in _GENERIC_SUFFIXES:
        if lowered.endswith(suffix):
            lowered = lowered[: -len(suffix)]
    if not lowered:
        return True
    if lowered in GENERIC_LINK_TEXT:
        return True
    return bool(_GENERIC_FULL.fullmatch(lowered))


def attachment_label(anchor: Element, file_url: str) -> str:
    """Candidate cascade: title attr > same-row preceding cell > preceding
    siblings (≤120 chars) > ancestor preceding text > li/p container text;
    generic labels deprioritized; fallback basename of the URL."""
    candidates: list[str] = []
    link_text = _el_text(anchor)
    if link_text:
        candidates.append(link_text)
    title_attr = anchor.get("title")
    has_title = False
    if title_attr and title_attr.strip():
        candidates.insert(0, title_attr.strip())
        has_title = True

    cell = anchor.find_parent(("td", "th"))
    if cell is not None and cell.parent is not None and cell.parent.name == "tr":
        cells = cell.parent.find_all(("td", "th"))
        try:
            idx = cells.index(cell)
        except ValueError:
            idx = -1
        if idx > 0:
            for prev in reversed(cells[:idx]):
                t = _el_text(prev)
                if t:
                    candidates.insert(0, t)
                    break

    preceding: list[str] = []
    for sib in anchor.previous_siblings():
        t = _collapse(sib.data if isinstance(sib, TextNode) else _el_text(sib))
        if not t:
            continue
        preceding.insert(0, t)
        if len(" ".join(preceding)) >= 120:
            break
    insert_at = 1 if has_title else 0
    if preceding:
        candidates.insert(insert_at, " ".join(preceding))
        insert_at += 1
    for ctx in _ancestor_preceding_text(anchor):
        candidates.insert(insert_at, ctx)
        insert_at += 1

    container = anchor.find_parent(("li", "p"))
    if container is not None:
        t = _collapse(_el_text(container))
        if t:
            candidates.append(t)

    seen: set[str] = set()
    strong: list[str] = []
    generic: list[str] = []
    for cand in candidates:
        cand = _tidy_label(cand)
        if not cand or cand in seen:
            continue
        seen.add(cand)
        (generic if _is_generic_label(cand) else strong).append(cand)
    if strong:
        return strong[0]
    if generic:
        return generic[0]
    basename = os.path.basename(urlparse(file_url).path)
    return basename if basename else safe_filename(file_url)


# --- default dialect: table rows (ref parser.py:251-348) -----------------------


def _title_of_anchor(anchor: Element) -> str:
    title_attr = anchor.get("title")
    if isinstance(title_attr, str) and title_attr.strip():
        return title_attr.strip()
    return _el_text(anchor)


def _attachment_allowed(doc_type: str, url: str, suffixes) -> bool:
    if doc_type != "other":
        return True
    path = urlparse(url).path.lower()
    return any(path.endswith(s) for s in suffixes)


def _parse_table_rows(page_url: str, root: Element, suffixes) -> list[dict]:
    entries: list[dict] = []
    for row in root.find_all("tr"):
        cells = row.find_all(("td", "th"), recursive=False)
        if len(cells) < 2:
            continue
        serial = parse_serial(_el_text(cells[0]))
        if serial is None:
            continue
        link_cell = cells[1]
        title_link = link_cell.find("a", href=True)
        if title_link is None:
            continue
        raw_href = (title_link.get("href") or "").strip()
        if not raw_href:
            continue
        detail_url = urljoin(page_url, raw_href)
        if classify_document_type(detail_url) != "html":
            continue
        title = _title_of_anchor(title_link)

        # remark: .gz_tit2 container else cell text minus title, plus extra cells
        remark = ""
        gz = link_cell.find(class_="gz_tit2")
        if gz is not None:
            remark = _el_text(gz).strip()
        if not remark:
            remark = _el_text(link_cell)
            if title:
                i = remark.find(title)
                if i != -1:
                    remark = (remark[:i] + remark[i + len(title):]).strip()
        remark = remark.strip()
        extra_notes: list[str] = []
        for extra in cells[2:]:
            cell_text = _el_text(extra)
            for link in extra.find_all("a", href=True):
                lt = _el_text(link)
                if lt:
                    cell_text = cell_text.replace(lt, "", 1).strip()
            if cell_text:
                extra_notes.append(cell_text)
        if extra_notes:
            remark = " ".join(([remark] if remark else []) + extra_notes).strip()

        documents = [{"type": "html", "url": detail_url, "title": title}]
        seen = {detail_url}
        for link in row.find_all("a", href=True):
            href = (link.get("href") or "").strip()
            if not href:
                continue
            absolute = urljoin(page_url, href)
            if absolute in seen:
                continue
            doc_type = classify_document_type(absolute)
            if not _attachment_allowed(doc_type, absolute, suffixes):
                continue
            label = attachment_label(link, absolute)
            if title:
                base_label = label or ""
                # serial-prefixed or title-embedding labels collapse to the title
                if base_label.lstrip().startswith(str(serial)):
                    label = title
                elif base_label.count(title) >= 1 and len(base_label) > len(title) + 5:
                    label = title
            if not label and title:
                label = title
            documents.append({"type": doc_type, "url": absolute, "title": label})
            seen.add(absolute)

        entries.append({"serial": serial, "title": title, "remark": remark,
                        "documents": documents})
    return entries


# --- default dialect: ul.txtlist (ref parser.py:351-434) -----------------------


def _parse_txtlist(page_url: str, root: Element, suffixes) -> list[dict]:
    containers = root.find_all("ul", class_="txtlist")
    if not containers:
        return []
    entries: list[dict] = []
    seen_details: set[str] = set()
    for container in containers:
        for item in container.find_all("li", recursive=False):
            link = item.find("a", href=True)
            if link is None:
                continue
            raw_href = (link.get("href") or "").strip()
            if not raw_href:
                continue
            detail_url = urljoin(page_url, raw_href)
            if detail_url in seen_details:
                continue
            title = _title_of_anchor(link)
            remark_parts: list[str] = []
            date_span = item.find("span", class_="date")
            if date_span is not None:
                dt = _el_text(date_span)
                if dt:
                    remark_parts.append(dt)
            documents = [{"type": "html", "url": detail_url, "title": title}]
            seen_docs = {detail_url}
            for anchor in item.find_all("a", href=True):
                if anchor is link:
                    continue
                href = (anchor.get("href") or "").strip()
                if not href:
                    continue
                absolute = urljoin(page_url, href)
                if absolute in seen_docs:
                    continue
                doc_type = classify_document_type(absolute)
                if not _attachment_allowed(doc_type, absolute, suffixes):
                    continue
                documents.append({"type": doc_type, "url": absolute,
                                  "title": attachment_label(anchor, absolute)})
                seen_docs.add(absolute)
            entries.append({"serial": len(entries) + 1, "title": title,
                            "remark": " ".join(remark_parts).strip(),
                            "documents": documents})
            seen_details.add(detail_url)
    return entries


# --- default dialect: legacy flat links (ref parser.py:448-497) ----------------


def _parse_legacy_links(page_url: str, root: Element, suffixes) -> list[dict]:
    entries: list[dict] = []
    seen: set[str] = set()
    for anchor in root.find_all("a", href=True):
        href = (anchor.get("href") or "").strip()
        if not href:
            continue
        absolute = urljoin(page_url, href)
        path = urlparse(absolute).path.lower()
        if not any(path.endswith(s) for s in suffixes):
            continue
        if absolute in seen:
            continue
        seen.add(absolute)
        label = attachment_label(anchor, absolute)
        entries.append({
            "serial": len(entries) + 1, "title": label, "remark": "",
            "documents": [{"type": classify_document_type(absolute),
                           "url": absolute, "title": label}],
        })
    return entries


def extract_listing_entries_default(
    page_url: str, html: str | Element, suffixes=ATTACHMENT_SUFFIXES
) -> list[dict]:
    """table → txtlist → legacy-flat cascade (ref parser.py:470-497)."""
    root = _tree(html)
    entries = _parse_table_rows(page_url, root, suffixes)
    if entries:
        return entries
    entries = _parse_txtlist(page_url, root, suffixes)
    if entries:
        return entries
    return _parse_legacy_links(page_url, root, suffixes)


# --- tiaofasi dialect (ref parser_tiaofasi.py) ---------------------------------


def _same_listing_dir(start_url: str, candidate: str) -> bool:
    start_dir = os.path.dirname(urlparse(start_url).path)
    return urlparse(candidate).path.startswith(start_dir)


def _listing_parent_dir(page_url: str) -> str | None:
    path = urlparse(page_url).path or ""
    current_dir = os.path.dirname(path)
    if not current_dir:
        return None
    if not _PAGINATED_INDEX.match(os.path.basename(path)):
        return None
    parent = os.path.dirname(current_dir)
    if not parent or parent == current_dir:
        return None
    return parent


def _in_listing_scope(page_url: str, candidate: str) -> bool:
    if _same_listing_dir(page_url, candidate):
        return True
    parent = _listing_parent_dir(page_url)
    if not parent:
        return False
    cpath = urlparse(candidate).path or ""
    parent_norm = parent.rstrip("/")
    if not cpath or not parent_norm:
        return False
    return cpath == parent_norm or cpath.startswith(parent_norm + "/")


def _anchor_containers(anchor: Element) -> list[Element]:
    containers: list[Element] = []
    li = anchor.find_parent("li")
    if li is not None:
        containers.append(li)
    cur = anchor.parent
    depth = 0
    while cur is not None and depth < 3:
        if cur not in containers:
            containers.append(cur)
        cur = cur.parent
        depth += 1
    return containers


def _derive_remark_tiaofasi(anchor: Element, title: str) -> str:
    seen: set[str] = set()
    for container in _anchor_containers(anchor):
        for el in container.find_all(("span", "div", "p"), recursive=False):
            if el.find("a") is not None:
                continue
            text = _collapse(_el_text(el))
            if not text:
                continue
            cleaned = text.replace(title, "").strip()
            if not cleaned or cleaned in seen:
                continue
            seen.add(cleaned)
            date_text = find_date_in_text(cleaned)
            if date_text:
                return date_text
            if len(cleaned) <= 40:
                return cleaned
        ct = _collapse(_el_text(container))
        if not ct:
            continue
        cc = ct.replace(title, "").strip()
        if cc and cc not in seen:
            seen.add(cc)
            date_text = find_date_in_text(cc)
            if date_text:
                return date_text
            if len(cc) <= 80:
                return cc
    return ""


def _tiaofasi_attachments(anchor: Element, page_url: str, suffixes) -> list[dict]:
    attachments: list[dict] = []
    seen: set[str] = set()
    for container in _anchor_containers(anchor):
        for link in container.find_all("a", href=True):
            if link is anchor:
                continue
            href = (link.get("href") or "").strip()
            if not href:
                continue
            absolute = urljoin(page_url, href)
            if absolute in seen:
                continue
            doc_type = classify_document_type(absolute)
            if doc_type == "html" and _in_listing_scope(page_url, absolute):
                continue
            if not _attachment_allowed(doc_type, absolute, suffixes):
                continue
            attachments.append({"type": doc_type, "url": absolute,
                                "title": attachment_label(link, absolute)})
            seen.add(absolute)
    return attachments


def extract_listing_entries_tiaofasi(
    page_url: str, html: str | Element, suffixes=ATTACHMENT_SUFFIXES
) -> list[dict]:
    """Anchor-walk dialect (ref parser_tiaofasi.py:153-222); falls back to default."""
    root = _tree(html)
    entries: list[dict] = []
    seen: set[str] = set()
    start_path = urlparse(page_url).path
    start_basename = os.path.basename(start_path)
    parent_dir = _listing_parent_dir(page_url)
    parent_norm = parent_dir.rstrip("/") if parent_dir else None

    for anchor in root.find_all("a", href=True):
        href = (anchor.get("href") or "").strip()
        if not href:
            continue
        lowered = href.lower()
        if lowered.startswith("javascript:") or lowered.startswith("void("):
            continue
        if anchor.get_text(strip=True) in PAGINATION_TEXT:
            continue
        absolute = urljoin(page_url, href).split("#", 1)[0]
        parsed = urlparse(absolute)
        if parsed.path == start_path:
            continue
        if os.path.basename(parsed.path).lower().startswith("index_"):
            continue
        if not _in_listing_scope(page_url, absolute):
            continue
        if parent_norm and parsed.path in (parent_norm, f"{parent_norm}/index.html"):
            continue
        if absolute in seen:
            continue
        if classify_document_type(absolute) != "html":
            continue
        title = _title_of_anchor(anchor)
        title = _collapse(title) if title else title
        if not title or title == start_basename:
            continue
        documents = [{"type": "html", "url": absolute, "title": title}]
        documents.extend(_tiaofasi_attachments(anchor, page_url, suffixes))
        entries.append({"serial": len(entries) + 1, "title": title,
                        "remark": _derive_remark_tiaofasi(anchor, title),
                        "documents": documents})
        seen.add(absolute)

    if entries:
        return entries
    return extract_listing_entries_default(page_url, root, suffixes)


# --- dialect dispatch -----------------------------------------------------------

DIALECTS = {
    "default": extract_listing_entries_default,
    "policy": extract_listing_entries_default,  # ref parser_policy.py re-exports default
    "tiaofasi": extract_listing_entries_tiaofasi,
}


def extract_listing_entries(page_url: str, html: str | Element, dialect: str = "default",
                            suffixes=ATTACHMENT_SUFFIXES) -> list[dict]:
    fn = DIALECTS.get((dialect or "default").lower(), extract_listing_entries_default)
    return fn(page_url, html, suffixes)


# --- pagination (ref parser.py:500-601) ------------------------------------------


def _pagination_url(anchor: Element, current_url: str, start_url: str) -> str | None:
    href = (anchor.get("href") or "").strip()
    if href and href.lower() not in ("#", "javascript:void(0)", "javascript:;"):
        return urljoin(current_url, href)
    tagname = (anchor.get("tagname") or "").strip()
    if tagname and not tagname.startswith("["):
        return urljoin(start_url, tagname)
    for m in _ONCLICK_URL.finditer(anchor.get("onclick") or ""):
        cand = m.group(1)
        if "/" in cand or "." in cand:
            return urljoin(current_url, cand)
    return None


def _is_pagination_label(anchor: Element, text: str) -> bool:
    normalized = re.sub(r"\s+", "", text or "")
    if not normalized:
        return False
    if normalized in PAGINATION_TEXT or normalized in PAGINATION_SYMBOLS:
        return True
    if _NUM_ONLY.fullmatch(normalized) or _PAGE_NUM.fullmatch(normalized):
        return True
    if (anchor.get("data-page") or "").strip().isdigit():
        return True
    rel = anchor.get("rel") or ""
    rel_tokens = {t.strip().lower() for t in rel.split() if t.strip()}
    return bool(rel_tokens & {"next", "prev", "previous", "first", "last"})


def extract_pagination_meta(current_url: str, html: str | Element, start_url: str) -> dict:
    root = _tree(html)
    meta: dict = {"next": None, "prev": None, "first": None, "last": None, "links": []}
    anchors: list[Element] = []
    for container in root.find_all(None, class_="list_page"):
        anchors.extend(container.find_all("a"))
    if not anchors:
        anchors = root.find_all("a")
    seen: set[str] = set()
    start_parsed = urlparse(start_url)
    for anchor in anchors:
        text = anchor.get_text(strip=False).strip()
        if not text:
            continue
        if not _is_pagination_label(anchor, text):
            continue
        resolved = _pagination_url(anchor, current_url, start_url)
        if not resolved or resolved in seen:
            continue
        if start_parsed.scheme and start_parsed.netloc:
            if not _same_listing_dir(start_url, resolved):
                continue
        seen.add(resolved)
        meta["links"].append({"url": resolved, "text": text})
        if text in PAGINATION_NEXT and meta["next"] is None:
            meta["next"] = resolved
        elif text in PAGINATION_PREV and meta["prev"] is None:
            meta["prev"] = resolved
        elif text in PAGINATION_FIRST and meta["first"] is None:
            meta["first"] = resolved
        elif text in PAGINATION_LAST and meta["last"] is None:
            meta["last"] = resolved
    return meta


def extract_pagination_links(current_url: str, html: str, start_url: str) -> list[str]:
    return [item["url"] for item in extract_pagination_meta(current_url, html, start_url)["links"]]


# --- detail-page attachment discovery (ref pbc_monitor.py:532-569) ----------------


def discover_detail_attachments(detail_url: str, html: str) -> list[dict]:
    """Every non-html http(s) link on a downloaded detail page → attachment."""
    root = parse_html(html)
    attachments: list[dict] = []
    seen: set[str] = set()
    for anchor in root.find_all("a", href=True):
        raw = (anchor.get("href") or "").strip()
        if not raw:
            continue
        file_url = urljoin(detail_url, raw)
        scheme = urlparse(file_url).scheme
        if scheme and scheme.lower() not in ("http", "https"):
            continue
        doc_type = classify_document_type(file_url)
        if doc_type == "html":
            continue
        if file_url in seen:
            continue
        seen.add(file_url)
        title = _el_text(anchor) or (anchor.get("title") or "")
        attachments.append({"type": doc_type, "url": file_url, "title": title})
    return attachments


# --- flat file-link view + filename-title repair (ref pbc_monitor.py:62-107) ------


def extract_file_links(page_url: str, html: str, dialect: str = "default",
                       suffixes=ATTACHMENT_SUFFIXES) -> list[tuple[str, str]]:
    """Non-html documents of all entries as (url, title), with titles equal to
    the URL basename repaired from the matching anchor's title/text."""
    root = parse_html(html)
    entries = extract_listing_entries(page_url, root, dialect, suffixes)
    links = [(d["url"], d.get("title", ""))
             for e in entries for d in e.get("documents", [])
             if d.get("type") != "html" and d.get("url")]

    def _anchor_text_for(target: str) -> str | None:
        for anchor in root.find_all("a", href=True):
            href = (anchor.get("href") or "").strip()
            if not href or urljoin(page_url, href) != target:
                continue
            title_attr = (anchor.get("title") or "").strip()
            if title_attr:
                return title_attr
            text = _el_text(anchor)
            if text:
                return text
        return None

    cleaned: list[tuple[str, str]] = []
    for file_url, title in links:
        t = title if isinstance(title, str) else ""
        basename = os.path.basename(urlparse(file_url).path or "")
        is_filename_title = (not t) or (bool(basename) and t.strip().lower() == basename.lower())
        if is_filename_title:
            repaired = _anchor_text_for(file_url)
            if repaired:
                t = repaired
        cleaned.append((file_url, t))
    return cleaned
