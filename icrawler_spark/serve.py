"""Driver-side serving shim: the reference's query entry points as payload
functions over one in-memory catalog snapshot.

Mirrors the reference FastAPI surface (ref searcher/api_server.py:195-218
``_search_payload``, 269-325 ``/policies`` + ``/policies/{id}``, 327-411
``/clause``) without an HTTP framework: each function returns the exact JSON
payload dict the corresponding route serializes. A real deployment would
mount these on any ASGI app.

Scale: like the reference's ``PolicyFinder`` (a list of entries plus dict
indexes, loaded once at boot), ``PolicyService`` collects the cached index,
the documents and the texts to the driver once, when it is constructed —
the catalog is ~10^3 rows. Per-entry lookups, document lists, texts and
catalog pages are then dict probes and list slices, and ``search`` and
``keyword_search`` score the collected rows in Python (search/index.py):
no request starts a Spark job.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from .functions import pure
from .search import build_search_index, keyword_search, prepare_rows, search
from .search.clause import ClauseReference, _article_slice, _item_slice_text, _normalize_line, _paragraph_slice, parse_clause_reference
from .search.index import nulls_first
from .search.outline import build_outline

_ENTRY_FIELDS = (
    "title", "remark", "norm_title", "doc_no", "year", "doctype", "agency", "best_path",
)


def coerce_topk(value, default: int = 5, limit: int = 50) -> int:
    """Request-param coercion (ref api_server.py:123-141): empty → default,
    clamp to [1, limit], reject booleans/non-numerics/non-positives."""
    if value is None:
        return default
    if isinstance(value, bool):
        raise ValueError("Boolean is not valid for topk")
    if isinstance(value, (int, float)):
        candidate = int(value)
    elif isinstance(value, str):
        stripped = value.strip()
        if not stripped:
            return default
        candidate = int(stripped)
    else:
        raise ValueError("Unsupported type for topk")
    if candidate <= 0:
        raise ValueError("topk must be positive")
    return max(1, min(limit, candidate))


def coerce_bool(value) -> bool | None:
    """Request-param boolean coercion (ref api_server.py:142-156)."""
    if value is None:
        return None
    if isinstance(value, bool):
        return value
    if isinstance(value, (int, float)):
        return bool(int(value))
    if isinstance(value, str):
        lowered = value.strip().lower()
        if lowered in {"1", "true", "yes", "on"}:
            return True
        if lowered in {"0", "false", "no", "off"}:
            return False
    raise ValueError("Invalid boolean value")


def parse_include_params(values) -> list[str]:
    """Comma-splitting include-param normalization (ref api_server.py:221-233)."""
    includes: list[str] = []
    if not values:
        return includes
    for value in values:
        if value is None:
            continue
        for part in str(value).split(","):
            normalized = part.strip().lower()
            if normalized:
                includes.append(normalized)
    return includes


def _entry_payload(row, include_documents: bool, documents: dict | None) -> dict:
    payload = {"id": row.serial}
    for f in _ENTRY_FIELDS:
        payload[f] = getattr(row, f, None)
    if include_documents:
        payload["documents"] = [dict(d) for d in (documents or {}).get(row.entry_id, [])]
    return payload


def _compose_text(lines) -> str:
    return "\n".join(ln.rstrip() for ln in lines).strip()


def extract_clause_result(text: str | None, ref: ClauseReference,
                          source: str | None = None,
                          document_type: str | None = "text") -> dict:
    """ClauseResult.to_dict parity on one text (ref policy_finder.py:
    1109-1175 control flow, 573-606 payload shape)."""
    payload: dict = {"reference": _ref_dict(ref)}
    if not text:
        payload["error"] = "document_unavailable"
        return payload
    sanitized = text.replace("\r\n", "\n").replace("\r", "\n")
    lines = sanitized.split("\n")
    norm_lines = [_normalize_line(ln) for ln in lines]
    art = _article_slice(lines, norm_lines, ref.article)
    if art is None:
        payload["error"] = "article_not_found"
        return payload
    a_lines, a_norm = art
    if source:
        payload["source_path"] = source
    if document_type:
        payload["document_type"] = document_type
    payload["article_matched"] = True
    article_text = _compose_text(a_lines)
    if article_text:
        payload["article_text"] = article_text
    para = _paragraph_slice(a_lines, a_norm, ref)
    if para is None:
        p_lines = a_lines
        if ref.paragraph is not None:
            payload["paragraph_matched"] = False
    else:
        p_lines, _ = para
        payload["paragraph_matched"] = True
    paragraph_text = _compose_text(p_lines)
    if paragraph_text:
        payload["paragraph_text"] = paragraph_text
    if ref.item is not None:
        base = paragraph_text or article_text
        item_text = _item_slice_text(base, ref)
        if item_text:
            payload["item_text"] = item_text
            payload["item_matched"] = True
        else:
            payload["item_matched"] = False
            payload["error"] = "item_not_found"
    elif ref.paragraph is not None and payload.get("paragraph_matched") is False:
        payload["error"] = "paragraph_not_found"
    return payload


def _ref_dict(ref: ClauseReference) -> dict:
    payload: dict = {"article": ref.article}
    if ref.paragraph is not None:
        payload["paragraph"] = ref.paragraph
        if ref.paragraph_unit:
            payload["paragraph_unit"] = ref.paragraph_unit
    if ref.item is not None:
        payload["item"] = ref.item
        if ref.item_unit:
            payload["item_unit"] = ref.item_unit
    if ref.raw:
        payload["raw"] = ref.raw
    return payload


@dataclass
class PolicyService:
    """The reference PolicyFinder surface over one catalog snapshot.

    index:      build_search_index output (cache() it for a live service)
    documents:  optional (entry_id, url, doc_type, title[, _src_pos]) for payloads
    texts:      optional (entry_id, text) — clause/outline/text routes

    Construction collects all three once and builds the reference's dict
    indexes (by entry_id, serial and normalized title) plus the catalog in
    display order, and prepares each row's scorer inputs; every route
    answers from them without a Spark job.
    """

    index: DataFrame
    documents: DataFrame | None = None
    texts: DataFrame | None = None

    def __post_init__(self) -> None:
        rows = sorted(self.index.collect(), key=lambda r: nulls_first(r.entry_id))
        self._by_id = {r.entry_id: r for r in rows}
        self._search_rows = prepare_rows(rows)
        # serials are unique only per task, titles not at all: the lowest
        # entry_id wins either lookup
        self._by_serial: dict = {}
        self._by_title: dict = {}
        for r in rows:
            self._by_serial.setdefault(r.serial, r)
            self._by_title.setdefault(r.norm_title, r)
        # display order: (norm_title, else title; entry_id)
        self._catalog = sorted(
            rows, key=lambda r: (nulls_first(r.norm_title or r.title), nulls_first(r.entry_id))
        )
        self._documents: dict = {}
        if self.documents is not None:
            cols = ["entry_id", "url", "doc_type", "title"]
            cols += ["_src_pos"] if "_src_pos" in self.documents.columns else []
            docs = self.documents.select(*cols).collect()
            for r in sorted(docs, key=lambda r: getattr(r, "_src_pos", 0) or 0):
                self._documents.setdefault(r.entry_id, []).append(
                    {"url": r.url, "type": r.doc_type, "title": r.title}
                )
        self._texts: dict = {}
        if self.texts is not None:
            for r in self.texts.select("entry_id", "text").collect():
                self._texts.setdefault(r.entry_id, r.text)

    @classmethod
    def from_state(cls, entries: DataFrame, documents: DataFrame,
                   texts: DataFrame | None = None) -> "PolicyService":
        return cls(build_search_index(entries, documents).cache(), documents, texts)

    # -- lookups ---------------------------------------------------------------

    def find_entry(self, identifier) -> object | None:
        """ref find_entry (policy_finder.py:1395-1416): int → serial;
        string → serial if numeric else normalized-title match."""
        if identifier is None:
            return None
        s = str(identifier).strip()
        if not s:
            return None
        try:
            hit = self._by_serial.get(int(s))
        except ValueError:
            hit = None
        return hit if hit is not None else self._by_title.get(pure.norm_text(s))

    def get_entry_text(self, entry_row) -> str | None:
        return self._texts.get(entry_row.entry_id)

    # -- routes ----------------------------------------------------------------

    def search_payload(self, query: str, topk: int = 5,
                       include_documents: bool = True) -> dict:
        """GET/POST /search (ref api_server.py:195-218)."""
        clause_ref = parse_clause_reference(query)
        results = []
        for hit in search(self._search_rows, query, topk=topk):
            r = self._by_id[hit.entry_id]
            payload = _entry_payload(r, include_documents, self._documents)
            payload["score"] = hit.score
            if clause_ref is not None:
                payload["clause"] = extract_clause_result(
                    self.get_entry_text(r), clause_ref, source=r.best_path
                )
            results.append(payload)
        response = {
            "query": query,
            "topk": topk,
            "result_count": len(results),
            "results": results,
        }
        if clause_ref is not None:
            response["clause_reference"] = _ref_dict(clause_ref)
        return response

    def policies_payload(self, query: str | None = None,
                         max_entries: int | None = None,
                         offset: int = 0) -> dict:
        """GET /policies (ref api_server.py:269-289): keyword filter or the
        full catalog sorted by normalized title.

        Without ``offset``/``max_entries`` the route returns every match —
        the reference's contract. With them, both branches return the same
        slice ``[offset, offset + max_entries)`` of their ordered list. Both
        orders end on entry_id, so pages never overlap or skip."""
        if query:
            hits = keyword_search(self._search_rows, self._texts, query)
            entries = [self._by_id[h.entry_id] for h in hits]
        else:
            entries = self._catalog
        stop = None if max_entries is None else offset + max_entries
        entries = entries[offset:stop]
        payload = {
            "policies": [_entry_payload(r, False, None) for r in entries],
            "result_count": len(entries),
        }
        if query:
            payload["query"] = query
        if offset:
            payload["offset"] = offset
        return payload

    def policy_payload(self, policy_id, include=None) -> dict:
        """GET /policies/{id} (ref api_server.py:292-325)."""
        entry = self.find_entry(policy_id)
        if entry is None:
            return {"error": "policy_not_found", "status": 404}
        params = set(parse_include_params(include)) or {"meta"}
        if "all" in params:
            params |= {"meta", "text", "outline"}
            params.discard("all")
        out: dict = {}
        if "meta" in params:
            out["policy"] = _entry_payload(entry, False, None)
        text = None
        if params & {"text", "outline"}:
            text = self.get_entry_text(entry)
            if text is None:
                return {"error": "policy_text_not_available", "status": 404}
        if "text" in params and text is not None:
            out["text"] = text
        if "outline" in params and text is not None:
            out["outline"] = build_outline(text)
        return out

    def clause_payload(self, title_or_id, clause_query: str) -> dict:
        """GET/POST /clause (ref api_server.py:327-411): resolve the policy,
        parse the clause reference, slice."""
        ref = parse_clause_reference(clause_query)
        if ref is None:
            return {"error": "invalid_clause_reference", "status": 400}
        entry = self.find_entry(title_or_id)
        if entry is None:
            return {"error": "policy_not_found", "status": 404}
        result = extract_clause_result(
            self.get_entry_text(entry), ref, source=entry.best_path
        )
        return {
            "policy": _entry_payload(entry, False, None),
            "clause": result,
        }
