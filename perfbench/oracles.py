"""Independent re-scoring of ``/search`` for the policy_api correctness gate.

Index-side columns are recomputed per entry with the ``functions.pure``
twins (ASCII punctuation fold without NFKC, as the engine's native Column
expressions do) and the additive score is re-added in the same
left-to-right order as ``search.index.fuzzy_score_col``, so the doubles must
match the engine's bit for bit — the approach of ``_search_topk_oracle_sql``
in ``queries/engineops.py``, in Python instead of SQL.
"""

from __future__ import annotations

import re

from icrawler_spark.functions import pure

_BEST_PATH_ORDER = {"text": 5, "txt": 5, "pdf": 4, "docx": 3, "doc": 3, "word": 3, "html": 2}
_TOKEN_RE = re.compile(r"[一-鿿]+|[a-zA-Z0-9]+")


def norm_ascii(s: str) -> str:
    for a, b in pure._PUNCT_PAIRS:
        s = s.replace(a, b)
    return re.sub(r"\s+", " ", s).strip()


def _docno(s: str) -> str | None:
    m = pure.DOCNO_RE.search(norm_ascii(s))
    if not m or not m.group(1):
        return None
    y = m.group(2)
    y = "20" + y if len(y) == 2 else y
    tail = re.sub(r"\s+", "", m.group(3) or "")
    return f"{m.group(1)}[{y}]{tail}"


class SearchOracle:
    def __init__(self, entries, documents):
        """entries (entry_id, task, serial, title, remark); documents
        (entry_id, url, doc_type, title, _src_pos) — the generator's rows."""
        best: dict[str, tuple] = {}
        for eid, url, dt, _t, pos in documents:
            key = (_BEST_PATH_ORDER.get((dt or "").lower(), 0), -pos)
            if eid not in best or key > best[eid][0]:
                best[eid] = (key, url)
        self.rows = []
        for eid, _task, serial, title, remark in entries:
            t = norm_ascii(title or "")
            ym = re.search(r"(19|20)\d{2}", f"{title or ''} {remark or ''}")
            hits = [a for a in pure.AGENCIES if a in t]
            self.rows.append({
                "entry_id": eid,
                "serial": serial,
                "title": title or "",
                "norm_title": t,
                "doc_no": _docno(title or "") or _docno(remark or ""),
                "year": ym.group(1) if ym else "",
                "doctype": next((kw for kw in pure.DOCTYPE_KEYWORDS if kw in t), None),
                "agency": "、".join(hits[:3]) if hits else None,
                "best_path": best[eid][1] if eid in best else None,
                "tokens": {x for x in _TOKEN_RE.findall(t) if x not in pure.STOPWORDS_ZH},
            })

    def score(self, row: dict, q: dict) -> float:
        s = 0.0
        if q["doc"]:
            flat_doc = (row["doc_no"] or "").replace("[", "").replace("]", "")
            s = s + (120.0 if row["doc_no"] == q["doc"] else 80.0 if q["flat"] in flat_doc else 0.0)
        if q["years"]:
            s = s + (30.0 if row["year"] in q["years"] else -5.0 if row["year"] != "" else 0.0)
        if q["doctype"]:
            s = s + (15.0 if row["doctype"] == q["doctype"] else 0.0)
        if q["agency"]:
            ag = row["agency"] or ""
            s = s + (10.0 if ag != "" and (q["agency"] in ag or ag in q["agency"]) else 0.0)
        for ph in q["phrases"]:
            s = s + (min(8.0, 2.0 + len(ph) * 0.8) if ph in row["norm_title"] else 0.0)
        if q["tokens"]:
            union = len(row["tokens"] | q["tokens"])
            jac = len(row["tokens"] & q["tokens"]) / union if union > 0 else 0.0
            s = s + 40.0 * jac
        s = s + (30.0 if row["doc_no"] is not None and row["doc_no"] in q["qn"] else 0.0)
        dt = row["doctype"]
        s = s + (10.0 if dt is not None and dt in q["qn"] and dt in row["title"] else 0.0)
        s = s + (3.0 if (row["best_path"] or "").lower().endswith(".pdf") else 0.0)
        return s

    def topk(self, query: str, k: int) -> list[list]:
        """[[serial, score], ...] in the engine's order (score desc, entry_id)."""
        qn = pure.norm_text(query)
        doc = pure.extract_docno(qn)
        q = {
            "qn": qn,
            "doc": doc,
            "flat": doc.replace("[", "").replace("]", "") if doc else None,
            "years": re.findall(r"(19|20)\d{2}", qn),
            "doctype": pure.guess_doctype(qn),
            "agency": pure.guess_agency(qn),
            "phrases": re.findall(r"[一-鿿]{2,}", qn),
            "tokens": set(pure.tokenize_zh(qn)),
        }
        scored = sorted(((-self.score(r, q), r["entry_id"], r["serial"]) for r in self.rows))
        return [[serial, -neg] for neg, _eid, serial in scored[:k]]
