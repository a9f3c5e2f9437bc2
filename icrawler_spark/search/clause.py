"""Clause reference parsing + article/paragraph/item slicing.

Behavior-matched to the reference (ref policy_finder.py:256-274 numeral
variants, 608-639 line normalization + conclusion patterns, 667-787 slicing,
1052-1106 ``parse_clause_reference``). Pure ``str → str`` functions — the
Spark lifting is a scalar pandas UDF over the ``texts`` table; the query-side
reference parse runs driver-side (it is one query string).
"""

from __future__ import annotations

import re
import unicodedata
from dataclasses import dataclass

from ..functions.pure import chinese_to_int, int_to_chinese

NUMBER_CLASS = r"[一二三四五六七八九十百千万零〇0-9两俩壹贰叁肆伍陆柒捌玖]"

CONCLUSION_RES = (
    re.compile(
        r"^(本通知|本办法|本规定|本细则|本规则|本意见|本通告|本方案|本决定|本措施|本指南|本公告)"
        r"自.+(实施|施行|执行|印发|公布|发布)"
    ),
    re.compile(r"^特此(通知|公告|通告|说明)"),
)


def _normalize_line(text: str) -> str:
    """NFKC + paired-punct fold + whitespace collapse (ref 608-625)."""
    s = unicodedata.normalize("NFKC", text or "")
    for a, b in (("（", "("), ("）", ")"), ("〔", "["), ("〕", "]"), ("【", "["),
                 ("】", "]"), ("《", '"'), ("》", '"'), ("“", '"'), ("”", '"')):
        s = s.replace(a, b)
    s = s.replace("　", " ")
    return re.sub(r"\s+", " ", s).strip()


def _number_pattern(number: int) -> str | None:
    """Arabic + Chinese numeral variants, whitespace-tolerant (ref 256-274)."""
    variants = {str(number), int_to_chinese(number)}
    if number == 2:
        variants.update({"两", "俩"})
    pieces = [r"\s*".join(re.escape(c) for c in v) for v in variants if v]
    return "|".join(pieces) if pieces else None


@dataclass
class ClauseReference:
    article: int
    paragraph: int | None = None
    paragraph_unit: str | None = None
    item: int | None = None
    item_unit: str | None = None
    raw: str = ""


def parse_clause_reference(query: str) -> ClauseReference | None:
    """"第N条[第M款/段][（K）项/目]" → structured reference (ref 1052-1106)."""
    if not query:
        return None
    s = unicodedata.normalize("NFKC", query)
    for a, b in (("（", "("), ("）", ")"), ("〔", "["), ("〕", "]")):
        s = s.replace(a, b)
    m = re.search(rf"第\s*({NUMBER_CLASS}+)\s*条", s)
    if not m:
        return None
    article = chinese_to_int(m.group(1))
    if article is None:
        return None
    ref = ClauseReference(article=article, raw=query.strip())
    rest = s[m.end():].strip()
    if not rest:
        return ref
    pm = re.match(rf"^第\s*({NUMBER_CLASS}+)\s*(款|段)", rest)
    consumed = 0
    if pm:
        v = chinese_to_int(pm.group(1))
        if v is not None:
            ref.paragraph = v
            ref.paragraph_unit = pm.group(2)
        consumed = pm.end()
    else:
        bm = re.match(rf"^第\s*({NUMBER_CLASS}+)", rest)
        if bm:
            v = chinese_to_int(bm.group(1))
            if v is not None:
                ref.paragraph = v
            consumed = bm.end()
    rest = rest[consumed:].strip()
    im = re.search(rf"[\(（]\s*({NUMBER_CLASS}+)\s*[\)）]\s*(项|目)?", rest)
    if im:
        v = chinese_to_int(im.group(1))
        if v is not None:
            ref.item = v
            ref.item_unit = im.group(2) or "项"
        rest = rest[im.end():].strip()
    if ref.item is None:
        em = re.search(rf"第\s*({NUMBER_CLASS}+)\s*(项|目)", rest)
        if em:
            v = chinese_to_int(em.group(1))
            if v is not None:
                ref.item = v
                ref.item_unit = em.group(2)
    return ref


def _is_conclusion(norm_line: str) -> bool:
    s = norm_line.strip()
    return bool(s) and any(p.search(s) for p in CONCLUSION_RES)


def _article_slice(lines, norm_lines, article: int):
    """ref _extract_article_slice (667-710): 第N条 line (all numeral
    variants); fallback bullet "N、/N."; slice until next same-kind marker
    or conclusion line."""
    np = _number_pattern(article)
    if not np:
        return None
    art = re.compile(rf"^\s*第\s*(?:{np})\s*条")
    generic = re.compile(rf"^\s*第\s*{NUMBER_CLASS}+\s*条")
    start = None
    boundary = generic
    for i, nl in enumerate(norm_lines):
        if art.search(nl):
            start = i
            break
    if start is None:
        bullet = re.compile(rf"^\s*(?:{np})\s*(?:、|\.|．|﹒|:|：|·|•)")
        gbullet = re.compile(rf"^\s*{NUMBER_CLASS}+\s*(?:、|\.|．|﹒|:|：|·|•)")
        for i, nl in enumerate(norm_lines):
            if bullet.search(nl):
                start = i
                boundary = gbullet
                break
    if start is None:
        return None
    end = len(lines)
    for i in range(start + 1, len(norm_lines)):
        if boundary.search(norm_lines[i]) or _is_conclusion(norm_lines[i]):
            end = i
            break
    sl = lines[start:end]
    nsl = norm_lines[start:end]
    while sl and not sl[0].strip():
        sl, nsl = sl[1:], nsl[1:]
    while sl and not sl[-1].strip():
        sl, nsl = sl[:-1], nsl[:-1]
    return sl, nsl


def _paragraph_slice(lines, norm_lines, ref: ClauseReference):
    """ref _extract_paragraph_slice (713-753)."""
    if ref.paragraph is None:
        return lines, norm_lines
    np = _number_pattern(ref.paragraph)
    if not np:
        return None
    units = [ref.paragraph_unit] if ref.paragraph_unit in {"款", "段"} else ["款", "段"]
    start = None
    unit = None
    for u in units:
        pat = re.compile(rf"^\s*第\s*(?:{np})\s*{re.escape(u)}")
        for i, nl in enumerate(norm_lines):
            if pat.search(nl):
                start, unit = i, u
                break
        if start is not None:
            break
    if start is None:
        return None
    boundary = re.compile(rf"^\s*第\s*{NUMBER_CLASS}+\s*{re.escape(unit)}")
    end = len(lines)
    for i in range(start + 1, len(norm_lines)):
        if boundary.search(norm_lines[i]):
            end = i
            break
    return lines[start:end], norm_lines[start:end]


def _item_slice_text(text: str, ref: ClauseReference) -> str | None:
    """ref _extract_item_text (756-787): (K)项/目 spans within the paragraph."""
    if ref.item is None:
        return None
    np = _number_pattern(ref.item)
    if not np:
        return None
    pat = re.compile(rf"[\(（]\s*({NUMBER_CLASS}+)\s*[\)）]\s*(?:项|目)?")
    matches = list(pat.finditer(text))
    for k, m in enumerate(matches):
        if chinese_to_int(m.group(1)) == ref.item:
            end = matches[k + 1].start() if k + 1 < len(matches) else len(text)
            return text[m.start():end].strip()
    return None


def extract_clause_text(text: str, ref: ClauseReference) -> str | None:
    """Full slice cascade: article → paragraph → item (None on no match)."""
    if not text:
        return None
    sanitized = text.replace("\r\n", "\n").replace("\r", "\n")
    lines = sanitized.split("\n")
    norm_lines = [_normalize_line(ln) for ln in lines]
    art = _article_slice(lines, norm_lines, ref.article)
    if art is None:
        return None
    a_lines, a_norm = art
    para = _paragraph_slice(a_lines, a_norm, ref)
    if para is None:
        return None
    p_lines, _ = para
    out = "\n".join(ln.rstrip() for ln in p_lines).strip()
    if ref.item is not None:
        item = _item_slice_text(out, ref)
        return item
    return out or None
