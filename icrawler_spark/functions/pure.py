"""Pure-Python scalar semantics (no Spark imports).

Behavior-matched, from scratch, to the reference implementations cited per
function (file:line into /root/reference/). These are the single source of
truth: the pandas UDFs vectorize them, the native Column expressions mirror
them, and the pytest goldens check them.
"""

from __future__ import annotations

import os
import re
import unicodedata
from urllib.parse import urljoin, urlparse, urlsplit

# --- document typing -------------------------------------------------------
# Reference: pbc_regulations/icrawler/parser.py:13-45, 85-92.

ATTACHMENT_SUFFIXES = (".pdf", ".doc", ".docx", ".wps", ".xls", ".xlsx", ".zip", ".rar")

DOCUMENT_TYPE_MAP = {
    ".pdf": "pdf",
    ".doc": "word",
    ".docx": "word",
    ".wps": "word",
    ".xls": "excel",
    ".xlsx": "excel",
    ".zip": "archive",
    ".rar": "archive",
    ".htm": "html",
    ".html": "html",
    ".txt": "text",
}

# Reference: pbc_monitor.py:392-399.
EXTENSION_FALLBACK = {
    "pdf": ".pdf",
    "word": ".doc",
    "excel": ".xls",
    "archive": ".zip",
    "text": ".txt",
    "html": ".html",
}


def classify_document_type(url: str) -> str:
    """URL path extension → {pdf,word,excel,archive,html,text,other}.

    No extension → 'html' (detail pages). Ref parser.py:85-92.
    """
    path = urlparse(url or "").path.lower()
    ext = os.path.splitext(path)[1]
    if ext in DOCUMENT_TYPE_MAP:
        return DOCUMENT_TYPE_MAP[ext]
    return "html" if not ext else "other"


def has_attachment_suffix(url: str) -> bool:
    path = urlparse(url or "").path.lower()
    return path.endswith(ATTACHMENT_SUFFIXES)


# --- filenames --------------------------------------------------------------


def safe_filename(text: str) -> str:
    """Filesystem-friendly name preserving Unicode letters/digits.

    NFKC-normalize; keep category L*/N* chars and ``-``/``_``; everything
    else → ``_``; strip edge underscores; empty → ``_``. Ref crawler.py:15-36,
    golden: tests/test_crawler.py:40-42.
    """
    if not text:
        return "_"
    normalized = unicodedata.normalize("NFKC", text)
    out = []
    for ch in normalized:
        if ch in ("-", "_"):
            out.append(ch)
        elif unicodedata.category(ch)[0] in ("L", "N"):
            out.append(ch)
        else:
            out.append("_")
    return "".join(out).strip("_") or "_"


def structured_filename(file_url: str, doc_type: str | None = None) -> str:
    """Deterministic on-disk name derived from a URL.

    Path segments minus extensions joined by ``_``, optional query slug,
    extension from the path else fallback-by-type else ``.bin``.
    Ref pbc_monitor.py:402-441.
    """
    parsed = urlparse(file_url or "")
    segments = [s for s in (parsed.path or "").strip("/").split("/") if s]
    if segments:
        cleaned = []
        for seg in segments:
            stem, _ = os.path.splitext(seg)
            cleaned.append(stem if stem else seg)
        name_part = "_".join(cleaned)
    else:
        name_part = parsed.netloc or "file"
    if parsed.query:
        slug = safe_filename(parsed.query)
        if slug:
            name_part = f"{name_part}__{slug}" if name_part else slug
    sanitized = safe_filename(name_part) or "file"
    ext = os.path.splitext(os.path.basename(parsed.path or ""))[1].lower()
    if not ext:
        ext = EXTENSION_FALLBACK.get((doc_type or "").lower(), ".bin")
    if not ext.startswith("."):
        ext = "." + ext
    return f"{sanitized}{ext}"


# --- text normalization / tokenization --------------------------------------
# Reference: searcher/policy_finder.py:99-113.

_WS_RE = re.compile(r"\s+")
_PUNCT_PAIRS = [
    ("（", "("), ("）", ")"), ("〔", "["), ("〕", "]"), ("【", "["), ("】", "]"),
    ("《", '"'), ("》", '"'), ("“", '"'), ("”", '"'), ("‘", "'"), ("’", "'"),
]

STOPWORDS_ZH = frozenset(
    ["关于", "有关", "的", "通知", "公告", "决定", "规定", "办法", "细则",
     "实施", "印发", "进一步", "试行", "意见", "答复", "解读", "发布"]
)

_TOKEN_RE = re.compile(r"[一-鿿]+|[a-zA-Z0-9]+")


def norm_text(s: str) -> str:
    if not s:
        return ""
    s = unicodedata.normalize("NFKC", s)
    for a, b in _PUNCT_PAIRS:
        s = s.replace(a, b)
    return _WS_RE.sub(" ", s).strip()


def tokenize_zh(s: str) -> list[str]:
    return [p for p in _TOKEN_RE.findall(norm_text(s)) if p not in STOPWORDS_ZH]


# --- doc-number / doctype / agency extraction --------------------------------
# Reference: policy_finder.py:93-96, 276-301.

DOCNO_RE = re.compile(
    r"(银发|银办发|公告|令|会发|财金|发改|证监|保监|银保监|人民银行令|中国人民银行令)"
    r"[〔\[\(]?\s*(\d{2,4})\s*[〕\]\)]?\s*(第?\s*\d+\s*号)?",
    re.IGNORECASE,
)

DOCTYPE_KEYWORDS = ["管理办法", "实施细则", "暂行规定", "规定", "细则",
                    "办法", "通知", "决定", "公告", "意见"]

AGENCIES = ["中国人民银行", "中国证券监督管理委员会", "中国银行保险监督管理委员会",
            "中国银行业监督管理委员会", "国家外汇管理局", "国务院", "中国证监会",
            "中国银保监会", "国家统计局"]



def extract_docno(s: str) -> str | None:
    s = norm_text(s)
    m = DOCNO_RE.search(s)
    if not m:
        return None
    head, year, tail = m.group(1), m.group(2), m.group(3) or ""
    if len(year) == 2:
        year = "20" + year
    return f"{head}[{year}]{tail.replace(' ', '')}"


def guess_doctype(s: str) -> str | None:
    s = norm_text(s)
    for kw in DOCTYPE_KEYWORDS:
        if kw in s:
            return kw
    return None


def guess_agency(s: str) -> str | None:
    s = norm_text(s)
    hits = [a for a in AGENCIES if a in s]
    return "、".join(hits[:3]) if hits else None


# --- policy-status predicate -------------------------------------------------
# Reference: policy_finder.py:304-344.

TITLE_EXCLUDE_KEYWORDS = ["废止", "停止执行", "停止施行", "停止实施", "终止执行",
                          "终止施行", "终止实施", "失效", "作废", "停止使用"]
REMARK_EXCLUDE_KEYWORDS = ["已废止", "已失效", "停止执行", "停止施行", "停止实施",
                           "停止使用", "终止执行", "终止施行", "终止实施", "作废"]


def is_probable_policy(title: str, remark: str | None = None) -> bool:
    t = norm_text(title or "")
    r = norm_text(remark or "")
    if any(k in t for k in TITLE_EXCLUDE_KEYWORDS):
        return False
    if any(k in r for k in REMARK_EXCLUDE_KEYWORDS):
        return False
    return True


# --- serials / dates ---------------------------------------------------------


def parse_serial(text: str | None) -> int | None:
    """Strip (fullwidth) whitespace and list punctuation; digits → int.

    Ref parser.py:229-240.
    """
    if not text:
        return None
    cleaned = re.sub(r"[\s　]+", "", text)
    cleaned = cleaned.strip("．.、)").strip("(")
    return int(cleaned) if cleaned.isdigit() else None


DATE_PATTERNS = (
    re.compile(r"\d{4}[-/.年]\d{1,2}[-/.月]\d{1,2}(?:日|号)?"),
    re.compile(r"\d{4}\s*年\s*\d{1,2}\s*月\s*\d{1,2}\s*日?"),
)


def find_date_in_text(text: str) -> str | None:
    """First date-looking substring. Ref parser_tiaofasi.py:22-25, 53-58."""
    for pat in DATE_PATTERNS:
        m = pat.search(text or "")
        if m:
            return m.group(0)
    return None


# --- Chinese numerals --------------------------------------------------------
# Reference: policy_finder.py:116-253.

CHINESE_DIGITS = {
    "零": 0, "〇": 0, "○": 0, "Ｏ": 0,
    "一": 1, "二": 2, "三": 3, "四": 4, "五": 5, "六": 6, "七": 7, "八": 8, "九": 9,
    "壹": 1, "贰": 2, "叁": 3, "肆": 4, "伍": 5, "陆": 6, "柒": 7, "捌": 8, "玖": 9,
    "两": 2, "俩": 2,
}
CHINESE_UNITS = {"十": 10, "拾": 10, "百": 100, "佰": 100, "千": 1000, "仟": 1000, "万": 10000}


def chinese_to_int(text: str | None) -> int | None:
    if text is None:
        return None
    s = text.strip()
    if not s:
        return None
    if s.isdigit():
        return int(s)
    total, current = 0, 0
    for ch in s:
        if ch in CHINESE_DIGITS:
            current = CHINESE_DIGITS[ch]
        elif ch in CHINESE_UNITS:
            unit = CHINESE_UNITS[ch]
            if current == 0:
                current = 1
            total += current * unit
            current = 0
        elif ch in ("、", " ", "\t"):
            continue
        else:
            return None
    total += current
    return total


def int_to_chinese(number: int) -> str:
    if number == 0:
        return "零"
    digits = ["零", "一", "二", "三", "四", "五", "六", "七", "八", "九"]
    units = ["", "十", "百", "千"]
    big_units = ["", "万", "亿", "兆"]

    def section_text(section: int) -> str:
        if section == 0:
            return "零"
        pieces: list[str] = []
        zero_flag = False
        idx = 0
        value = section
        while value > 0:
            value, rem = divmod(value, 10)
            if rem == 0:
                zero_flag = True
            else:
                if zero_flag and pieces:
                    pieces.append("零")
                pieces.append(digits[rem] + units[idx])
                zero_flag = False
            idx += 1
        out = "".join(reversed(pieces))
        out = re.sub(r"零+", "零", out).strip("零")
        if section < 20 and out.startswith("一十"):
            out = out[1:]
        return out or "零"

    parts: list[str] = []
    idx = 0
    remaining = number
    while remaining > 0:
        remaining, section = divmod(remaining, 10000)
        if section:
            t = section_text(section)
            if big_units[idx]:
                t += big_units[idx]
            parts.insert(0, t)
        else:
            if parts and not parts[0].startswith("零"):
                parts.insert(0, "零")
        idx += 1
    out = "".join(parts)
    out = re.sub(r"零+", "零", out).strip("零")
    if number < 20 and out.startswith("一十"):
        out = out[1:]
    return out or "零"


# --- bytes → str --------------------------------------------------------------
# Reference: text_pipeline.py:142-150.

_DECODE_ORDER = ("utf-8", "utf-16", "utf-16le", "utf-16be", "gb18030", "gbk")


def decode_bytes(data: bytes | None) -> str:
    if data is None:
        return ""
    for enc in _DECODE_ORDER:
        try:
            return data.decode(enc)
        except UnicodeDecodeError:
            continue
    return data.decode("utf-8", errors="ignore")


def decode_html_bytes(data: bytes | None) -> str:
    """HTML-appropriate decode: BOM-aware, then utf-8 → gb18030 → lossy utf-8.

    Unlike :func:`decode_bytes` (reference text-payload order, which tries
    utf-16 before gb18030 and so mis-decodes even-length GBK HTML into
    garbage), HTML is ASCII-compatible — utf-16 without a BOM is not a
    realistic page encoding.
    """
    if data is None:
        return ""
    if data[:3] == b"\xef\xbb\xbf":
        return data[3:].decode("utf-8", errors="ignore")
    if data[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return data.decode("utf-16", errors="ignore")
    for enc in ("utf-8", "gb18030"):
        try:
            return data.decode(enc)
        except UnicodeDecodeError:
            continue
    return data.decode("utf-8", errors="ignore")


# --- URLs ---------------------------------------------------------------------


def urljoin_resolve(base: str | None, href: str | None) -> str | None:
    """RFC-3986 relative resolution (dot segments, scheme-relative, etc.)."""
    if href is None:
        return None
    if not base:
        return href
    return urljoin(base, href)


def url_netloc(url: str) -> str:
    """The url's host, lower-cased, without port or userinfo — the
    politeness key (native.url_netloc)."""
    return urlsplit(url or "").hostname or ""


def url_scheme(url: str) -> str:
    return (urlparse(url or "").scheme or "").lower()


def is_supported_scheme(url: str) -> bool:
    """http/https or scheme-less relative. Ref pbc_monitor.py:525-529."""
    scheme = url_scheme(url)
    return scheme in ("http", "https", "")
