"""JVM-side Column expressions for the hot path (no Python in the loop).

Each function mirrors a pure-Python function in ``pure.py`` (which carries the
reference file:line citations); these stay inside whole-stage codegen so the
100 TB scan path never drops into Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import pure

# --- document typing ---------------------------------------------------------

_EXT_RE = r"(\.[^./\\]+)$"


def url_path(url: Column) -> Column:
    """Path component of a URL (empty string when absent)."""
    return F.coalesce(F.try_parse_url(url, F.lit("PATH")), F.lit(""))


def url_ext(url: Column) -> Column:
    return F.lower(F.regexp_extract(url_path(url), _EXT_RE, 1))


def classify_document_type(url: Column) -> Column:
    """when-chain over the extension map; no ext → html. pure.classify_document_type."""
    ext = url_ext(url)
    expr = F.when(ext == "", F.lit("html"))
    for e, t in pure.DOCUMENT_TYPE_MAP.items():
        expr = expr.when(ext == e, F.lit(t))
    return expr.otherwise(F.lit("other"))


def has_attachment_suffix(url: Column) -> Column:
    path = F.lower(url_path(url))
    arr = F.array(*[F.lit(s) for s in pure.ATTACHMENT_SUFFIXES])
    return F.exists(arr, lambda s: path.endswith(s))


def is_supported_scheme(url: Column) -> Column:
    """scheme ∈ {http, https} or relative (no scheme). pure.is_supported_scheme."""
    proto = F.lower(F.try_parse_url(url, F.lit("PROTOCOL")))
    return proto.isNull() | proto.isin("http", "https")


def url_netloc(url: Column) -> Column:
    """Lower-cased host, no port or userinfo. pure.url_netloc."""
    return F.lower(F.coalesce(F.try_parse_url(url, F.lit("HOST")), F.lit("")))


# --- text normalization ------------------------------------------------------

# translate() handles the 1:1 CJK-punct → ASCII mapping natively; NFKC (the
# only non-native piece of pure.norm_text) is applied upstream by the
# nfkc pandas UDF when full parity is required. For ASCII/pre-normalized
# inputs this column alone matches pure.norm_text.
_PUNCT_SRC = "".join(a for a, _ in pure._PUNCT_PAIRS)
_PUNCT_DST = "".join(b for _, b in pure._PUNCT_PAIRS)


def norm_text_ascii(s: Column) -> Column:
    """pure.norm_text minus NFKC: punct translate + whitespace collapse + trim."""
    return F.trim(F.regexp_replace(F.translate(s, _PUNCT_SRC, _PUNCT_DST), r"\s+", " "))


def tokenize_zh(s: Column) -> Column:
    """CJK-runs | alnum-runs minus stopwords, as array<string>. pure.tokenize_zh."""
    toks = F.regexp_extract_all(norm_text_ascii(s), F.lit(r"([\x{4e00}-\x{9fff}]+|[a-zA-Z0-9]+)"), 1)
    stop = F.array(*[F.lit(w) for w in sorted(pure.STOPWORDS_ZH)])
    return F.filter(toks, lambda t: ~F.array_contains(stop, t))


# --- docno / doctype / agency --------------------------------------------------

_DOCNO_PATTERN = (
    r"(银发|银办发|公告|令|会发|财金|发改|证监|保监|银保监|人民银行令|中国人民银行令)"
    r"[〔\[\(]?\s*(\d{2,4})\s*[〕\]\)]?\s*(第?\s*\d+\s*号)?"
)


def extract_docno(s: Column) -> Column:
    """Canonical ``head[yyyy]第N号``. pure.extract_docno."""
    t = norm_text_ascii(s)
    head = F.regexp_extract(t, _DOCNO_PATTERN, 1)
    year = F.regexp_extract(t, _DOCNO_PATTERN, 2)
    tail = F.regexp_replace(F.regexp_extract(t, _DOCNO_PATTERN, 3), r"\s+", "")
    year_fixed = F.when(F.length(year) == 2, F.concat(F.lit("20"), year)).otherwise(year)
    return F.when(head != "", F.concat(head, F.lit("["), year_fixed, F.lit("]"), tail))


def guess_doctype(s: Column) -> Column:
    t = norm_text_ascii(s)
    expr = None
    for kw in pure.DOCTYPE_KEYWORDS:
        cond = t.contains(kw)
        expr = F.when(cond, F.lit(kw)) if expr is None else expr.when(cond, F.lit(kw))
    return expr


def guess_agency(s: Column) -> Column:
    t = norm_text_ascii(s)
    arr = F.array(*[F.lit(a) for a in pure.AGENCIES])
    hits = F.filter(arr, lambda a: t.contains(a))
    return F.when(F.size(hits) > 0, F.array_join(F.slice(hits, 1, 3), "、"))


def is_probable_policy(title: Column, remark: Column) -> Column:
    t = norm_text_ascii(F.coalesce(title, F.lit("")))
    r = norm_text_ascii(F.coalesce(remark, F.lit("")))
    t_bad = F.lit(False)
    for k in pure.TITLE_EXCLUDE_KEYWORDS:
        t_bad = t_bad | t.contains(k)
    r_bad = F.lit(False)
    for k in pure.REMARK_EXCLUDE_KEYWORDS:
        r_bad = r_bad | r.contains(k)
    return ~t_bad & ~r_bad


# --- serials / dates -----------------------------------------------------------


def parse_serial(s: Column) -> Column:
    cleaned = F.regexp_replace(s, r"[\s\x{3000}]+", "")
    cleaned = F.regexp_replace(cleaned, r"^[．.、)(]+|[．.、)]+$", "")
    return F.when(cleaned.rlike(r"^\d+$"), cleaned.cast("int"))


_DATE_P1 = r"(\d{4}[-/.年]\d{1,2}[-/.月]\d{1,2}(?:日|号)?)"
_DATE_P2 = r"(\d{4}\s*年\s*\d{1,2}\s*月\s*\d{1,2}\s*日?)"


def find_date_in_text(s: Column) -> Column:
    d1 = F.regexp_extract(s, _DATE_P1, 1)
    d2 = F.regexp_extract(s, _DATE_P2, 1)
    return F.when(d1 != "", d1).when(d2 != "", d2)
