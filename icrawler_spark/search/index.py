"""Search index + scoring (ref policy_finder.py).

The index is a DataFrame projection built once (``Entry.build`` → derived
columns, policy_finder.py:515-527): entries ⋈ documents, one row per entry,
cacheable and partition-prunable. Scoring runs over the collected rows, as
the reference's Python loop over its in-memory entries does
(policy_finder.py:1366-1373): the catalog is ~10^3 rows, so a Spark job per
query would cost more than the O(N) scan it runs. ``prepare_rows`` derives
each row's scorer inputs once; ``search`` scores every row and keeps the
top k; ``keyword_search`` is the reference's cheap-predicate-first
two-phase rule (title hits short-circuit; only misses look at the texts —
policy_finder.py:1488-1510, SURVEY §4).
"""

from __future__ import annotations

import heapq
import re
from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import native, pure

# best_path priority: text > pdf > docx/doc/word > html (ref policy_finder.py:346-363)
_BEST_PATH_ORDER = {"text": 5, "txt": 5, "pdf": 4, "docx": 3, "doc": 3, "word": 3, "html": 2}


def build_search_index(entries: DataFrame, documents: DataFrame) -> DataFrame:
    """entries(entry_id, task, serial, title, remark) ⋈ documents(entry_id,
    url, doc_type, title) → one row per entry with the reference's derived
    columns (norm_title, doc_no, year, doctype, agency, best_path, tokens,
    is_policy, n_docs).

    ``best_path`` uses the document URL as the path key (this engine keys
    artifacts by URL, not filesystem path — ref pick_best_path used
    local_path, policy_finder.py:346-363).

    The "first document wins among equal priority" contract needs a real
    position column: ``_src_pos`` (the crawl path's discovery position) when
    present, else the URL as a deterministic total order. Never
    ``monotonically_increasing_id`` — it depends on partition layout, so an
    upstream repartition could flip the winner."""
    mapping = sorted(_BEST_PATH_ORDER.items(), key=lambda kv: -kv[1])
    expr = F.when(F.lower(F.col("doc_type")) == mapping[0][0], mapping[0][1])
    for t, p in mapping[1:]:
        expr = expr.when(F.lower(F.col("doc_type")) == t, p)
    expr = expr.otherwise(0)

    if "_src_pos" in documents.columns:
        # highest priority, then earliest discovery position
        pick = F.max_by("url", F.struct(F.col("_prio"), -F.col("_src_pos")))
    else:
        # no position available: lowest URL is the deterministic stand-in
        pick = F.min_by("url", F.struct(-F.col("_prio"), F.col("url")))
    best = (
        documents.withColumn("_prio", expr)
        .groupBy("entry_id")
        .agg(pick.alias("best_path"), F.count(F.lit(1)).alias("n_docs"))
    )
    title = F.coalesce(F.col("title"), F.lit(""))
    remark = F.coalesce(F.col("remark"), F.lit(""))
    norm_title = native.norm_text_ascii(title)
    return (
        entries.join(best, "entry_id", "left")
        .select(
            "entry_id",
            "task",
            "serial",
            "title",
            "remark",
            norm_title.alias("norm_title"),
            F.coalesce(
                native.extract_docno(title), native.extract_docno(remark)
            ).alias("doc_no"),
            # reference parity (policy_finder.py:518-519): findall with a
            # group returns the GROUP — Entry.year is the century prefix
            # ('19'/'20'), so year matching is century matching. Replicated
            # bug-for-bug; the parity test pins it.
            F.regexp_extract(
                F.concat_ws(" ", title, remark), r"(19|20)\d{2}", 1
            ).alias("year"),
            native.guess_doctype(title).alias("doctype"),
            native.guess_agency(title).alias("agency"),
            F.col("best_path"),
            F.coalesce(F.col("n_docs"), F.lit(0)).alias("n_docs"),
            native.tokenize_zh(title).alias("tokens"),
            native.is_probable_policy(title, remark).alias("is_policy"),
        )
    )


class SearchRow(NamedTuple):
    """One index row's scorer inputs, derived once per catalog."""

    entry_id: str
    title: str | None
    norm_title: str
    doc_no: str | None
    flat_doc: str  # doc_no without brackets, "" for NULL
    year: str
    doctype: str | None
    agency: str  # "" for NULL
    tokens: frozenset
    is_pdf: bool  # best_path ends in .pdf (NULL: False)


class Hit(NamedTuple):
    entry_id: str
    title: str | None
    score: float


class KeywordHit(NamedTuple):
    entry_id: str
    title: str | None
    title_exact: int
    title_hits: int
    content_hits: int


def prepare_rows(rows) -> list[SearchRow]:
    """Collected ``build_search_index`` rows → scorer inputs. The token set,
    the bracket-free doc_no and the pdf flag are computed here once, not
    per query."""
    return [
        SearchRow(
            r.entry_id, r.title, r.norm_title, r.doc_no,
            (r.doc_no or "").replace("[", "").replace("]", ""),
            r.year, r.doctype, r.agency or "", frozenset(r.tokens),
            (r.best_path or "").lower().endswith(".pdf"),
        )
        for r in rows
    ]


def search(rows: list[SearchRow], query: str, topk: int = 10) -> list[Hit]:
    """score-all → top-k (ref policy_finder.py:1366-1373): the additive
    score (ref fuzzy_score, policy_finder.py:1201-1252) of every row, best
    ``topk`` by score desc, then entry_id.

    Query-side features come from the same pure functions the index columns
    use. A NULL index field fails its term (scores 0), as in SQL, and the
    terms are summed in one fixed left-to-right order, so the doubles equal
    the DuckDB oracle's (``queries/engineops.py``) bit for bit."""
    qn = pure.norm_text(query)
    q_doc = pure.extract_docno(qn)
    flat = q_doc.replace("[", "").replace("]", "") if q_doc else ""
    # group-capture findall, like the reference (policy_finder.py:1214):
    # query years are century prefixes too
    q_years = set(re.findall(r"(19|20)\d{2}", qn))
    q_doctype = pure.guess_doctype(qn)
    q_agency = pure.guess_agency(qn)
    phrases = [(ph, min(8.0, 2.0 + len(ph) * 0.8)) for ph in re.findall(r"[一-鿿]{2,}", qn)]
    q_tokens = frozenset(pure.tokenize_zh(qn))

    scored = []
    for i, r in enumerate(rows):
        s = 0.0
        # 1) doc number hard match
        if q_doc:
            s = s + (120.0 if r.doc_no == q_doc else 80.0 if flat in r.flat_doc else 0.0)
        # 2) year hint
        if q_years:
            s = s + (30.0 if r.year in q_years else -5.0 if r.year != "" else 0.0)
        # 3) doctype hint
        if q_doctype:
            s = s + (15.0 if r.doctype == q_doctype else 0.0)
        # 4) agency hint (substring containment either way)
        if q_agency:
            ag = r.agency
            s = s + (10.0 if ag != "" and (q_agency in ag or ag in q_agency) else 0.0)
        # 5) CJK phrase presence in title
        for ph, w in phrases:
            s = s + (w if ph in r.norm_title else 0.0)
        # 6) token Jaccard × 40
        if q_tokens:
            s = s + 40.0 * (len(r.tokens & q_tokens) / len(r.tokens | q_tokens))
        # 7) exact substring boosts
        s = s + (30.0 if r.doc_no is not None and r.doc_no in qn else 0.0)
        dt = r.doctype
        s = s + (10.0 if dt is not None and dt in qn and dt in (r.title or "") else 0.0)
        # 8) pdf best_path preference
        s = s + (3.0 if r.is_pdf else 0.0)
        scored.append((-s, r.entry_id, i))
    return [
        Hit(rows[i].entry_id, rows[i].title, -neg)
        for neg, _eid, i in heapq.nsmallest(topk, scored)
    ]


def dedupe_search_index(index: DataFrame) -> DataFrame:
    """Cross-task dedup (ref _dedupe_entries policy_finder.py:1310-1337):
    rank by (is_policy, task_priority≈0, doctype∉{通知,公告}, pdf best_path,
    n_docs, entry_id) desc; keep first per doc_no (else norm_title), then
    drop repeated best_path."""
    doctype_score = F.when(
        F.col("doctype").isNotNull() & ~F.col("doctype").isin("通知", "公告"), 1
    ).otherwise(0)
    pdf_score = F.when(
        F.lower(F.coalesce(F.col("best_path"), F.lit(""))).endswith(".pdf"), 1
    ).otherwise(0)
    rank_key = F.struct(
        F.col("is_policy").cast("int").alias("p"),
        doctype_score.alias("d"),
        pdf_score.alias("f"),
        F.col("n_docs").alias("n"),
        F.col("entry_id").alias("i"),
    )
    identity = F.lower(
        F.coalesce(F.nullif(F.trim(F.coalesce(F.col("doc_no"), F.lit(""))), F.lit("")), F.col("norm_title"))
    )
    w1 = Window.partitionBy("_identity").orderBy(F.desc("_rank"))
    w2 = Window.partitionBy("_path_key").orderBy(F.desc("_rank"))
    out = (
        index.withColumn("_identity", identity)
        .withColumn("_rank", rank_key)
        .withColumn("_rn1", F.row_number().over(w1))
        .where(F.col("_rn1") == 1)
        .withColumn("_path_key", F.lower(F.coalesce(F.col("best_path"), F.concat(F.lit("∅"), F.col("entry_id")))))
        .withColumn("_rn2", F.row_number().over(w2))
        .where(F.col("_rn2") == 1)
    )
    return out.drop("_identity", "_rank", "_rn1", "_rn2", "_path_key")


def keyword_search(rows: list[SearchRow], texts: dict, query: str) -> list[KeywordHit]:
    """Two-phase keyword search (ref policy_finder.py:1473-1516): title
    hits are counted for every row; only title misses look up their
    ``texts`` (entry_id → text) for content hits (cheap-predicate-first,
    SURVEY §4).

    Ordered by title_exact, title_hits, content_hits (desc), then title
    (NULL first) and entry_id: a total order, so slices of the result never
    overlap or skip, whatever the partition layout the index came from."""
    qn = pure.norm_text(query)
    if not qn:
        return []
    tokens = list(dict.fromkeys(pure.tokenize_zh(qn)))
    out = []
    for r in rows:
        exact = 1 if qn in r.norm_title else 0
        hits = sum(1 for t in tokens if t in r.norm_title)
        if exact or hits:
            content = hits if tokens else exact
        else:
            text = texts.get(r.entry_id) or ""
            content = sum(1 for t in tokens if t in text) if tokens else int(qn in text)
        if exact or hits or content:
            out.append(KeywordHit(r.entry_id, r.title, exact, hits, content))
    out.sort(key=lambda h: (
        -h.title_exact, -h.title_hits, -h.content_hits, nulls_first(h.title), h.entry_id,
    ))
    return out


def nulls_first(value):
    """Sort key for a nullable string: NULL first, like Spark's ascending
    sort; Python ``str`` order is Spark's UTF-8 byte order."""
    return value is not None, value or ""
