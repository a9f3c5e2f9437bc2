"""Engine-path queries for the correctness gate.

These drive the non-relational surfaces (pandas-UDF extraction, the frontier
loop, the search scorer) through the driver's queries() harness:

- ``html_text_extraction`` HAS a DuckDB oracle: wrapping a plain one-line
  text in ``<p>`` and running the full html→text pipeline must return the
  text unchanged (none of the boilerplate/drop rules fire on it), so the
  oracle is the identity projection — any normalization regression breaks
  the hash.
- ``crawl_frontier_round`` is hash-gated by a DuckDB *recursive-CTE BFS*:
  the synthetic site's pagination edge list (produced by the pure-Python
  parser) is embedded as VALUES, and DuckDB independently recomputes the
  reference FIFO order — round = BFS level, global position = rank by
  (round, lexicographically-minimal link-position path) — which must
  value-hash-equal the engine's distributed frontier loop.
- ``search_topk`` is hash-gated by a DuckDB port of the additive fuzzy
  score (ref policy_finder.py:1201-1252): index-side derived columns are
  recomputed with the *pure-Python* twins (an independent implementation
  of the native Column expressions the index build uses) and the score
  arithmetic runs as CASE/list SQL in the identical left-to-right addition
  order, so the doubles must be bit-identical to the Python scorer's.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import functions as F

from .common import load

_SITE_PAGES = 6
_SITE_ENTRIES = 2
_SITE_START = "https://www.example.test/list/index.html"
_SITE_MISSING = "https://www.example.test/list/index_5.html"  # linked, not fetchable


def html_text_extraction(spark, sf_dir):
    """documents.text → synthetic html page → textpipe extraction → text.

    Exercises decode_bytes + DOM walk + normalize_html_text inside the
    Arrow-batched applyInPandas path under the driver's value-hash."""
    from ..textpipe.udfs import extract_entry_texts

    d = load(spark, sf_dir, "documents")
    fetched = d.select(
        F.col("doc_id").cast("string").alias("entry_id"),
        F.concat(F.lit("http://docs.test/"), F.col("doc_id").cast("string"), F.lit(".html")).alias("url"),
        F.lit("html").alias("doc_type"),
        F.encode(
            F.concat(F.lit("<html><body><p>"), F.col("text"), F.lit("</p></body></html>")),
            "utf-8",
        ).alias("content"),
        F.lit(0).alias("pos"),
    )
    return extract_entry_texts(fetched).select(
        F.col("entry_id").cast("long").alias("doc_id"),
        F.col("text").alias("extracted"),
        "status",
    )


HTML_TEXT_EXTRACTION_SQL = """
SELECT doc_id, text AS extracted, 'success' AS status FROM documents
"""


def _frontier_site():
    """The deterministic mini-site both the Spark query and the DuckDB
    oracle are built from: 6 listing pages, one of them (index_5) linked
    but absent from the pages table — the ``missing`` status path."""
    from ..crawl import build_site

    site = build_site(n_pages=_SITE_PAGES, entries_per_page=_SITE_ENTRIES)
    del site[_SITE_MISSING]
    return site


def crawl_frontier_round(spark, sf_dir):
    """One full mini-crawl over the 6-page site: returns the visited table
    (url, round, global_pos, status) — the crawl-order surface as a
    DataFrame. Ignores sf_dir (the site is synthesized deterministically)."""
    from ..crawl import CrawlConfig, CrawlEngine, site_pages_df

    pages = site_pages_df(spark, _frontier_site())
    eng = CrawlEngine(
        spark,
        pages,
        CrawlConfig(start_url=_SITE_START, max_rounds=10, use_bloom=False),
    )
    eng.run()
    return eng.visited.select("url", "round", "global_pos", "status")


def _sql_str(s):
    return "NULL" if s is None else "'" + s.replace("'", "''") + "'"


def _crawl_frontier_oracle_sql() -> str:
    """Recursive-CTE BFS over the site's pagination edge list.

    The edge list comes from the pure-Python pagination parser; the ORDER is
    recomputed entirely in SQL: ``walk`` enumerates link-position paths from
    the seed (bounded by the page count — the site has pagination cycles),
    each url's round is its minimal path length (BFS level), its order key
    the lexicographically smallest path at that level — exactly the
    reference's FIFO append with first-wins dedup (ref pbc_monitor.py:
    249-254). global_pos = dense rank over (round, path)."""
    from ..parsers import listing

    site = _frontier_site()
    edges = []
    for url, content in sorted(site.items()):
        html = content if isinstance(content, str) else content.decode("utf-8")
        meta = listing.extract_pagination_meta(url, html, _SITE_START)
        for pos, item in enumerate(meta["links"]):
            edges.append((url, item["url"], pos))
    edge_vals = ", ".join(f"({_sql_str(a)}, {_sql_str(b)}, {p})" for a, b, p in edges)
    page_vals = ", ".join(f"({_sql_str(u)})" for u in sorted(site))
    n_urls = len({d for _, d, _ in edges} | {_SITE_START})
    return f"""
WITH RECURSIVE
edges(src, dst, link_pos) AS (VALUES {edge_vals}),
pages(url) AS (VALUES {page_vals}),
seeds(url, idx) AS (VALUES ({_sql_str(_SITE_START)}, 0)),
walk(url, round, ord) AS (
    SELECT url, 0, [idx] FROM seeds
  UNION ALL
    SELECT e.dst, w.round + 1, list_append(w.ord, e.link_pos)
    FROM walk w
    JOIN pages p ON p.url = w.url
    JOIN edges e ON e.src = w.url
    WHERE w.round < {n_urls}
),
firstr AS (SELECT url, MIN(round) AS round FROM walk GROUP BY url),
best AS (
  SELECT w.url, w.round, MIN(w.ord) AS ord
  FROM walk w JOIN firstr f ON w.url = f.url AND w.round = f.round
  GROUP BY w.url, w.round
)
SELECT b.url,
       CAST(b.round AS INT) AS round,
       CAST(ROW_NUMBER() OVER (ORDER BY b.round, b.ord) - 1 AS BIGINT) AS global_pos,
       CASE WHEN p.url IS NOT NULL THEN 'fetched' ELSE 'missing' END AS status
FROM best b LEFT JOIN pages p ON p.url = b.url
"""


CRAWL_FRONTIER_SQL = _crawl_frontier_oracle_sql()


# (entry_id, task, serial, title, remark, doc url, doc_type)
_CATALOG = [
    ("e1", "t1", 1, "中国人民银行关于加强支付管理的通知 银发〔2023〕12号", "", "http://x/a.pdf", "pdf"),
    ("e2", "t1", 2, "中国人民银行公告〔2021〕第3号 存款利率管理办法", "", "http://x/b.html", "html"),
    ("e3", "t1", 3, "国务院关于金融监管的意见", "", "http://x/c.docx", "word"),
    ("e4", "t1", 4, "已废止的旧规定", "已废止", "http://x/d.pdf", "pdf"),
]
_SEARCH_QUERY = "2023年支付管理通知"
_SEARCH_TOPK = 3


def search_topk(spark, sf_dir):
    """Fuzzy top-k over a deterministic inline policy catalog with the
    scorer the policy API serves from, end-to-end (ref policy_finder.py:
    1201-1252, 1366-1373): build the index, collect it, score the rows."""
    from ..search import build_search_index, prepare_rows, search

    entries = spark.createDataFrame(
        [r[:5] for r in _CATALOG],
        "entry_id string, task string, serial int, title string, remark string",
    )
    documents = spark.createDataFrame(
        [(eid, url, dt, "d", 0) for eid, _t, _s, _ti, _r, url, dt in _CATALOG],
        "entry_id string, url string, doc_type string, title string, _src_pos long",
    )
    rows = prepare_rows(build_search_index(entries, documents).collect())
    hits = search(rows, _SEARCH_QUERY, topk=_SEARCH_TOPK)
    return spark.createDataFrame(hits, "entry_id string, title string, score double")


def _search_topk_oracle_sql() -> str:
    """DuckDB port of the additive fuzzy score over the inline catalog.

    Index-side derived columns (norm_title, doc_no, year, doctype, agency,
    tokens) are recomputed here with the pure-Python twins — an independent
    implementation of the native Column expressions ``build_search_index``
    uses — and embedded as VALUES; query-side constants are folded in as
    literals exactly as ``search.index.search`` computes them. Score
    terms are added in the identical left-to-right order so the resulting
    doubles are bit-identical across engines."""
    from ..functions import pure

    def norm_ascii(s):
        for a, b in pure._PUNCT_PAIRS:
            s = s.replace(a, b)
        return _re.sub(r"\s+", " ", s).strip()

    def toks(s):
        return [
            x
            for x in _re.findall(r"[一-鿿]+|[a-zA-Z0-9]+", norm_ascii(s))
            if x not in pure.STOPWORDS_ZH
        ]

    def docno(s):
        m = _re.search(
            r"(银发|银办发|公告|令|会发|财金|发改|证监|保监|银保监|人民银行令|中国人民银行令)"
            r"[〔\[\(]?\s*(\d{2,4})\s*[〕\]\)]?\s*(第?\s*\d+\s*号)?",
            norm_ascii(s),
        )
        if not m or not m.group(1):
            return None
        y = m.group(2)
        y = "20" + y if len(y) == 2 else y
        tail = _re.sub(r"\s+", "", m.group(3) or "")
        return f"{m.group(1)}[{y}]{tail}"

    def doctype(s):
        t = norm_ascii(s)
        return next((kw for kw in pure.DOCTYPE_KEYWORDS if kw in t), None)

    def agency(s):
        t = norm_ascii(s)
        hits = [a for a in pure.AGENCIES if a in t]
        return "、".join(hits[:3]) if hits else None

    def litlist(xs):
        return "[" + ", ".join(_sql_str(x) for x in xs) + "]"

    vals = []
    for eid, _task, _serial, title, remark, url, _dt in _CATALOG:
        # century prefix, like reference Entry.year (policy_finder.py:518-519)
        ym = _re.search(r"(19|20)\d{2}", f"{title} {remark}")
        vals.append(
            f"({_sql_str(eid)}, {_sql_str(title)}, {_sql_str(norm_ascii(title))}, "
            f"{_sql_str(docno(title) or docno(remark))}, {_sql_str(ym.group(1) if ym else '')}, "
            f"{_sql_str(doctype(title))}, {_sql_str(agency(title))}, {_sql_str(url)}, "
            f"{litlist(toks(title))})"
        )

    # query-side constants: the same computation search.index.search does
    qn = pure.norm_text(_SEARCH_QUERY)
    q_doc = pure.extract_docno(qn)
    q_years = _re.findall(r"(19|20)\d{2}", qn)  # group-capture, like the ref
    q_doctype = pure.guess_doctype(qn)
    q_agency = pure.guess_agency(qn)
    phrases = _re.findall(r"[一-鿿]{2,}", qn)
    q_tokens = list(dict.fromkeys(pure.tokenize_zh(qn)))

    terms = []
    if q_doc:
        flat = q_doc.replace("[", "").replace("]", "")
        terms.append(
            f"CASE WHEN doc_no = {_sql_str(q_doc)} THEN 120.0 "
            f"WHEN strpos(replace(replace(coalesce(doc_no,''),'[',''),']',''), {_sql_str(flat)}) > 0 "
            f"THEN 80.0 ELSE 0.0 END"
        )
    if q_years:
        yl = ", ".join(_sql_str(y) for y in q_years)
        terms.append(
            f"CASE WHEN year IN ({yl}) THEN 30.0 WHEN year <> '' THEN -5.0 ELSE 0.0 END"
        )
    if q_doctype:
        terms.append(f"CASE WHEN doctype = {_sql_str(q_doctype)} THEN 15.0 ELSE 0.0 END")
    if q_agency:
        terms.append(
            f"CASE WHEN coalesce(agency,'') <> '' AND "
            f"(strpos(coalesce(agency,''), {_sql_str(q_agency)}) > 0 OR "
            f"strpos({_sql_str(q_agency)}, coalesce(agency,'')) > 0) THEN 10.0 ELSE 0.0 END"
        )
    for ph in phrases:
        w = min(8.0, 2.0 + len(ph) * 0.8)
        terms.append(f"CASE WHEN strpos(norm_title, {_sql_str(ph)}) > 0 THEN {w!r} ELSE 0.0 END")
    if q_tokens:
        qt = litlist(q_tokens)
        terms.append(
            f"40.0 * (CASE WHEN length(list_distinct(list_distinct(tokens) || {qt})) > 0 "
            f"THEN CAST(length(list_intersect(list_distinct(tokens), {qt})) AS DOUBLE) "
            f"/ CAST(length(list_distinct(list_distinct(tokens) || {qt})) AS DOUBLE) ELSE 0.0 END)"
        )
    terms.append(
        f"CASE WHEN doc_no IS NOT NULL AND strpos({_sql_str(qn)}, doc_no) > 0 THEN 30.0 ELSE 0.0 END"
    )
    terms.append(
        f"CASE WHEN doctype IS NOT NULL AND strpos({_sql_str(qn)}, doctype) > 0 "
        f"AND strpos(title, doctype) > 0 THEN 10.0 ELSE 0.0 END"
    )
    terms.append("CASE WHEN lower(coalesce(best_path,'')) LIKE '%.pdf' THEN 3.0 ELSE 0.0 END")
    score = "0.0 + " + " + ".join(terms)
    return f"""
WITH idx(entry_id, title, norm_title, doc_no, year, doctype, agency, best_path, tokens)
  AS (VALUES {', '.join(vals)})
SELECT entry_id, title, {score} AS score
FROM idx ORDER BY score DESC, entry_id ASC LIMIT {_SEARCH_TOPK}
"""


SEARCH_TOPK_SQL = _search_topk_oracle_sql()


# --- priority-frontier schedule -------------------------------------------------

# Deterministic priorities for the mini-site's pagination pages: index_1 and
# index_3 TIE (FIFO discovery order breaks it), index_5 is unscored (priority
# 0, scheduled last — and absent from the pages table, so it lands `missing`).
_SITE_PRIORITIES = {1: 3, 2: 6, 3: 3, 4: 5}


def priority_frontier_round(spark, sf_dir):
    """The priority-queue crawl schedule as an oracle-checked surface.

    Same 6-page site as ``crawl_frontier_round`` but with a 1-per-host
    politeness budget and an external (url, priority) score table: the
    engine must fetch pending pages highest-priority-first, one per round,
    FIFO on ties, unscored pages last. Returns (url, round, global_pos,
    status) — rounds are the priority schedule; positions stay discovery-
    order (they are assigned when a link is first seen, not when fetched).
    """
    from ..crawl import CrawlConfig, CrawlEngine, site_pages_df

    base = _SITE_START.rsplit("/", 1)[0]
    pages = site_pages_df(spark, _frontier_site())
    prio = spark.createDataFrame(
        [(f"{base}/index_{k}.html", p) for k, p in _SITE_PRIORITIES.items()],
        "url string, priority long",
    )
    eng = CrawlEngine(
        spark,
        pages,
        CrawlConfig(
            start_url=_SITE_START, max_rounds=10, use_bloom=False, host_budget=1
        ),
        priority_df=prio,
    )
    eng.run()
    return eng.visited.select("url", "round", "global_pos", "status")


def _priority_frontier_oracle_sql() -> str:
    """Independent SQL recomputation of the priority schedule.

    Discovery order comes from the pure-Python pagination parser over the
    SEED page only (every other page is discovered there — the site's
    pagination bar links all pages); the schedule is then pure SQL:
    round = rank by (priority DESC, discovery order ASC), the seed is
    round 0, and status reflects presence in the pages table."""
    from ..parsers import listing

    site = _frontier_site()
    html = site[_SITE_START]
    html = html if isinstance(html, str) else html.decode("utf-8")
    meta = listing.extract_pagination_meta(_SITE_START, html, _SITE_START)
    seen, links = set(), []
    for item in meta["links"]:
        u = item["url"]
        if u != _SITE_START and u not in seen:
            seen.add(u)
            links.append(u)
    base = _SITE_START.rsplit("/", 1)[0]
    rows = [f"({_sql_str(_SITE_START)}, 0, NULL, true)"]
    for pos, u in enumerate(links, start=1):
        k = int(u.rsplit("_", 1)[1].split(".")[0])
        p = _SITE_PRIORITIES.get(k)
        rows.append(
            f"({_sql_str(u)}, {pos}, {p if p is not None else 'NULL'}, "
            f"{'true' if u in site else 'false'})"
        )
    vals = ", ".join(rows)
    return f"""
WITH disc(url, discovery_pos, prio, present) AS (VALUES {vals}),
sched AS (
  SELECT url, discovery_pos, present,
         CASE WHEN discovery_pos = 0 THEN 0
              ELSE ROW_NUMBER() OVER (
                     PARTITION BY (discovery_pos = 0)
                     ORDER BY COALESCE(prio, 0) DESC, discovery_pos ASC)
         END AS round
  FROM disc
)
SELECT url, CAST(round AS INT) AS round,
       CAST(discovery_pos AS BIGINT) AS global_pos,
       CASE WHEN present THEN 'fetched' ELSE 'missing' END AS status
FROM sched
"""


PRIORITY_FRONTIER_SQL = _priority_frontier_oracle_sql()


# --- change-log-driven recrawl round (incremental crawl, end-to-end) -----------


def _recrawl_urls_df(spark, sf_dir):
    """The recrawl work-list: ``recrawl_schedule`` priorities (Cho &
    Garcia-Molina refresh scores over the fetch log) mapped onto
    deterministic urls across 7 hosts, with FIFO seed positions by url_id.
    The single-partition seed window is the 150-row demo construction; a
    10^10 recrawl list ships positions as data (``synthetic_seed_df``
    pattern)."""
    from pyspark.sql import Window

    from .analytics import recrawl_schedule

    sched = recrawl_schedule(spark, sf_dir).select(
        "url_id", F.col("refetch_priority").alias("priority")
    )
    w = Window.orderBy("url_id")
    return sched.select(
        "url_id",
        "priority",
        F.concat(
            F.lit("https://host-"), (F.col("url_id") % 7).cast("string"),
            F.lit(".recrawl.test/p/"), F.col("url_id").cast("string"), F.lit(".html"),
        ).alias("url"),
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
    )


def recrawl_round(spark, sf_dir):
    """The incremental-crawl loop CLOSED end-to-end (VERDICT r3 item 6):
    fetch log → change-frequency schedule → priority frontier → refetch.

    The ``events`` table is the fetch log; ``recrawl_schedule`` turns it
    into per-url refetch priorities; those priorities drive the REAL
    ``CrawlEngine`` (``priority_df``) over a pages corpus where every
    5th url has dropped out (marked ``missing``, never retried), under a
    2-per-host politeness budget. Output is the engine's visited log
    (url, round, global_pos, status): the rounds ARE the refresh schedule —
    frequently-changing, long-unfetched pages land in round 0. The oracle
    recomputes the whole pipeline in SQL: schedule (exact integer
    arithmetic) → per-host rank by (priority DESC, seed pos ASC) → round =
    rank DIV budget. This is the reference's monitor loop
    (ref pbc_monitor.py:1137-1207) as one deterministic dataflow."""
    from ..crawl import CrawlConfig, CrawlEngine

    urls = _recrawl_urls_df(spark, sf_dir).localCheckpoint(eager=True)
    pages = urls.where(F.col("url_id") % 5 != 0).select(
        "url", F.lit("<html><body>recrawled snapshot</body></html>").alias("html")
    )
    eng = CrawlEngine(
        spark,
        pages,
        CrawlConfig(
            start_url="https://host-0.recrawl.test/p/0.html",
            max_rounds=100,
            use_bloom=False,
            host_budget=2,
            parse_entries=False,
        ),
        seeds_df=urls.select("url", "pos"),
        priority_df=urls.select("url", "priority"),
    )
    eng.run()
    return eng.visited.select("url", "round", "global_pos", "status")


RECRAWL_ROUND_SQL = """
WITH m AS (SELECT MAX(ts) AS mx FROM events),
per AS (
  SELECT user_id AS url_id, COUNT(*) AS n_fetches,
         COUNT(DISTINCT props) AS n_changes, MAX(ts) AS last_ts
  FROM events GROUP BY user_id
),
sched AS (
  SELECT url_id,
         CAST((date_diff('microsecond', last_ts, (SELECT mx FROM m)) * n_changes)
              // n_fetches AS BIGINT) AS prio
  FROM per
),
urls AS (
  SELECT url_id, prio,
         'https://host-' || CAST(url_id % 7 AS VARCHAR) || '.recrawl.test/p/'
           || CAST(url_id AS VARCHAR) || '.html' AS url,
         ROW_NUMBER() OVER (ORDER BY url_id) - 1 AS pos,
         url_id % 5 <> 0 AS present
  FROM sched
),
ranked AS (
  SELECT url, pos, present,
         ROW_NUMBER() OVER (PARTITION BY url_id % 7
                            ORDER BY prio DESC, pos ASC) AS rh
  FROM urls
)
SELECT url, CAST((rh - 1) // 2 AS INT) AS round, CAST(pos AS BIGINT) AS global_pos,
       CASE WHEN present THEN 'fetched' ELSE 'missing' END AS status
FROM ranked
"""


# --- URL canonicalization (frontier dedup key) --------------------------------

# A 10^10-URL frontier dedups on a CANONICAL url, not the raw string — case
# noise in scheme/host, explicit default ports, fragments, duplicate path
# slashes and query-parameter order otherwise multiply the seen-set (RFC 3986
# §6 normalization; the reference dedups raw strings because its corpora are
# self-consistent, ref pbc_monitor.py seen-set). The testdata has no url
# column, so raw urls are synthesized deterministically from doc_id — three
# messy variants per logical page — identically on both engines; the operator
# under test is the normalization chain (pure codegen, no UDF, and every
# regex avoids lookaround so Java (Spark) and RE2 (DuckDB) agree).


def _canonicalize_url(u):
    """RFC-3986-style normalization as a Column expression chain.

    Guarded: scheme-relative / scheme-less input (no ``scheme://`` prefix)
    is returned unchanged rather than collapsed onto a degenerate
    ``://``-prefixed key that would silently merge distinct URLs — the
    frontier resolves relative links against their page before they ever
    reach the dedup key, so a non-absolute url here means "not ours to
    normalize", not "normalize harder"."""
    u1 = F.regexp_replace(u, r"#.*$", "")  # strip fragment
    scheme = F.lower(F.regexp_extract(u1, r"^([^:/?#]+)://", 1))
    auth = F.lower(F.regexp_extract(u1, r"^[^:/?#]+://([^/?#]*)", 1))
    auth = (
        F.when(scheme == "http", F.regexp_replace(auth, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(auth, r":443$", ""))
        .otherwise(auth)
    )
    rest = F.regexp_replace(u1, r"^[^:/?#]+://[^/?#]*", "")
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    path = F.regexp_replace(path, r"/{2,}", "/")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    qnorm = F.when(query == "", F.lit("")).otherwise(
        F.concat(F.lit("?"), F.array_join(F.array_sort(F.split(query, "&")), "&"))
    )
    return F.when(
        scheme == "", u
    ).otherwise(F.concat(scheme, F.lit("://"), auth, path, qnorm))


def url_canonicalize(spark, sf_dir):
    """Canonical-url rollup over a deterministically-messy raw url corpus.

    Returns (canonical_url, n_variants, n_distinct_raw, first_raw): the
    frontier-dedup view — how many raw spellings collapse onto each
    canonical key. All codegen (regexp/case/array ops); one shuffle on the
    canonical key.
    """
    d = load(spark, sf_dir, "documents").select("doc_id")
    page = F.expr("doc_id DIV 3")
    v = F.col("doc_id") % 3
    h = (page % 97).cast("string")
    pg = page.cast("string")
    scheme_raw = F.when(v == 1, F.lit("HTTP")).otherwise(F.lit("http"))
    host_raw = (
        F.when(v == 0, F.concat(F.lit("host"), h, F.lit(".example.com")))
        .when(v == 1, F.concat(F.lit("HOST"), h, F.lit(".Example.COM")))
        .otherwise(F.concat(F.lit("Host"), h, F.lit(".example.Com")))
    )
    port_raw = F.when(v == 1, F.lit(":80")).otherwise(F.lit(""))
    path_raw = F.when(
        v == 2, F.concat(F.lit("//docs//"), pg, F.lit("//"))
    ).otherwise(F.concat(F.lit("/docs/"), pg, F.lit("/")))
    query_raw = F.when(v == 1, F.lit("?a=1&b=2")).otherwise(F.lit("?b=2&a=1"))
    frag_raw = F.when(v == 2, F.lit("#sec")).otherwise(F.lit(""))
    raw = F.concat(
        scheme_raw, F.lit("://"), host_raw, port_raw, path_raw, query_raw, frag_raw
    )
    urls = d.select(raw.alias("raw_url"))
    return (
        urls.select("raw_url", _canonicalize_url(F.col("raw_url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.countDistinct("raw_url").alias("n_distinct_raw"),
            F.min("raw_url").alias("first_raw"),
        )
    )


URL_CANONICALIZE_SQL = r"""
WITH raws AS (
  SELECT CASE WHEN doc_id % 3 = 1 THEN 'HTTP' ELSE 'http' END || '://' ||
         CASE WHEN doc_id % 3 = 0
              THEN 'host' || CAST((doc_id // 3) % 97 AS VARCHAR) || '.example.com'
              WHEN doc_id % 3 = 1
              THEN 'HOST' || CAST((doc_id // 3) % 97 AS VARCHAR) || '.Example.COM'
              ELSE 'Host' || CAST((doc_id // 3) % 97 AS VARCHAR) || '.example.Com'
         END ||
         CASE WHEN doc_id % 3 = 1 THEN ':80' ELSE '' END ||
         CASE WHEN doc_id % 3 = 2
              THEN '//docs//' || CAST(doc_id // 3 AS VARCHAR) || '//'
              ELSE '/docs/' || CAST(doc_id // 3 AS VARCHAR) || '/'
         END ||
         CASE WHEN doc_id % 3 = 1 THEN '?a=1&b=2' ELSE '?b=2&a=1' END ||
         CASE WHEN doc_id % 3 = 2 THEN '#sec' ELSE '' END AS raw_url
  FROM documents
),
canon AS (
  SELECT raw_url,
         scheme || '://' || auth2 || path2 ||
         CASE WHEN query = '' THEN ''
              ELSE '?' || array_to_string(list_sort(string_split(query, '&')), '&')
         END AS canonical_url
  FROM (
    SELECT raw_url, scheme,
           CASE WHEN scheme = 'http'  THEN regexp_replace(auth, ':80$', '')
                WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
                ELSE auth END AS auth2,
           CASE WHEN regexp_replace(path, '/{2,}', '/', 'g') = '' THEN '/'
                ELSE regexp_replace(path, '/{2,}', '/', 'g') END AS path2,
           query
    FROM (
      SELECT raw_url,
             lower(regexp_extract(u1, '^([^:/?#]+)://', 1)) AS scheme,
             lower(regexp_extract(u1, '^[^:/?#]+://([^/?#]*)', 1)) AS auth,
             regexp_extract(regexp_replace(u1, '^[^:/?#]+://[^/?#]*', ''),
                            '^([^?]*)', 1) AS path,
             regexp_extract(regexp_replace(u1, '^[^:/?#]+://[^/?#]*', ''),
                            '\?(.*)$', 1) AS query
      FROM (SELECT raw_url, regexp_replace(raw_url, '#.*$', '') AS u1 FROM raws)
    )
  )
)
SELECT canonical_url, COUNT(*) AS n_variants,
       COUNT(DISTINCT raw_url) AS n_distinct_raw, MIN(raw_url) AS first_raw
FROM canon GROUP BY canonical_url
"""


QUERIES = {
    "html_text_extraction": (html_text_extraction, HTML_TEXT_EXTRACTION_SQL),
    "crawl_frontier_round": (crawl_frontier_round, CRAWL_FRONTIER_SQL),
    "search_topk": (search_topk, SEARCH_TOPK_SQL),
    "url_canonicalize": (url_canonicalize, URL_CANONICALIZE_SQL),
    "priority_frontier_round": (priority_frontier_round, PRIORITY_FRONTIER_SQL),
    "recrawl_round": (recrawl_round, RECRAWL_ROUND_SQL),
}


def curation_pipeline(spark, sf_dir):
    """The flagship corpus-curation pipeline as an oracle-checked query:
    exact-dedup canonical docs ⋈ per-doc quality → per-(lang, source)
    rollup. Same dataflow as ``__spark_entry__.entry``."""
    from pyspark.sql import functions as F

    from .textops import exact_dedup, quality_score

    docs = load(spark, sf_dir, "documents")
    canon = exact_dedup(spark, sf_dir).select(
        F.col("canonical_doc_id").alias("doc_id"), "n_copies"
    )
    q = quality_score(spark, sf_dir).select("doc_id", "quality")
    return (
        docs.join(canon, "doc_id")
        .join(q, "doc_id")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_copies").cast("long").alias("n_raw_copies"),
            F.sum(F.round(F.col("quality") * 1e6).cast("long")).alias("quality_sum_micro"),
        )
    )


CURATION_PIPELINE_SQL = """
WITH canon AS (
  SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
  FROM documents GROUP BY md5(text)
),
q AS (
  SELECT doc_id,
         (n_dist / n_tok) * 2.0 + n_stop / n_tok AS quality
  FROM (
    SELECT doc_id,
           CAST(length(t) AS BIGINT) AS n_tok,
           CAST(length(list_distinct(t)) AS BIGINT) AS n_dist,
           CAST(length(list_filter(t, x -> x IN ('the','a','of','and'))) AS BIGINT) AS n_stop
    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents)
  )
)
SELECT d.lang, d.source, COUNT(*) AS n_docs,
       CAST(SUM(c.n_copies) AS BIGINT) AS n_raw_copies,
       CAST(SUM(CAST(round(q.quality * 1000000) AS BIGINT)) AS BIGINT) AS quality_sum_micro
FROM documents d JOIN canon c USING (doc_id) JOIN q USING (doc_id)
GROUP BY d.lang, d.source
"""

QUERIES["curation_pipeline"] = (curation_pipeline, CURATION_PIPELINE_SQL)


def link_extraction(spark, sf_dir):
    """The generic columnar link extractor (parsers/links.py — north_star
    "lxml-style href + img-src parsing re-expressed columnar") as an
    oracle-checked query: deterministic HTML synthesized per document row
    exercises every resolution branch (relative, root-relative,
    protocol-relative, absolute, ../ collapse, dropped fragment/javascript,
    single- and double-quoted attributes, mixed case), then extraction +
    resolution run entirely JVM-side. Output: (doc_id, link_pos, kind, url).
    100 TB shape: a scan-local map + generate stage — zero Python, zero
    shuffle; the oracle re-implements the identical regex chain in DuckDB
    (both engines run byte-equal lookaround-free patterns)."""
    from ..parsers.links import extract_links
    from .common import load

    d = load(spark, sf_dir, "documents")
    base = F.concat(
        F.lit("https://host-"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".test/dir/sub/page"), F.col("doc_id").cast("string"), F.lit(".html"),
    )
    variant = (
        F.when(F.col("doc_id") % 4 == 0, F.lit('<a href="../up/x.html">u</a>'))
        .when(F.col("doc_id") % 4 == 1, F.lit('<a href="//cdn.test/lib.js">c</a>'))
        .when(F.col("doc_id") % 4 == 2, F.lit('<a href="#frag">f</a><a href="javascript:void(0)">j</a>'))
        .otherwise(F.lit("<A HREF='https://abs.test/p.html'>a</A>"))
    )
    html = F.concat(
        F.lit('<html><body><a href="next'), (F.col("doc_id") % 10).cast("string"),
        F.lit('.html">n</a><img src="/img/i'), (F.col("doc_id") % 5).cast("string"),
        F.lit('.png">'), variant,
        F.when(F.col("doc_id") % 6 == 0, F.lit("<img src='rel/thumb.jpg'>")).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    pages = d.select(F.col("doc_id"), base.alias("url"), html.alias("html"))
    return extract_links(pages, carry=("doc_id",)).select(
        "doc_id", "link_pos", "kind", "url"
    )


# the oracle mirrors the extractor regex-for-regex; 'g' flags make DuckDB's
# regexp_replace match Spark's replace-all semantics.
LINK_EXTRACTION_SQL = r"""
WITH docs AS (
  SELECT doc_id,
         'https://host-' || CAST(doc_id % 7 AS VARCHAR) || '.test/dir/sub/page'
           || CAST(doc_id AS VARCHAR) || '.html' AS base,
         '<html><body><a href="next' || CAST(doc_id % 10 AS VARCHAR)
           || '.html">n</a><img src="/img/i' || CAST(doc_id % 5 AS VARCHAR) || '.png">'
           || CASE
                WHEN doc_id % 4 = 0 THEN '<a href="../up/x.html">u</a>'
                WHEN doc_id % 4 = 1 THEN '<a href="//cdn.test/lib.js">c</a>'
                WHEN doc_id % 4 = 2 THEN '<a href="#frag">f</a><a href="javascript:void(0)">j</a>'
                ELSE '<A HREF=''https://abs.test/p.html''>a</A>'
              END
           || CASE WHEN doc_id % 6 = 0 THEN '<img src=''rel/thumb.jpg''>' ELSE '' END
           || '</body></html>' AS html
  FROM documents
),
tags AS (
  SELECT doc_id, base, p - 1 AS link_pos, tags_arr[p] AS tag
  FROM (SELECT doc_id, base,
               regexp_extract_all(html, '(?i)<(?:a|img)\b[^>]*>', 0) AS tags_arr
        FROM docs),
       unnest(range(1, len(tags_arr) + 1)) AS t(p)
),
attrs AS (
  SELECT doc_id, base, link_pos,
         CASE WHEN regexp_matches(tag, '(?i)^<a\b') THEN 'href' ELSE 'img' END AS kind,
         CASE WHEN regexp_matches(tag, '(?i)^<a\b') THEN
           COALESCE(NULLIF(regexp_extract(tag, '(?i)\bhref\s*=\s*"([^"]*)"', 1), ''),
                    NULLIF(regexp_extract(tag, '(?i)\bhref\s*=\s*''([^'']*)''', 1), ''))
         ELSE
           COALESCE(NULLIF(regexp_extract(tag, '(?i)\bsrc\s*=\s*"([^"]*)"', 1), ''),
                    NULLIF(regexp_extract(tag, '(?i)\bsrc\s*=\s*''([^'']*)''', 1), ''))
         END AS raw
  FROM tags
),
parts AS (
  SELECT *, regexp_extract(base, '^([^:/?#]+)://', 1) AS scheme,
         regexp_extract(base, '^[^:/?#]+://([^/?#]*)', 1) AS host,
         CASE WHEN regexp_extract(base, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) = '' THEN '/'
              ELSE regexp_replace(regexp_extract(base, '^[^:/?#]+://[^/?#]*([^?#]*)', 1),
                                  '[^/]*$', '') END AS basedir
  FROM attrs
),
joined AS (
  SELECT doc_id, link_pos, kind,
         CASE
           WHEN raw IS NULL OR raw = '' OR raw LIKE '#%' THEN NULL
           WHEN lower(raw) LIKE 'javascript:%' OR lower(raw) LIKE 'mailto:%'
                OR lower(raw) LIKE 'data:%' THEN NULL
           WHEN position('://' IN raw) > 0 THEN raw
           WHEN raw LIKE '//%' THEN scheme || ':' || raw
           WHEN raw LIKE '/%' THEN scheme || '://' || host || raw
           ELSE scheme || '://' || host || basedir || raw
         END AS u
  FROM parts
)
SELECT doc_id, link_pos, kind,
       regexp_replace(regexp_replace(regexp_replace(
         regexp_replace(regexp_replace(u, '/\./', '/', 'g'), '/\./', '/', 'g'),
         '/[^/.][^/]*/\.\./', '/', 'g'), '/[^/.][^/]*/\.\./', '/', 'g'),
         '/[^/.][^/]*/\.\./', '/', 'g') AS url
FROM joined WHERE u IS NOT NULL
"""

QUERIES["link_extraction"] = (link_extraction, LINK_EXTRACTION_SQL)


def sitemap_seeds(spark, sf_dir):
    """Sitemap ingestion (crawl/sitemap.py) as an oracle-checked query: the
    documents table is packed into 7 ``<urlset>`` shards (shard = doc_id %%
    7, ascending doc_id within each) behind one ``<sitemapindex>`` listing
    the shards in REVERSE order, and ``sitemap_seeds_df`` must recover the
    exact global seed order — index order outer, document order inner. The
    oracle states the expected outcome relationally (no regex), so the whole
    construct→regex-extract→explode→rank pipeline is what's under test.
    100 TB shape: the XML build is a grouped agg; extraction is the same
    scan-local columnar pipeline as ``link_extraction``."""
    from ..crawl.sitemap import sitemap_seeds_df
    from .common import load

    d = load(spark, sf_dir, "documents")
    host = "https://sm.seeds.test"
    entry = F.concat(
        F.lit("<url><loc>"), F.lit(host), F.lit("/p"),
        F.col("doc_id").cast("string"), F.lit(".html</loc></url>"),
    )
    shards = (
        d.select((F.col("doc_id") % 7).alias("shard"), F.struct("doc_id", entry.alias("x")).alias("s"))
        .groupBy("shard")
        .agg(F.array_join(F.transform(F.array_sort(F.collect_list("s")), lambda e: e["x"]), "").alias("body"))
        .select(
            F.concat(F.lit(host), F.lit("/shard"), F.col("shard").cast("string"), F.lit(".xml")).alias("url"),
            F.concat(F.lit("<urlset>"), F.col("body"), F.lit("</urlset>")).cast("binary").alias("html"),
        )
    )
    index_html = "<sitemapindex>" + "".join(
        f"<sitemap><loc>{host}/shard{s}.xml</loc></sitemap>" for s in reversed(range(7))
    ) + "</sitemapindex>"
    index = spark.createDataFrame([(f"{host}/sitemap.xml", index_html.encode())], "url string, html binary")
    pages = shards.unionByName(index)
    return sitemap_seeds_df(spark, pages, [f"{host}/sitemap.xml"])


SITEMAP_SEEDS_SQL = """
SELECT 'https://sm.seeds.test/p' || CAST(doc_id AS VARCHAR) || '.html' AS url,
       ROW_NUMBER() OVER (ORDER BY 6 - (doc_id % 7), doc_id) - 1 AS pos
FROM documents
"""

QUERIES["sitemap_seeds"] = (sitemap_seeds, SITEMAP_SEEDS_SQL)


def image_harvest(spark, sf_dir):
    """GreedyImageCrawler mode through the REAL engine as an oracle-checked
    query: one page per documents row (all seeded, one round) carrying an
    ``<img>`` whose target is shared across doc_id mod 13 classes plus, for
    every third doc, an image-suffixed ``<a href>``; image binaries exist in
    the corpus only for classes not divisible by 5 (the missing-status path).
    Output is the engine's images table. The oracle recomputes the expected
    harvest relationally: first-wins page attribution = MIN(page url string)
    per shared image (the engine's (page_url, link_pos) window), downloaded
    = corpus membership. Construct→crawl→extract→dedup must round-trip."""
    from ..crawl import CrawlConfig, CrawlEngine
    from .common import load

    d = load(spark, sf_dir, "documents")
    host = "https://imgq.test"
    page_url = F.concat(F.lit(host + "/p"), F.col("doc_id").cast("string"), F.lit(".html"))
    img_src = F.concat(F.lit("/img/i"), (F.col("doc_id") % 13).cast("string"), F.lit(".png"))
    href = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit('<a href="/full/'), F.col("doc_id").cast("string"), F.lit('.jpg">f</a>')),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit('<html><body><img src="'), img_src, F.lit('">'), href, F.lit("</body></html>")
    )
    page_rows = d.select(page_url.alias("url"), html.cast("binary").alias("html"),
                         F.col("doc_id").alias("pos"))
    img_rows = (
        d.select((F.col("doc_id") % 13).alias("k")).distinct()
        .where(F.col("k") % 5 != 0)
        .select(
            F.concat(F.lit(host + "/img/i"), F.col("k").cast("string"), F.lit(".png")).alias("url"),
            F.lit(b"png-bytes").alias("html"),
            F.lit(None).cast("long").alias("pos"),
        )
    )
    pages = page_rows.unionByName(img_rows)
    eng = CrawlEngine(
        spark,
        pages.select("url", "html"),
        CrawlConfig(
            start_url=host + "/p0.html", max_rounds=1, use_bloom=False,
            parse_entries=False, collect_images=True,
        ),
        seeds_df=page_rows.where(F.col("pos").isNotNull()).select("url", "pos"),
    )
    eng.run()
    return eng.images.select("url", "page_url", "kind", "round", "status")


IMAGE_HARVEST_SQL = """
WITH pages AS (
  SELECT doc_id,
         'https://imgq.test/p' || CAST(doc_id AS VARCHAR) || '.html' AS page_url,
         doc_id % 13 AS k
  FROM documents
)
SELECT 'https://imgq.test/img/i' || CAST(k AS VARCHAR) || '.png' AS url,
       MIN(page_url) AS page_url,
       'img' AS kind,
       0 AS round,
       CASE WHEN k % 5 <> 0 THEN 'downloaded' ELSE 'missing' END AS status
FROM pages GROUP BY k
UNION ALL
SELECT 'https://imgq.test/full/' || CAST(doc_id AS VARCHAR) || '.jpg' AS url,
       page_url, 'href' AS kind, 0 AS round, 'missing' AS status
FROM pages WHERE doc_id % 3 = 0
"""

QUERIES["image_harvest"] = (image_harvest, IMAGE_HARVEST_SQL)
