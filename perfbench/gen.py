"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``seed`` (and a size), so the same
seed always yields byte-identical inputs. Sizes are fixed per workload and
the seed only varies content and ordering, which keeps the amount of work
per run constant across seeds.

- ``recrawl_seeds``   seed list for the synthetic recrawl corpus
- ``monitor_site``    a PBC-style listing site with real HTML detail pages,
                      multi-page PDFs (CJK text through a ToUnicode CMap)
                      and DOCX attachments
- ``policy_catalog``  entries/documents/texts rows for the policy API
- ``request_schedule`` the seeded API request mix
"""

from __future__ import annotations

import io
import random
import zipfile
import zlib
from urllib.parse import quote

AGENCIES = ["中国人民银行", "国家外汇管理局", "国务院", "中国证监会", "中国银保监会", "国家统计局"]
TOPICS = [
    "支付结算管理", "银行卡收单业务", "反洗钱监测", "征信业务管理", "外汇账户管理",
    "跨境人民币结算", "金融消费者保护", "存款保险制度", "票据市场管理", "信贷资产证券化",
    "金融统计制度", "货币市场基金", "数字人民币试点", "普惠金融服务", "绿色金融评价",
    "系统重要性银行", "非银行支付机构", "现金管理服务", "金融数据安全", "金融标准化建设",
]
DOCTYPES = ["通知", "管理办法", "实施细则", "暂行规定", "意见", "决定", "公告"]
CLAUSE_BODY = [
    "金融机构应当建立健全内部控制制度并明确责任分工",
    "相关业务应当依法合规开展并接受监督管理",
    "机构应当按照规定报送统计数据和业务报告",
    "对违反本规定的行为依法予以处理",
    "各分支机构应当加强风险评估和日常监测",
    "业务系统应当满足安全稳定运行要求",
    "客户身份资料和交易记录应当妥善保存",
    "重大事项应当及时向主管部门报告",
]
NUMERALS = ["一", "二", "三", "四", "五", "六", "七", "八", "九", "十"]


def _title(rng: random.Random, year: int, num: int, with_docno: bool) -> str:
    t = f"{rng.choice(AGENCIES)}关于{rng.choice(TOPICS)}的{rng.choice(DOCTYPES)}"
    return f"{t} 银发〔{year}〕{num}号" if with_docno else t


def policy_text(rng: random.Random, title: str, n_articles: int) -> str:
    """Clause-bearing body: 第N条 articles, each with two 款 paragraphs, the
    first carrying two （N） items — the shape the clause slicer and the
    outline builder walk."""
    lines = [title]
    for a in range(1, n_articles + 1):
        art = NUMERALS[a - 1]
        lines.append(f"第{art}条 第一款 {rng.choice(CLAUSE_BODY)}：")
        lines.append(f"（一）{rng.choice(CLAUSE_BODY)}。")
        lines.append(f"（二）{rng.choice(CLAUSE_BODY)}。")
        lines.append(f"第二款 {rng.choice(CLAUSE_BODY)}。")
    lines.append("本办法自发布之日起施行。")
    return "\n".join(lines) + "\n"


# --- recrawl_wide -------------------------------------------------------------


def synthetic_url(page_id: int, n_pages: int, n_hosts: int = 997) -> str:
    """URL of page ``page_id`` in ``synthetic_pages_df``'s scheme (hot host =
    the first 20% of ids)."""
    host = "hot.example.test" if page_id < n_pages // 5 else f"host-{page_id % n_hosts}.example.test"
    return f"https://{host}/p/{page_id}.html"


def recrawl_seeds(seed: int, n_pages: int) -> list[str]:
    """A wide recrawl batch: every fifth page from a seeded offset, in seeded
    order (20% of the corpus). The order sets FIFO discovery positions, so
    the seed changes the crawl order but not the amount of work."""
    rng = random.Random(seed)
    ids = list(range(rng.randrange(5), n_pages, 5))
    rng.shuffle(ids)
    return [synthetic_url(i, n_pages) for i in ids]


# --- monitor_incremental: real-payload listing site ---------------------------


def _pdf_bytes(pages: list[list[str]]) -> bytes:
    """A multi-page PDF whose text is drawn with a composite (Type0) font and
    decoded through a ToUnicode CMap — the standard CJK path. Each page's
    lines are separate ``Tj`` runs; a larger gap separates paragraphs."""
    chars = sorted({c for page in pages for line in page for c in line})
    cid = {c: i + 1 for i, c in enumerate(chars)}
    bfchar = []
    for i in range(0, len(chars), 100):
        block = chars[i : i + 100]
        bfchar.append(f"{len(block)} beginbfchar")
        bfchar += [f"<{cid[c]:04X}> <{ord(c):04X}>" for c in block]
        bfchar.append("endbfchar")
    cmap = (
        "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
        "/CMapName /Adobe-Identity-UCS def\n/CMapType 2 def\n"
        "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        + "\n".join(bfchar)
        + "\nendcmap\nCMapName currentdict /CMap defineresource pop\nend\nend\n"
    ).encode()

    objs: dict[int, bytes] = {}
    n_pages = len(pages)
    font_id, cmap_id, first_page = 3, 4, 5
    kids = " ".join(f"{first_page + 2 * i} 0 R" for i in range(n_pages))
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    objs[font_id] = (
        f"<< /Type /Font /Subtype /Type0 /BaseFont /Bench-CJK "
        f"/Encoding /Identity-H /ToUnicode {cmap_id} 0 R >>"
    ).encode()
    streams = {cmap_id: cmap}
    for i, page in enumerate(pages):
        ops = ["BT", "/F1 12 Tf", "72 740 Td"]
        for j, line in enumerate(page):
            if j:
                ops.append("0 -30 Td" if line.startswith("第") else "0 -14 Td")
            ops.append("<" + "".join(f"{cid[c]:04X}" for c in line) + "> Tj")
        ops.append("ET")
        page_id, content_id = first_page + 2 * i, first_page + 2 * i + 1
        objs[page_id] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 {font_id} 0 R >> >> /Contents {content_id} 0 R >>"
        ).encode()
        streams[content_id] = zlib.compress("\n".join(ops).encode())
    out = [b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n"]
    for num in sorted(set(objs) | set(streams)):
        if num in streams:
            data = streams[num]
            filt = " /Filter /FlateDecode" if num != cmap_id else ""
            out.append(
                f"{num} 0 obj\n<< /Length {len(data)}{filt} >>\nstream\n".encode()
                + data
                + b"\nendstream\nendobj\n"
            )
        else:
            out.append(f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n")
    out.append(b"trailer\n<< /Root 1 0 R >>\n%%EOF\n")
    return b"".join(out)


def _docx_bytes(paragraphs: list[str]) -> bytes:
    body = "".join(f"<w:p><w:r><w:t>{p}</w:t></w:r></w:p>" for p in paragraphs)
    xml = (
        "<?xml version='1.0' encoding='UTF-8' standalone='yes'?>\n"
        "<w:document xmlns:w='http://schemas.openxmlformats.org/wordprocessingml/2006/main'>"
        f"<w:body>{body}</w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", "<Types/>")
        zf.writestr("word/document.xml", xml)
    return buf.getvalue()


# Entry shapes, repeated in this proportion on every listing page (shuffled
# per page by the seed): (detail page exists, PDF linked, DOCX attachment on
# the detail page). The text winner follows the extractor's priority
# docx > pdf > html; a row whose detail page is missing has only the PDF.
_KINDS = (
    (True, True, True),     # text from the detail page's DOCX attachment
    (True, True, True),
    (False, True, False),   # detail page missing: only the PDF downloads
    (False, True, False),
    (True, True, False),    # no attachment: the PDF wins over the html
    (True, False, False),   # html detail page only
)


def monitor_site(seed: int, host: str, n_pages: int, entries_per_page: int) -> dict[str, str | bytes]:
    """url → content for a paginated listing site in the engine's default
    dialect (``build_site`` shape: /list/index.html, index_N.html, detail
    pages under /list/, files under /files/)."""
    rng = random.Random(seed)
    base = f"https://{host}"
    site: dict[str, str | bytes] = {}
    serial = 0
    for p in range(n_pages):
        kinds = [_KINDS[i % len(_KINDS)] for i in range(entries_per_page)]
        rng.shuffle(kinds)
        rows = []
        for has_detail, has_pdf, has_att in kinds:
            serial += 1
            year = 2015 + rng.randrange(10)
            title = _title(rng, year, rng.randrange(1, 300), rng.random() < 0.7)
            lines = policy_text(rng, title, 3 + rng.randrange(3)).strip().split("\n")
            detail = f"/list/detail_{serial}.html"
            pdf = f"/files/doc_{serial}.pdf"
            date = f"{year}-{1 + rng.randrange(12):02d}-{1 + rng.randrange(28):02d}"
            pdf_cell = f"<a href='{pdf}'>附件下载</a>" if has_pdf else ""
            rows.append(
                f"<tr><td>{serial}</td><td><a href='{detail}' title='{title}'>{title}</a></td>"
                f"<td>{pdf_cell}</td><td class='gz_tit2'>{date}</td></tr>"
            )
            if has_detail:
                att = f"<p><a href='/files/att_{serial}.docx'>{title}附件</a></p>" if has_att else ""
                paras = "".join(f"<p>{ln}</p>" for ln in lines[1:])
                site[base + detail] = (
                    f"<html><head><title>{title}</title></head><body>"
                    f"<div class='nav'>首页 &gt; 政策法规</div><h1>{title}</h1>"
                    f"<div class='content'>{paras}</div>{att}</body></html>"
                )
            if has_att:
                site[f"{base}/files/att_{serial}.docx"] = _docx_bytes(lines)
            if has_pdf:
                half = max(2, len(lines) // 2)
                site[base + pdf] = _pdf_bytes([lines[:half], lines[half:]])
        pag = []
        if p + 1 < n_pages:
            pag.append(f"<a href='/list/index_{p + 1}.html'>下一页</a>")
        if p > 0:
            prv = "index.html" if p == 1 else f"index_{p - 1}.html"
            pag.append(f"<a href='/list/{prv}'>上一页</a>")
        for q in range(n_pages):
            name = "index.html" if q == 0 else f"index_{q}.html"
            pag.append(f"<a href='/list/{name}'>{q + 1}</a>")
        name = "index.html" if p == 0 else f"index_{p}.html"
        site[f"{base}/list/{name}"] = (
            "<html><body><table>" + "".join(rows) + "</table><div class='list_page'>"
            + "".join(pag) + "</div></body></html>"
        )
    return site


# --- policy_api -----------------------------------------------------------------


def policy_catalog(seed: int, n_entries: int):
    """(entries, documents, texts) row lists for ``PolicyService.from_state``.

    entries:   (entry_id, task, serial, title, remark)
    documents: (entry_id, url, doc_type, title, _src_pos)
    texts:     (entry_id, text)
    """
    rng = random.Random(seed)
    entries, documents, texts = [], [], []
    pos = 0
    for i in range(n_entries):
        eid = f"pbc-{i:06d}"
        year = 2005 + rng.randrange(20)
        title = _title(rng, year, rng.randrange(1, 400), rng.random() < 0.6)
        remark = "已废止" if rng.random() < 0.05 else ""
        entries.append((eid, "pbc", i + 1, title, remark))
        for dt in rng.sample(["pdf", "html", "docx", "text"], 1 + rng.randrange(3)):
            ext = {"text": "txt"}.get(dt, dt)
            documents.append((eid, f"https://www.pbc.test/files/{eid}/{pos}.{ext}", dt, title, pos))
            pos += 1
        texts.append((eid, policy_text(rng, title, 3 + rng.randrange(4))))
    return entries, documents, texts


def search_queries(seed: int, n: int) -> list[str]:
    """Distinct plain search queries (no clause reference, which would turn
    a search into a per-result text lookup)."""
    rng = random.Random(seed * 7 + 1)
    out: list[str] = []
    while len(out) < n:
        shape = rng.randrange(4)
        if shape == 0:
            q = f"{rng.choice(AGENCIES)}{rng.choice(TOPICS)}"
        elif shape == 1:
            q = f"{rng.choice(TOPICS)}{rng.choice(DOCTYPES)}"
        elif shape == 2:
            q = f"银发〔{2005 + rng.randrange(20)}〕{rng.randrange(1, 400)}号"
        else:
            q = f"{2005 + rng.randrange(20)}年{rng.choice(TOPICS)}"
        if q not in out:
            out.append(q)
    return out


# route weights: /search 60%, /policies?query= 10%, outline 15%, clause 15%
ROUTE_MIX = (("search", 60), ("keyword", 10), ("outline", 15), ("clause", 15))


def request_schedule(seed: int, n_entries: int, n_requests: int, n_queries: int = 40) -> list[dict]:
    """Seeded request list with the route mix. Each item:
    {"route", "path", "key"} — ``key`` identifies the logical request for the
    correctness check (query text, serial, clause)."""
    rng = random.Random(seed * 31 + 7)
    queries = search_queries(seed, n_queries)
    # blocks of 20 hold the exact mix, shuffled within the block, so every
    # prefix of the schedule a run consumes carries (nearly) the same mix
    block = [route for route, w in ROUTE_MIX for _ in range(w // 5)]
    routes = []
    while len(routes) < n_requests:
        rng.shuffle(block)
        routes += block
    out = []
    for route in routes:
        if route == "search":
            q = rng.choice(queries)
            out.append({"route": route, "path": f"/search?query={quote(q)}&topk=5", "key": q})
        elif route == "keyword":
            q = rng.choice(TOPICS)
            out.append({"route": route, "path": f"/policies?query={quote(q)}", "key": q})
        elif route == "outline":
            s = 1 + rng.randrange(n_entries)
            out.append({"route": route, "path": f"/policies/{s}?include=outline", "key": s})
        else:
            s = 1 + rng.randrange(n_entries)
            art = NUMERALS[rng.randrange(3)]
            # no bare 第一款: it shares the article's line, which the clause
            # slicer answers with paragraph_not_found
            para = rng.choice(["", "第二款", "第一款（二）"])
            clause = f"第{art}条{para}"
            out.append({
                "route": route,
                "path": f"/clause?title={s}&item={quote(clause)}",
                "key": [s, clause],
            })
    return out
