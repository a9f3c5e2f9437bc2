"""Search layer: index build, fuzzy scoring, top-k, keyword search, dedup,
clause extraction. Golden behaviors ported from the reference
(ref tests/test_clause_extraction.py, test_policy_finder_api.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from icrawler_spark.search import (
    build_search_index,
    dedupe_search_index,
    extract_clause_text,
    keyword_search,
    parse_clause_reference,
    prepare_rows,
    search,
)
from icrawler_spark.search.index import SearchRow
from perfbench import gen
from perfbench.oracles import SearchOracle


@pytest.fixture(scope="module")
def index(spark):
    entries = spark.createDataFrame(
        [
            ("e1", "t1", 1, "中国人民银行关于加强支付管理的通知 银发〔2023〕12号", ""),
            ("e2", "t1", 2, "中国人民银行公告〔2021〕第3号 存款利率管理办法", ""),
            ("e3", "t1", 3, "已废止的旧规定", "已废止"),
            ("e4", "t2", 4, "中国人民银行关于加强支付管理的通知 银发〔2023〕12号", ""),
        ],
        "entry_id string, task string, serial int, title string, remark string",
    )
    documents = spark.createDataFrame(
        [
            ("e1", "http://x/a.pdf", "pdf", "a"),
            ("e1", "http://x/a.html", "html", "a"),
            ("e2", "http://x/b.html", "html", "b"),
            ("e3", "http://x/c.pdf", "pdf", "c"),
            ("e4", "http://x/a.pdf", "pdf", "a"),
        ],
        "entry_id string, url string, doc_type string, title string",
    )
    return build_search_index(entries, documents).cache()


@pytest.fixture(scope="module")
def rows(index):
    return prepare_rows(index.collect())


def test_index_derived_columns(index):
    rows = {r.entry_id: r for r in index.collect()}
    assert rows["e1"].doc_no == "银发[2023]12号"
    # reference Entry.year is the century prefix — group-capture findall
    # (policy_finder.py:518-519); pinned by test_reference_parity
    assert rows["e1"].year == "20"
    assert rows["e1"].doctype == "通知"
    assert rows["e1"].agency == "中国人民银行"
    assert rows["e1"].best_path == "http://x/a.pdf"  # pdf beats html
    assert rows["e1"].is_policy is True
    assert rows["e3"].is_policy is False
    assert rows["e2"].doc_no == "公告[2021]第3号"


def test_fuzzy_search_docno_exact_wins(rows):
    top = search(rows, "银发〔2023〕12号", topk=2)
    assert top[0].entry_id in ("e1", "e4")
    assert top[0].score >= 120.0


def test_fuzzy_search_year_and_doctype(rows):
    top = search(rows, "2021年存款利率管理办法", topk=1)
    assert top[0].entry_id == "e2"


def test_dedupe_keeps_best_per_docno(index):
    deduped = dedupe_search_index(index)
    ids = {r.entry_id for r in deduped.collect()}
    # e1 and e4 share doc_no + best_path → one survives
    assert len(ids & {"e1", "e4"}) == 1
    assert "e2" in ids and "e3" in ids


def test_keyword_search_title_shortcircuit(rows):
    # content must contain the contiguous CJK run — tokenize_zh yields whole
    # CJK runs, and containment is substring (matches reference semantics)
    texts = {"e3": "这里提到存款利率管理问题"}
    res = keyword_search(rows, texts, "存款利率")
    by_id = {r.entry_id: r for r in res}
    assert by_id["e2"].title_hits > 0           # title hit, no content join
    assert by_id["e3"].content_hits > 0          # miss → content join
    assert res[0].entry_id == "e2"               # title hits rank first


def test_search_topk_matches_independent_oracle(spark):
    """The served scorer against perfbench's independent re-scoring on a
    generated catalog: same top-5 serials, bit-identical scores."""
    seed = 11
    entries, documents, _texts = gen.policy_catalog(seed, 200)
    idx = build_search_index(
        spark.createDataFrame(
            entries, "entry_id string, task string, serial int, title string, remark string"),
        spark.createDataFrame(
            documents, "entry_id string, url string, doc_type string, title string, _src_pos long"),
    )
    collected = idx.collect()
    serial = {r.entry_id: r.serial for r in collected}
    rows = prepare_rows(collected)
    oracle = SearchOracle(entries, documents)
    for query in gen.search_queries(seed, 40):
        got = [[serial[h.entry_id], h.score] for h in search(rows, query, topk=5)]
        assert got == oracle.topk(query, 5), query


def test_scorer_null_fields_score_zero():
    """A NULL title or best_path fails its term, as SQL NULL logic did: the
    doctype-in-title and pdf terms add 0 while the doctype hint still
    counts."""
    base = SearchRow("n1", "通知", "通知", None, "", "", "通知", "", frozenset(), True)
    with_null = base._replace(entry_id="n2", title=None, is_pdf=False)
    by_id = {h.entry_id: h.score for h in search([base, with_null], "通知", topk=2)}
    # doctype hint and phrase (通知 is a stopword: no token term), then the
    # doctype-in-title boost and the pdf term
    assert by_id["n2"] == 0.0 + 15.0 + min(8.0, 2.0 + 2 * 0.8)
    assert by_id["n1"] == by_id["n2"] + 10.0 + 3.0


# --- clause extraction (ref tests/test_clause_extraction.py) ------------------

BULLET_DOC = "前言\n一、第一部分要求\n具体内容A\n二、第二部分要求\n具体内容B\n"


def test_clause_bullet_articles():
    ref1 = parse_clause_reference("第一条")
    assert ref1 is not None and ref1.article == 1
    t1 = extract_clause_text(BULLET_DOC, ref1)
    assert "第一部分" in t1
    ref2 = parse_clause_reference("第二条")
    t2 = extract_clause_text(BULLET_DOC, ref2)
    assert "第二部分" in t2 and "第一部分" not in t2


CONCLUSION_DOC = (
    "八、外国银行境内分行参照本通知执行。\n\n"
    "本通知自2023年12月20日起实施。执行过程中如遇问题，请及时向中国人民银行、国家外汇局反馈。\n"
    "中国人民银行\n国家外汇管理局\n2023年11月17日\n"
)


def test_clause_omits_conclusion():
    ref = parse_clause_reference("第八条")
    text = extract_clause_text(CONCLUSION_DOC, ref)
    assert "参照本通知执行" in text
    assert "本通知自" not in text


ARTICLE_DOC = (
    "第一条 为了规范管理，制定本办法。\n"
    "第二条 本办法适用于下列机构：\n"
    "第一款 商业银行。\n"
    "第二款 政策性银行，包括：\n"
    "（一）开发性金融机构；\n"
    "（二）进出口银行。\n"
    "第三条 其他规定。\n"
)


def test_clause_article_paragraph_item():
    ref = parse_clause_reference("第二条")
    text = extract_clause_text(ARTICLE_DOC, ref)
    assert text.startswith("第二条")
    assert "第三条" not in text

    ref_p = parse_clause_reference("第二条第二款")
    assert ref_p.paragraph == 2 and ref_p.paragraph_unit == "款"
    tp = extract_clause_text(ARTICLE_DOC, ref_p)
    assert "政策性银行" in tp and "商业银行" not in tp

    ref_i = parse_clause_reference("第二条第二款（二）项")
    assert ref_i.item == 2
    ti = extract_clause_text(ARTICLE_DOC, ref_i)
    assert "进出口银行" in ti and "开发性" not in ti


def test_clause_chinese_numerals():
    ref = parse_clause_reference("第十二条")
    assert ref.article == 12
    doc = "第十二条 内容X。\n第十三条 内容Y。\n"
    assert "内容X" in extract_clause_text(doc, ref)


def test_clause_no_match_returns_none():
    assert extract_clause_text("没有条款的文本", parse_clause_reference("第五条")) is None
    assert parse_clause_reference("没有编号") is None


def test_title_catalog_match_tiers(spark):
    from icrawler_spark.search.catalog import match_titles

    catalog = spark.createDataFrame(
        [("e1", "支付机构管理办法"), ("e2", "存款保险条例"), ("e3", "支付机构管理办法")],
        "entry_id string, norm_title string",
    )
    queries = spark.createDataFrame(
        [
            (1, "支付机构管理办法"),        # exact — returns the whole bucket
            (2, "关于存款保险条例的通知"),  # partial (catalog title ⊂ query)
            (3, "存款保险条理"),            # fuzzy (1 char off, ratio ≥ 0.75)
            (4, "完全无关的标题内容"),      # no match
        ],
        "qid int, title string",
    )
    rows = match_titles(queries, catalog).collect()
    by_qid = {}
    for r in rows:
        by_qid.setdefault(r.qid, []).append((r.entry_id, r.tier))
    assert sorted(by_qid[1]) == [("e1", "exact"), ("e3", "exact")]
    assert by_qid[2] == [("e2", "partial")]
    assert by_qid[3] == [("e2", "fuzzy")]
    assert 4 not in by_qid


def test_tier3_fuzzy_recall_vs_exhaustive_difflib(spark):
    """Measured-recall gate for the tier-3 LSH family (ADVICE r2): on a
    seeded catalog of 160 template titles with 120 edit-perturbed queries,
    tier-3 candidates + difflib verify must find ≥ 95% of the matches the
    reference's exhaustive get_close_matches walk would return, and the
    picked best title must agree on ≥ 95%."""
    import random
    from difflib import SequenceMatcher

    import icrawler_spark.search.catalog as cat
    from icrawler_spark.functions import pure

    rng = random.Random(17)
    stems = ["中国人民银行", "国务院", "证监会", "银保监会", "财政部"]
    kinds = ["管理办法", "实施细则", "监督规定", "指导意见", "通知"]
    topics = ["支付结算", "反洗钱", "外汇管理", "金融稳定", "信贷资产",
              "存款保险", "征信业务", "债券交易"]
    titles = list(dict.fromkeys(
        f"{rng.choice(stems)}关于{rng.choice(topics)}{rng.choice(kinds)}"
        f"〔20{rng.randint(10, 25)}〕第{i}号"
        for i in range(160)
    ))
    catalog_rows = [(f"e{i}", pure.norm_text(t)) for i, t in enumerate(titles)]

    def perturb(t):
        t = list(t)
        for _ in range(rng.randint(2, 6)):
            i = rng.randrange(len(t))
            k = rng.random()
            if k < 0.4 and len(t) > 8:
                del t[i]
            elif k < 0.7:
                t[i] = rng.choice("的与和及等关于对在")
            else:
                t.insert(i, rng.choice("的与和及"))
        return "".join(t)

    queries = [(f"q{i}", perturb(t)) for i, t in enumerate(titles[:120])]

    nt_list = [nt for _e, nt in catalog_rows]

    def best_exhaustive(qn):
        best, bt = 0.0, None
        for nt in nt_list:
            r = SequenceMatcher(None, qn, nt).ratio()
            if r > best:
                best, bt = r, nt
        return best, bt

    truth = {}
    for qid, q in queries:
        b, bt = best_exhaustive(pure.norm_text(q))
        if b >= 0.75:
            truth[qid] = bt
    assert len(truth) >= 100  # the perturbation keeps most queries matchable

    qdf = spark.createDataFrame(queries, "qid string, title string")
    cdf = spark.createDataFrame(catalog_rows, "entry_id string, norm_title string")
    res = cat.match_titles(qdf, cdf).collect()
    fuzzy = {r.qid: r.entry_id for r in res if r.tier == "fuzzy"}
    upper = {r.qid for r in res if r.tier != "fuzzy"}
    nt_by_eid = dict(catalog_rows)
    found = sum(1 for qid in truth if qid in upper or qid in fuzzy)
    agree = sum(
        1 for qid, bt in truth.items()
        if qid in upper or (qid in fuzzy and nt_by_eid[fuzzy[qid]] == bt)
    )
    assert found / len(truth) >= 0.95, f"recall {found / len(truth):.3f}"
    assert agree / len(truth) >= 0.95, f"best-match agreement {agree / len(truth):.3f}"
