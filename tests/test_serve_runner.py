"""Serving shim + runner goldens, mirroring the reference route/CLI tests
(ref tests/test_policy_finder_api.py:210-344 payloads, runner resolution
ref runner.py:17-125/533-543 as exercised by tests/test_pbc_monitor.py)."""

from __future__ import annotations

import json
import uuid

import pytest

from icrawler_spark.config import load_tasks
from icrawler_spark.crawl import build_site, site_pages_df
from icrawler_spark.runner import build_tasks, parse_args, preview_action, resolve_setting, run_task
from icrawler_spark.serve import PolicyService

_TEXT = (
    "中国人民银行关于加强银行卡收单业务外包管理的通知\n"
    "第三条 第一款 收单机构应当按照下列要求开展外包管理：\n"
    "（一）建立健全外包管理制度并明确责任。\n"
    "（二）落实风险评估机制。\n"
    "第二款 外包合作应当依法合规。\n"
)


@pytest.fixture(scope="module")
def service(spark):
    entries = spark.createDataFrame(
        [
            ("e1", "t1", 1, "中国人民银行公告〔2023〕第3号 关于测试", "测试备注"),
            ("e2", "t2", 2, "监管问答 2021 年度总结", "年度总结"),
            ("e3", "t3", 3, "国家法律 金融稳定法（草案）", "国家法律草案"),
            ("e4", "t1", 4, "中国人民银行关于加强银行卡收单业务外包管理的通知", ""),
        ],
        "entry_id string, task string, serial int, title string, remark string",
    )
    documents = spark.createDataFrame(
        [
            ("e1", "http://x/policy.txt", "text", "正文", 0),
            ("e1", "http://x/policy.html", "html", "页面", 1),
            ("e2", "http://x/notice.pdf", "pdf", "通知", 2),
            ("e3", "http://x/law.html", "html", "法律", 3),
            ("e4", "http://x/waibao.txt", "text", "正文", 4),
        ],
        "entry_id string, url string, doc_type string, title string, _src_pos long",
    )
    texts = spark.createDataFrame([("e4", _TEXT)], "entry_id string, text string")
    return PolicyService.from_state(entries, documents, texts)


def test_search_payload_shape(service):
    """ref test_get_search_endpoint: query/result_count/results with score
    and documents."""
    payload = service.search_payload("人民银行公告", topk=2)
    assert payload["query"] == "人民银行公告"
    assert payload["topk"] == 2
    assert payload["result_count"] >= 1
    top = payload["results"][0]
    assert top["title"].startswith("中国人民银行公告")
    assert "documents" in top and top["score"] > 0
    # documents listed in discovery order
    assert [d["type"] for d in top["documents"]] == ["text", "html"]


def test_search_covers_additional_tasks(service):
    payload = service.search_payload("金融稳定法", topk=3)
    assert payload["result_count"] >= 1
    assert any("金融稳定法" in r["title"] for r in payload["results"])


def test_search_includes_clause(service):
    """ref test_get_search_includes_clause: a clause-shaped query attaches
    clause_reference and per-result clause slices."""
    payload = service.search_payload("银行卡收单业务外包管理 第三条第一款（一）项", topk=1)
    assert payload.get("clause_reference") is not None
    assert payload["clause_reference"]["article"] == 3
    clause = payload["results"][0]["clause"]
    assert clause["article_matched"] is True
    assert "建立健全外包管理制度" in clause["item_text"]


def test_policies_without_query(service):
    """ref test_list_policies_without_query: full catalog sorted by
    normalized title, count consistent."""
    data = service.policies_payload()
    assert data["result_count"] == len(data["policies"]) == 4
    assert data["policies"][0]["title"].startswith("中国人民银行")


def test_policies_with_query(service):
    data = service.policies_payload("银行卡")
    assert data["result_count"] == 1
    assert data["policies"][0]["title"].startswith("中国人民银行")
    assert data["query"] == "银行卡"


def test_policies_pagination_bounds_driver_transfer(spark):
    """VERDICT r3 item 9: at a 100× catalog the no-query route must have an
    explicit response-size boundary. offset/max_entries pages are slices of
    the display-ordered catalog snapshot (a response holds one page), pages
    are disjoint, ordered, and cover the catalog exactly."""
    n = 12_000
    entries = spark.range(n).selectExpr(
        "concat('e', lpad(cast(id as string), 6, '0')) as entry_id",
        "'t' as task",
        "cast(id + 1 as int) as serial",
        "concat('规定第', lpad(cast(id as string), 6, '0'), '号') as title",
        "'' as remark",
    )
    documents = spark.createDataFrame(
        [("e000000", "http://x/0.html", "html", "t", 0)],
        "entry_id string, url string, doc_type string, title string, _src_pos long",
    )
    svc = PolicyService.from_state(entries, documents, None)
    page_size = 5_000
    seen, pages = [], 0
    while True:
        data = svc.policies_payload(max_entries=page_size, offset=pages * page_size)
        got = [p["id"] for p in data["policies"]]
        if pages * page_size < n:
            assert data["result_count"] == min(page_size, n - pages * page_size)
            assert data["result_count"] <= page_size  # driver bound
        if pages:
            assert data.get("offset") == pages * page_size
        seen.extend(got)
        pages += 1
        if len(got) < page_size:
            break
    assert len(seen) == n and len(set(seen)) == n  # disjoint + complete
    assert seen == sorted(seen)  # total order across pages
    # middle page starts exactly where the previous ended (no overlap/skip)
    mid = svc.policies_payload(max_entries=3, offset=7)["policies"]
    assert [p["id"] for p in mid] == seen[7:10]


def test_policies_query_pagination(service):
    """The keyword branch honours max_entries/offset with the same slice as
    the catalog branch; omitted, it returns the reference's full list."""
    full = service.policies_payload("人民银行")
    assert set(full) == {"policies", "result_count", "query"}
    assert full["result_count"] == len(full["policies"]) == 2
    page = service.policies_payload("人民银行", max_entries=1, offset=1)
    assert page == {
        "policies": full["policies"][1:2], "result_count": 1,
        "query": "人民银行", "offset": 1,
    }
    first = service.policies_payload("人民银行", max_entries=1)
    assert first == {"policies": full["policies"][:1], "result_count": 1, "query": "人民银行"}
    assert service.policies_payload("人民银行", offset=5)["policies"] == []
    assert service.policies_payload(max_entries=0)["policies"] == []


def test_find_entry_shared_serial_picks_lowest_entry_id(spark):
    """Serials are unique per task only: a numeric lookup across tasks that
    share a serial resolves to the lowest entry_id, like the title path."""
    entries = spark.createDataFrame(
        [
            ("t2-0001", "t2", 1, "乙任务规定", ""),
            ("t2-0002", "t2", 2, "乙任务通知", ""),
            ("t1-0001", "t1", 1, "甲任务规定", ""),
        ],
        "entry_id string, task string, serial int, title string, remark string",
    ).repartition(3)
    documents = spark.createDataFrame(
        [("t1-0001", "http://x/a.html", "html", "a", 0)],
        "entry_id string, url string, doc_type string, title string, _src_pos long",
    )
    svc = PolicyService.from_state(entries, documents, None)
    assert svc.find_entry(1).entry_id == "t1-0001"
    assert svc.find_entry("1").entry_id == "t1-0001"
    assert svc.find_entry("2").entry_id == "t2-0002"
    assert svc.policy_payload("1")["policy"]["title"] == "甲任务规定"
    svc.index.unpersist()


def _spark_jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` starts, read from the status tracker under a job
    group of its own."""
    sc = spark.sparkContext
    group = f"serve-guard-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "serve job guard")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events are async
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_lookups_start_no_spark_jobs(spark, service):
    """Every route answers from the construction-time snapshot: outline,
    clause, id/title lookups, catalog pages, /search (with and without a
    clause reference) and keyword /policies start no Spark job."""
    title = "中国人民银行关于加强银行卡收单业务外包管理的通知"
    assert _spark_jobs(spark, lambda: service.policy_payload("4", include=["outline"])) == 0
    assert _spark_jobs(spark, lambda: service.clause_payload("4", "第三条第二款")) == 0
    assert _spark_jobs(spark, lambda: service.clause_payload(title, "第三条")) == 0
    assert _spark_jobs(spark, lambda: service.find_entry(4)) == 0
    assert _spark_jobs(spark, lambda: service.find_entry(title)) == 0
    assert _spark_jobs(spark, lambda: service.policies_payload(max_entries=2, offset=1)) == 0
    assert _spark_jobs(spark, lambda: service.search_payload("人民银行公告", topk=2)) == 0
    clause_query = "银行卡收单业务外包管理 第三条第一款（一）项"
    assert _spark_jobs(spark, lambda: service.search_payload(clause_query, topk=1)) == 0
    assert _spark_jobs(spark, lambda: service.policies_payload("人民银行")) == 0
    assert _spark_jobs(spark, lambda: service.policies_payload("外包管理", max_entries=1)) == 0


def test_keyword_pages_total_order_over_duplicate_titles(spark):
    """Keyword matches that tie on every score and share a title break the
    tie on entry_id: the order is the same whatever partition layout the
    catalog came from, and pages are disjoint and complete."""
    titles = ["支付业务管理通知", "支付结算规定", "支付机构办法"]
    rows = [
        (f"e{i:02d}", "t", i, titles[i % len(titles)], "") for i in range(12)
    ]
    documents = spark.createDataFrame(
        [("e00", "http://x/0.html", "html", "d", 0)],
        "entry_id string, url string, doc_type string, title string, _src_pos long",
    )
    orders = []
    for inputs, parts in ((rows, 1), (rows[::-1], 3), (rows[5:] + rows[:5], 4)):
        entries = spark.createDataFrame(
            inputs, "entry_id string, task string, serial int, title string, remark string",
        ).repartition(parts)
        svc = PolicyService.from_state(entries, documents, None)
        full = [p["id"] for p in svc.policies_payload("支付")["policies"]]
        paged = []
        for offset in range(0, 14, 5):
            paged += [p["id"] for p in svc.policies_payload("支付", max_entries=5, offset=offset)["policies"]]
        assert paged == full
        assert sorted(full) == list(range(12))  # disjoint and complete
        orders.append(full)
        svc.index.unpersist()
    assert orders[0] == orders[1] == orders[2]
    # ties on title break on entry_id (serial order here)
    assert orders[0] == sorted(range(12), key=lambda i: (titles[i % 3], i))


def test_policy_meta_text_outline(service):
    """ref test_get_policy_meta/text/outline: id lookup by serial; include
    switches; outline nests article → items."""
    meta = service.policy_payload("4")
    assert meta["policy"]["title"].startswith("中国人民银行关于加强银行卡")
    text = service.policy_payload("4", include=["text"])
    assert "外包管理" in text["text"]
    outline = service.policy_payload("4", include=["outline"])["outline"]
    assert outline and outline[0]["type"] == "article"
    assert outline[0]["children"]
    # text route 404s when the entry has no text
    missing = service.policy_payload("2", include=["text"])
    assert missing == {"error": "policy_text_not_available", "status": 404}
    assert service.policy_payload("99") == {"error": "policy_not_found", "status": 404}


def test_clause_payload(service):
    data = service.clause_payload("4", "第三条第二款")
    assert data["policy"]["id"] == 4
    assert data["clause"]["paragraph_matched"] is True
    assert "依法合规" in data["clause"]["paragraph_text"]


def test_param_coercers_match_reference():
    """Direct-import parity for the request-param coercion layer
    (ref api_server.py:123-156, 221-233)."""
    from tests._ref_stubs import install_reference_stubs, reference_available

    if not reference_available():
        pytest.skip("reference checkout not present")
    install_reference_stubs()
    from pbc_regulations.searcher.api_server import (
        _coerce_bool,
        _coerce_topk,
        _parse_include_params,
    )

    from icrawler_spark.serve import coerce_bool, coerce_topk, parse_include_params

    for v in (None, 5, 5.9, "7", " 12 ", "", "   ", 50, 51, 1000):
        assert coerce_topk(v) == _coerce_topk(v), v
    for bad in (True, "abc", -1, 0, "0x2", []):
        r = o = None
        try:
            r = coerce_topk(bad)
        except ValueError:
            r = "VE"
        try:
            o = _coerce_topk(bad)
        except ValueError:
            o = "VE"
        assert r == o, bad
    for v in (None, True, False, 1, 0, 2.0, "1", "true", "YES", " on ", "0", "False", "no", "off"):
        assert coerce_bool(v) == _coerce_bool(v), v
    for bad in ("maybe", "2x", []):
        r = o = None
        try:
            r = coerce_bool(bad)
        except ValueError:
            r = "VE"
        try:
            o = _coerce_bool(bad)
        except ValueError:
            o = "VE"
        assert r == o, bad
    for v in (None, [], ["text"], ["text,outline", " META "], ["all", None, " ,x, "]):
        assert parse_include_params(v) == _parse_include_params(v), v


# --- runner -------------------------------------------------------------------

_CONFIG = {
    "delay": 5,
    "jitter": 3,
    "timeout": 30,
    "tasks": [
        {"name": "alpha", "start_url": "https://a.test/list/index.html",
         "parser": "pbc_regulations.icrawler.parser"},
        {"name": "beta", "start_url": "https://b.test/list/index.html",
         "parser": "pbc_regulations.icrawler.parser_tiaofasi", "delay": 1},
    ],
}


def test_config_resolution_precedence():
    """ref runner.py:533-543 + 17-125: CLI > task > global; parser module
    specs map to dialects; per-task HTTP overrides."""
    tasks = load_tasks(_CONFIG)
    assert [t.name for t in tasks] == ["alpha", "beta"]
    assert tasks[0].parser_dialect == "default"
    assert tasks[1].parser_dialect == "tiaofasi"
    assert tasks[0].http.delay == 5 and tasks[1].http.delay == 1
    assert resolve_setting("cli", "task", {"k": "global"}, "k") == "cli"
    assert resolve_setting(None, "task", {"k": "global"}, "k") == "task"
    assert resolve_setting(None, None, {"k": "global"}, "k") == "global"
    assert resolve_setting(None, None, {}, "k", "dflt") == "dflt"


def test_build_tasks_filter_and_override():
    assert [t.name for t in build_tasks(_CONFIG, "beta")] == ["beta"]
    with pytest.raises(SystemExit):
        build_tasks(_CONFIG, "missing")
    adhoc = build_tasks(_CONFIG, None, start_url="https://x.test/")
    assert len(adhoc) == 1 and adhoc[0].start_url == "https://x.test/"


def test_runner_actions_end_to_end(spark, tmp_path):
    """All five actions against the synthetic site corpus."""
    site = build_site(n_pages=3, entries_per_page=2, with_attachments=True)
    pages = site_pages_df(spark, site)
    start = "https://www.example.test/list/index.html"
    tasks = build_tasks({}, None, start_url=start)
    task = tasks[0]

    prev = preview_action(pages, task)
    assert prev["url"] == start and len(prev["entries"]) == 2
    assert prev["pagination"]["links"]

    structure_path = str(tmp_path / "structure.json")
    args = parse_args(["--build-structure", structure_path])
    built = run_task(spark, pages, task, args)
    assert built["pages_visited"] == 3
    assert len(built["entries"]) == 6
    assert json.load(open(structure_path, encoding="utf-8"))["task"] == "default"

    args = parse_args(["--cache-start-page", "page.html"])
    cached = run_task(spark, pages, task, args)
    assert cached["cached"] is True and cached["bytes"] > 0

    args = parse_args(["--download-from-structure", structure_path])
    dl = run_task(spark, pages, task, args)
    assert dl["files_downloaded"] > 0
    dl_urls = {
        d["url"]
        for e in dl["state"]["entries"]
        for d in e.get("documents", [])
        if d.get("downloaded")
    }
    assert any(u.endswith(".pdf") for u in dl_urls)

    args = parse_args([])
    mon = run_task(spark, pages, task, args)
    assert mon["rounds"] >= 1 and mon["pages_fetched"] == 3
    assert mon["entries"] == 6
