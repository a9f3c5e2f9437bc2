"""HTTP boundary tests: the stdlib server must serve byte-identical payloads
to the PolicyService shim functions (VERDICT r2 item 8 — the reference's
primary entry point, ref searcher/api_server.py create_app, end-to-end
servable without fastapi). Route/param/error cases mirror
ref tests/test_policy_finder_api.py:210-344."""

from __future__ import annotations

import json
import urllib.error
import urllib.parse
import urllib.request

import pytest

from icrawler_spark.httpapi import PolicyHTTPServer

from tests.test_serve_runner import _TEXT, service  # noqa: F401 — fixture reuse


@pytest.fixture(scope="module")
def server(service):  # noqa: F811
    srv = PolicyHTTPServer(service)
    host, port = srv.start()
    yield f"http://{host}:{port}"
    srv.stop()


def _get(base, path):
    try:
        with urllib.request.urlopen(base + path, timeout=30) as resp:
            return resp.status, json.loads(resp.read().decode("utf-8"))
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read().decode("utf-8"))


def _post(base, path, body: bytes):
    req = urllib.request.Request(
        base + path, data=body, headers={"Content-Type": "application/json"}
    )
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return resp.status, json.loads(resp.read().decode("utf-8"))
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read().decode("utf-8"))


def _q(s):
    return urllib.parse.quote(s)


def test_root_and_health(server):
    status, body = _get(server, "/")
    assert status == 200 and body["service"] == "policy_finder"
    for path in ("/health", "/healthz", "/ping"):
        assert _get(server, path) == (200, {"status": "ok"})


def test_search_get_byte_equals_shim(server, service):  # noqa: F811
    status, body = _get(server, f"/search?query={_q('人民银行公告')}&topk=2")
    assert status == 200
    want = service.search_payload("人民银行公告", 2, True)
    assert json.dumps(body, ensure_ascii=False, sort_keys=True) == json.dumps(
        want, ensure_ascii=False, sort_keys=True
    )
    assert body["results"][0]["title"].startswith("中国人民银行公告")


def test_search_post_and_param_coercion(server, service):  # noqa: F811
    payload = {"q": "金融稳定法", "topk": "3", "documents": "false"}
    status, body = _post(server, "/search", json.dumps(payload).encode())
    assert status == 200
    want = service.search_payload("金融稳定法", 3, False)
    assert body == json.loads(json.dumps(want, ensure_ascii=False))
    assert all("documents" not in r for r in body["results"])


def test_search_errors_mirror_reference(server):
    # ref api_server.py:506-516: missing query / invalid topk → 400 {"error": msg}
    assert _get(server, "/search") == (400, {"error": "Missing 'query' parameter"})
    status, body = _get(server, f"/search?query=x&topk=abc")
    assert (status, body) == (400, {"error": "Invalid 'topk' parameter"})
    assert _post(server, "/search", b"") == (400, {"error": "Empty request body"})
    assert _post(server, "/search", b"not json") == (
        400,
        {"error": "Request body must be valid JSON"},
    )
    assert _post(server, "/search", b"[1,2]") == (
        400,
        {"error": "Request body must be a JSON object"},
    )
    assert _post(server, "/search", b"{}") == (400, {"error": "Field 'query' is required"})


def test_policies_routes_byte_equal_shim(server, service):  # noqa: F811
    status, body = _get(server, "/policies")
    assert status == 200
    want = service.policies_payload(None)
    assert body == json.loads(json.dumps(want, ensure_ascii=False))
    assert body["result_count"] == len(body["policies"])

    status, body = _get(server, f"/policies?query={_q('银行卡')}")
    assert status == 200 and body["query"] == "银行卡"

    status, body = _get(server, "/policies/4?include=text&include=outline")
    assert status == 200
    want = service.policy_payload("4", include=["text", "outline"])
    assert body == json.loads(json.dumps(want, ensure_ascii=False))
    assert "外包管理" in body["text"] and body["outline"]

    # ref raises HTTPException(404, detail="policy_not_found")
    assert _get(server, "/policies/999") == (404, {"detail": "policy_not_found"})


def test_policies_query_pagination_over_http(server, service):  # noqa: F811
    query = _q("人民银行")
    status, body = _get(server, f"/policies?query={query}&limit=1&offset=1")
    assert status == 200
    want = service.policies_payload("人民银行", max_entries=1, offset=1)
    assert body == json.loads(json.dumps(want, ensure_ascii=False))
    assert body["result_count"] == 1 and body["offset"] == 1
    status, body = _get(server, f"/policies?query={query}")
    assert status == 200
    assert body == json.loads(json.dumps(service.policies_payload("人民银行"), ensure_ascii=False))
    assert body["result_count"] == 2 and "offset" not in body
    for bad in ("limit=abc", "limit=-1", "offset=-1"):
        assert _get(server, f"/policies?query={query}&{bad}") == (
            400, {"error": "Invalid 'limit' or 'offset' parameter"})


def test_clause_routes(server, service):  # noqa: F811
    path = f"/clause?title={_q('中国人民银行关于加强银行卡收单业务外包管理的通知')}&clause={_q('第二条')}"
    status, body = _get(server, path)
    assert status == 200
    want = service.clause_payload("中国人民银行关于加强银行卡收单业务外包管理的通知", "第二条")
    assert body == json.loads(json.dumps(want, ensure_ascii=False))

    assert _get(server, "/clause?title=x") == (
        400,
        {"error": "Parameters 'title' and 'item' (or 'clause') are required"},
    )
    status, body = _post(
        server, "/clause", json.dumps({"policy": "不存在的规定", "item": "第一条"}).encode()
    )
    assert status == 404

    assert _post(server, "/clause", json.dumps({"title": "x"}).encode()) == (
        400,
        {"error": "Fields 'title' and 'item' (or 'clause') are required"},
    )


def test_options_and_unknown_route(server):
    req = urllib.request.Request(server + "/search", method="OPTIONS")
    with urllib.request.urlopen(req, timeout=30) as resp:
        assert resp.status == 204
    assert _get(server, "/nope")[0] == 404


def test_concurrent_requests(server):
    """ThreadingHTTPServer + shared cached index: parallel requests must all
    succeed (the reference runs uvicorn with one shared PolicyFinder)."""
    import concurrent.futures

    paths = [f"/search?q={_q('人民银行')}&topk=1", "/policies", "/health"] * 4
    with concurrent.futures.ThreadPoolExecutor(max_workers=6) as ex:
        results = list(ex.map(lambda p: _get(server, p)[0], paths))
    assert results == [200] * len(paths)


def test_null_fields_and_missing_documents(spark):
    """An entry with NULL title and remark and an entry with no documents
    (NULL best_path): every payload returns, NULL fields fail their score
    terms, and the HTTP routes answer 200 with the server still up."""
    from icrawler_spark.serve import PolicyService

    entries = spark.createDataFrame(
        [
            ("n1", "t", 1, None, None),
            ("n2", "t", 2, "支付业务管理通知", ""),
            ("n3", "t", 3, "支付业务管理通知", ""),
        ],
        "entry_id string, task string, serial int, title string, remark string",
    )
    documents = spark.createDataFrame(
        [("n1", "http://x/1.pdf", "pdf", None, 0), ("n2", "http://x/2.html", "html", "d", 1)],
        "entry_id string, url string, doc_type string, title string, _src_pos long",
    )
    texts = spark.createDataFrame([("n1", "正文提到支付业务")], "entry_id string, text string")
    svc = PolicyService.from_state(entries, documents, texts)
    try:
        found = svc.search_payload("支付业务管理通知", topk=3)
        scores = {r["id"]: r["score"] for r in found["results"]}
        assert found["result_count"] == 3
        # NULL best_path scores like a non-pdf path; the NULL title scores
        # only its pdf term (doctype, phrases, tokens and title boost are 0)
        assert scores[3] == scores[2] > 0.0
        assert scores[1] == 0.0 + 3.0
        assert next(r for r in found["results"] if r["id"] == 3)["documents"] == []
        keyword = svc.policies_payload("支付业务")
        assert [p["id"] for p in keyword["policies"]] == [2, 3, 1]  # title hits first
        assert [p["id"] for p in svc.policies_payload()["policies"]] == [1, 2, 3]
        assert svc.policies_payload(max_entries=1, offset=1)["policies"][0]["id"] == 2

        srv = PolicyHTTPServer(svc)
        host, port = srv.start()
        base = f"http://{host}:{port}"
        try:
            status, body = _get(base, f"/search?query={_q('支付业务管理通知')}&topk=3")
            assert status == 200
            assert body == json.loads(json.dumps(found, ensure_ascii=False))
            assert _get(base, f"/policies?query={_q('支付业务')}") == (
                200, json.loads(json.dumps(keyword, ensure_ascii=False)))
            assert _get(base, "/policies?limit=2&offset=1")[0] == 200
            assert _get(base, "/policies/1?include=all")[0] == 200
            assert _get(base, "/health") == (200, {"status": "ok"})
        finally:
            srv.stop()
    finally:
        svc.index.unpersist()
