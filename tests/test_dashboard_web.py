"""Dashboard web layer: payload-key parity with the reference TaskOverview,
status-string parity, and the HTTP route surface (ref dashboard.py:40-757,
ref tests/test_dashboard.py:126-257)."""

from __future__ import annotations

import json
import urllib.error
import urllib.parse
import urllib.request

import pytest

from icrawler_spark.config import HttpOptions, TaskSpec
from icrawler_spark.dashboard_web import (
    DashboardHTTPServer,
    DashboardService,
    compute_status,
    render_api_explorer_html,
    render_entries_html,
    render_index_html,
    task_overview_payloads,
)

from tests._ref_stubs import install_reference_stubs, reference_available


@pytest.fixture(scope="module")
def frames(spark):
    entries = spark.createDataFrame(
        [
            ("e1", "主站", 1, "文件甲", ""),
            ("e2", "主站", 2, "文件乙", ""),
            ("e3", "主站", 3, "无文档条目", ""),
            ("e4", "分站", 1, "文件丙", ""),
        ],
        "entry_id string, task string, serial int, title string, remark string",
    )
    documents = spark.createDataFrame(
        [
            ("e1", "http://x/a.pdf", "pdf", "甲"),
            ("e1", "http://x/a.html", "html", "甲页"),
            ("e2", "http://x/b.pdf", "pdf", "乙"),
            ("e4", "http://x/c.doc", "word", "丙"),
        ],
        "entry_id string, url string, doc_type string, title string",
    )
    seen = spark.createDataFrame(
        [
            ("http://x/a.pdf", "e1", "甲", "pdf", True, "dl/a.pdf"),
            ("http://x/a.html", "e1", "甲页", "html", True, "dl/a.html"),
            ("http://x/b.pdf", "e2", "乙", "pdf", False, None),
            ("http://x/c.doc", "e4", "丙", "word", True, "dl/c.doc"),
        ],
        "url string, entry_id string, title string, doc_type string, "
        "downloaded boolean, local_path string",
    )
    return entries, documents, seen


def test_payload_keys_match_reference_taskoverview(frames):
    """Every key of ref TaskOverview.to_jsonable (minus the optional
    'entries') must be present — direct import, not a transcribed list."""
    if not reference_available():
        pytest.skip("reference checkout not present")
    install_reference_stubs()
    from pbc_regulations.icrawler.dashboard import TaskOverview  # noqa: PLC0415

    import dataclasses

    ref_keys = {f.name for f in dataclasses.fields(TaskOverview)} - {"entries"}
    payloads = task_overview_payloads(*frames)
    assert payloads
    for p in payloads:
        assert set(p.keys()) == ref_keys


def test_status_strings_match_reference(frames):
    if not reference_available():
        pytest.skip("reference checkout not present")
    install_reference_stubs()
    from pbc_regulations.icrawler.dashboard import _compute_status  # noqa: PLC0415

    for args in [(0, 0, True, 0), (5, 3, True, 2), (5, 0, False, 2), (5, 0, True, 2)]:
        assert compute_status(*args) == _compute_status(*args)


def test_compute_status_rollup():
    """The four statuses and their reason strings (ref dashboard.py:190-203),
    checked directly so they stay covered without the reference checkout."""
    assert compute_status(0, 0, True, 0) == ("waiting", "No entries recorded yet")
    assert compute_status(0, 3, False, 2) == ("waiting", "No entries recorded yet")
    assert compute_status(5, 3, True, 2) == ("attention", "3 document(s) pending download")
    assert compute_status(5, 1, False, 2) == ("attention", "1 document(s) pending download")
    assert compute_status(5, 0, False, 2) == ("stale", "Listing cache is older than today")
    assert compute_status(5, 0, False, 0) == ("ok", "Up to date")
    assert compute_status(5, 0, True, 2) == ("ok", "Up to date")


def test_overview_counts(frames):
    payloads = {p["name"]: p for p in task_overview_payloads(*frames)}
    main = payloads["主站"]
    assert (main["entries_total"], main["documents_total"], main["downloaded_total"]) == (3, 3, 2)
    assert main["pending_total"] == 1
    assert main["entries_without_documents"] == 1
    assert main["document_type_counts"] == {"pdf": 2, "html": 1}
    assert main["status"] == "attention"
    assert main["status_reason"] == "1 document(s) pending download"
    sub = payloads["分站"]
    assert (sub["entries_total"], sub["documents_total"], sub["pending_total"]) == (1, 1, 0)
    assert sub["status"] == "ok" and sub["status_reason"] == "Up to date"


def test_specs_force_empty_task_row(frames):
    specs = [
        TaskSpec(name="主站", start_url="http://x/idx.html", http=HttpOptions(delay=5.0)),
        TaskSpec(name="新任务", start_url="http://y/idx.html"),
    ]
    payloads = {p["name"]: p for p in task_overview_payloads(*frames, specs=specs)}
    assert payloads["主站"]["start_url"] == "http://x/idx.html"
    assert payloads["主站"]["delay"] == 5.0
    empty = payloads["新任务"]
    assert empty["entries_total"] == 0
    assert (empty["status"], empty["status_reason"]) == ("waiting", "No entries recorded yet")


def test_slug_deduplication(frames):
    specs = [TaskSpec(name="同名", start_url="u1"), TaskSpec(name="同名", start_url="u2")]
    slugs = [p["slug"] for p in task_overview_payloads(*frames, specs=specs)]
    assert slugs[0] != slugs[1] and slugs[1].endswith("-2")


def _get(base, path):
    try:
        with urllib.request.urlopen(base + path, timeout=30) as resp:
            ctype = resp.headers.get("Content-Type", "")
            raw = resp.read()
            return resp.status, ctype, raw
    except urllib.error.HTTPError as e:
        return e.code, e.headers.get("Content-Type", ""), e.read()


@pytest.fixture(scope="module")
def server(frames):
    entries, documents, seen = frames
    svc = DashboardService(entries, documents, seen)
    srv = DashboardHTTPServer(svc)
    host, port = srv.start()
    yield f"http://{host}:{port}"
    srv.stop()


def test_http_api_tasks(server):
    status, ctype, raw = _get(server, "/api/tasks")
    assert status == 200 and "json" in ctype
    tasks = json.loads(raw)
    assert {t["name"] for t in tasks} == {"主站", "分站"}


def test_http_task_entries_routes(server):
    status, _c, raw = _get(server, "/api/tasks")
    slug = json.loads(raw)[0]["slug"]
    status, _c, raw = _get(server, f"/api/tasks/{urllib.parse.quote(slug)}/entries")
    assert status == 200
    payload = json.loads(raw)
    assert payload["task"]["slug"] == slug
    assert isinstance(payload["entries"], list) and payload["entries"]
    # every entry is export-format: serial/title/remark/documents
    assert {"serial", "title", "remark", "documents"} <= set(payload["entries"][0])

    status, _c, raw = _get(server, "/api/tasks/nope/entries")
    assert status == 404

    status, _c, raw = _get(server, f"/api/tasks/entries?slugs={urllib.parse.quote(slug)}&slugs=missing")
    body = json.loads(raw)
    assert [r["slug"] for r in body["results"]] == [slug]
    assert body["errors"] == [{"slug": "missing", "error": "Task not found"}]


def test_http_health_and_html(server):
    status, ctype, raw = _get(server, "/healthz")
    assert (status, raw) == (200, b"ok") and "text/plain" in ctype
    for path in ("/", "/index.html", "/entries", "/entries.html",
                 "/api-explorer", "/api-explorer.html"):
        status, ctype, raw = _get(server, path)
        assert status == 200 and "text/html" in ctype
        assert b"window.__PBC_CONFIG__" in raw
    assert _get(server, "/nope")[0] == 404


def test_render_config_contract():
    html = render_index_html(auto_refresh=30, initial_data=[{"name": "t"}],
                             search_config={"apiBase": "/s"})
    cfg = json.loads(html.split("window.__PBC_CONFIG__ = ", 1)[1].split("</script>", 1)[0])
    assert cfg["autoRefresh"] == 30
    assert cfg["initialData"] == [{"name": "t"}]
    assert cfg["search"] == {"apiBase": "/s"}
    for html in (render_entries_html(), render_api_explorer_html(explorer_config={"x": 1})):
        assert "window.__PBC_CONFIG__" in html
