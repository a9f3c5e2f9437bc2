"""Dashboard web layer: task-overview payloads, HTML pages, HTTP routes.

The reference serves a monitoring dashboard (ref icrawler/dashboard.py:
40-757): ``/api/tasks`` returns TaskOverview JSON per configured task,
``/api/tasks/entries`` + ``/api/tasks/{slug}/entries`` add the state's entry
list, ``/healthz`` answers plaintext ok, and ``/`` ``/entries``
``/api-explorer`` serve HTML shells that read ``window.__PBC_CONFIG__``.
This module reproduces that surface over the engine's DataFrames:

- payload keys and status/reason strings match ``TaskOverview.to_jsonable``
  and ``_compute_status`` (ref :85-99, :190-203) exactly;
- per-task counts come from one grouped aggregation over the normalized
  state tables instead of walking an in-memory dict per request;
- filesystem facts (state mtime, cache/output dir sizes) are computed when
  a per-task layout is provided, else null/0 exactly as a layout-less
  reference task would report;
- the HTML shells are ORIGINAL minimal templates (the reference's
  ``web/*.html`` assets are not copied) carrying the same
  ``window.__PBC_CONFIG__`` contract, with a small inline renderer that
  fetches ``/api/tasks``.

Serving uses ``httpapi.ThreadedServer``, the policy API's server lifecycle.
"""

from __future__ import annotations

import json
import os
import threading
from datetime import datetime, timedelta
from http.server import BaseHTTPRequestHandler
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.pure import safe_filename
from .httpapi import ThreadedServer

# ref runner.py:287-288 monitor cadence defaults
_MIN_HOURS = 20.0
_MAX_HOURS = 32.0


def make_task_slug(name: str, counts: dict) -> str:
    """ref dashboard.py:101-107."""
    base = safe_filename(name) or "task"
    counts[base] = counts.get(base, 0) + 1
    if counts[base] > 1:
        return f"{base}-{counts[base]}"
    return base


def compute_status(entries_total: int, pending_total: int,
                   page_cache_fresh: bool, pages_cached: int) -> tuple[str, str]:
    """ref dashboard.py:190-203, byte-identical reason strings."""
    if entries_total == 0:
        return "waiting", "No entries recorded yet"
    if pending_total > 0:
        return "attention", f"{pending_total} document(s) pending download"
    if not page_cache_fresh and pages_cached:
        return "stale", "Listing cache is older than today"
    return "ok", "Up to date"


def _dt(value: datetime | None) -> str | None:
    return None if value is None else value.isoformat(timespec="seconds")


def _safe_mtime(path: str | None) -> datetime | None:
    if not path:
        return None
    try:
        return datetime.fromtimestamp(os.path.getmtime(path))
    except OSError:
        return None


def _count_files(directory: str | None) -> int:
    if not directory or not os.path.isdir(directory):
        return 0
    return sum(len(files) for _r, _d, files in os.walk(directory))


def _sum_file_sizes(directory: str | None) -> int:
    if not directory or not os.path.isdir(directory):
        return 0
    total = 0
    for root, _dirs, files in os.walk(directory):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _latest_page_mtime(directory: str | None) -> datetime | None:
    """Newest cached listing page in the dir (file-level — a re-fetch
    overwrites in place without changing the directory mtime)."""
    if not directory or not os.path.isdir(directory):
        return None
    latest = None
    for root, _dirs, files in os.walk(directory):
        for f in files:
            if f.lower().endswith((".html", ".htm")):
                m = _safe_mtime(os.path.join(root, f))
                if m is not None and (latest is None or m > latest):
                    latest = m
    return latest


def _count_pages(directory: str | None) -> int:
    if not directory or not os.path.isdir(directory):
        return 0
    n = 0
    for _root, _dirs, files in os.walk(directory):
        n += sum(1 for f in files if f.lower().endswith((".html", ".htm")))
    return n


def task_overview_payloads(
    entries: DataFrame,
    documents: DataFrame,
    seen: DataFrame,
    *,
    specs: list | None = None,
    layouts: dict | None = None,
    now: datetime | None = None,
) -> list[dict]:
    """TaskOverview JSON dicts, one per task (ref collect_task_overviews).

    specs: optional ``config.TaskSpec`` list — supplies start_url and
    politeness knobs, and forces a row even for tasks with no state yet.
    layouts: optional ``{task_name: {"state_file","output_dir",
    "page_cache_dir","parser_spec"}}`` for the filesystem facts.
    All per-task counts run as ONE set of grouped aggregations."""
    layouts = layouts or {}
    now = now or datetime.now()

    dl = F.coalesce("downloaded", F.lit(False))
    doc_counts = (
        documents.join(seen.select("url", dl.alias("_dl")), "url", "left")
        .groupBy("entry_id")
        .agg(
            F.count(F.lit(1)).alias("_n_docs"),
            F.sum(F.coalesce(F.col("_dl"), F.lit(False)).cast("int")).alias("_n_dl"),
        )
    )
    per_task_rows = {
        r.task: r
        for r in entries.join(doc_counts, "entry_id", "left")
        .groupBy("task")
        .agg(
            F.count(F.lit(1)).alias("entries_total"),
            F.sum(F.coalesce("_n_docs", F.lit(0))).cast("long").alias("documents_total"),
            F.sum(F.coalesce("_n_dl", F.lit(0))).cast("long").alias("downloaded_total"),
            F.sum((F.coalesce("_n_docs", F.lit(0)) == 0).cast("int")).cast("long")
            .alias("entries_without_documents"),
        )
        .collect()
    }
    entry_task = entries.select("entry_id", "task")
    tracked_rows = {
        r.task: r
        for r in seen.join(entry_task, "entry_id")
        .groupBy("task")
        .agg(
            F.count(F.lit(1)).alias("tracked_files"),
            F.sum(dl.cast("int")).cast("long").alias("tracked_downloaded"),
        )
        .collect()
    }
    # ref _document_type_counts (:180-188): str(type or 'unknown'), case kept
    type_rows: dict = {}
    for r in (
        seen.join(entry_task, "entry_id")
        .groupBy(
            "task",
            F.coalesce(F.nullif(F.col("doc_type"), F.lit("")), F.lit("unknown")).alias("t"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ):
        type_rows.setdefault(r.task, {})[r.t or "unknown"] = r.n

    if specs:
        task_list = [(s.name, s) for s in specs]
    else:
        task_list = [(t, None) for t in sorted(per_task_rows)]

    counts: dict = {}
    out = []
    for name, spec in task_list:
        lay = layouts.get(name, {})
        agg = per_task_rows.get(name)
        tr = tracked_rows.get(name)
        entries_total = int(agg.entries_total) if agg else 0
        documents_total = int(agg.documents_total) if agg else 0
        downloaded_total = int(agg.downloaded_total) if agg else 0
        pending_total = max(0, documents_total - downloaded_total)

        state_file = lay.get("state_file")
        state_last_updated = _safe_mtime(state_file)
        page_cache_dir = lay.get("page_cache_dir")
        pages_cached = _count_pages(page_cache_dir)
        # ref tracks the start-url listing cache FILE, not the directory
        # (a re-fetch overwrites the file without touching the dir mtime):
        # an explicit layout cache_path wins, else the newest cached page
        cache_path = lay.get("cache_path")
        cache_mtime = _safe_mtime(cache_path) if cache_path else _latest_page_mtime(page_cache_dir)
        page_cache_fresh = (
            cache_mtime is not None and cache_mtime.date() == now.date()
        ) if page_cache_dir else True
        output_dir = lay.get("output_dir")

        http = getattr(spec, "http", None)
        delay = float(getattr(http, "delay", 3.0))
        jitter = float(getattr(http, "jitter", 2.0))
        timeout = float(getattr(http, "timeout", 30.0))

        next_earliest = next_latest = None
        if state_last_updated is not None:
            next_earliest = state_last_updated + timedelta(hours=_MIN_HOURS)
            next_latest = state_last_updated + timedelta(hours=_MAX_HOURS)

        status, reason = compute_status(
            entries_total, pending_total, page_cache_fresh, pages_cached
        )
        out.append({
            "name": name,
            "slug": make_task_slug(name, counts),
            "start_url": getattr(spec, "start_url", "") or "",
            "entries_total": entries_total,
            "documents_total": documents_total,
            "downloaded_total": downloaded_total,
            "pending_total": pending_total,
            "entries_without_documents": int(agg.entries_without_documents) if agg else 0,
            "tracked_files": int(tr.tracked_files) if tr else 0,
            "tracked_downloaded": int(tr.tracked_downloaded) if tr else 0,
            "document_type_counts": type_rows.get(name, {}),
            "state_file": state_file,
            "state_last_updated": _dt(state_last_updated),
            "output_dir": output_dir,
            "output_files": _count_files(output_dir),
            "output_size_bytes": _sum_file_sizes(output_dir),
            "page_cache_dir": page_cache_dir,
            "pages_cached": pages_cached,
            "page_cache_fresh": page_cache_fresh,
            "page_cache_last_fetch": _dt(cache_mtime),
            "delay": delay,
            "jitter": jitter,
            "timeout": timeout,
            "min_hours": _MIN_HOURS,
            "max_hours": _MAX_HOURS,
            "next_run_earliest": _dt(next_earliest),
            "next_run_latest": _dt(next_latest),
            "status": status,
            "status_reason": reason,
            "parser_spec": lay.get("parser_spec"),
        })
    return out


def entries_payload(overview: dict, entries: DataFrame, documents: DataFrame,
                    seen: DataFrame | None = None) -> dict:
    """ref _build_entries_payload (:497-511): the task's state entries as the
    export-format jsonable list plus the overview itself."""
    from .crawl.export import state_export_json

    task_entries = entries.where(F.col("task") == overview["name"])
    task_docs = documents.join(task_entries.select("entry_id"), "entry_id", "left_semi")
    task_seen = (
        seen.join(task_docs.select("url").distinct(), "url", "left_semi")
        if seen is not None
        else None
    )  # never collect other tasks' urls per request
    data = json.loads(state_export_json(task_entries, task_docs, task_seen))
    return {"entries": data.get("entries", []), "task": dict(overview)}


# -- HTML shells ---------------------------------------------------------------

_PAGE = """<!DOCTYPE html>
<html lang="zh"><head><meta charset="utf-8">
<title>{title}</title>
<style>
body{{font-family:sans-serif;margin:2rem;color:#222}}
table{{border-collapse:collapse;width:100%}}
td,th{{border:1px solid #ccc;padding:.4rem .6rem;text-align:left}}
.status-ok{{color:#070}}.status-attention{{color:#b60}}
.status-waiting{{color:#666}}.status-stale{{color:#a00}}
</style></head>
<body>
<h1>{title}</h1>
<div id="app">loading…</div>
{config_script}
<script>
(function(){{
  var cfg = window.__PBC_CONFIG__ || {{}};
  var base = cfg.apiBase || "";
  function esc(v){{
    return String(v).replace(/[&<>"']/g, function(c){{
      return {{"&":"&amp;","<":"&lt;",">":"&gt;","\\"":"&quot;","'":"&#39;"}}[c];
    }});
  }}
  function render(tasks){{
    var rows = tasks.map(function(t){{
      return "<tr><td>"+esc(t.name)+"</td><td class='status-"+esc(t.status)+"'>"+esc(t.status)+
        "</td><td>"+esc(t.status_reason)+"</td><td>"+esc(t.entries_total)+"</td><td>"+
        esc(t.documents_total)+"</td><td>"+esc(t.downloaded_total)+"</td><td>"+
        esc(t.pending_total)+"</td></tr>";
    }}).join("");
    document.getElementById("app").innerHTML =
      "<table><tr><th>task</th><th>status</th><th>reason</th><th>entries</th>"+
      "<th>documents</th><th>downloaded</th><th>pending</th></tr>"+rows+"</table>"+
      "<p>generated at "+(cfg.generatedAt||"")+"</p>";
  }}
  if (cfg.initialData) {{ render(cfg.initialData); }}
  else {{
    fetch(base+"/api/tasks").then(function(r){{return r.json();}}).then(render)
      .catch(function(e){{document.getElementById("app").textContent = String(e);}});
  }}
  if (cfg.autoRefresh) {{ setTimeout(function(){{location.reload();}}, cfg.autoRefresh*1000); }}
}})();
</script>
</body></html>
"""


def _config_script(config: dict) -> str:
    # '</' inside an inline <script> would terminate the block — escape it
    # so attacker-controlled task names cannot break out (classic JSON-in-
    # script hole); JS string semantics are unchanged ('<\/' === '</')
    payload = json.dumps(config, ensure_ascii=False).replace("</", "<\\/")
    return "<script>window.__PBC_CONFIG__ = " + payload + "</script>"


def render_index_html(*, auto_refresh: int | None = None,
                      generated_at: datetime | None = None,
                      initial_data: list | None = None,
                      static_snapshot: bool = False,
                      api_base: str = "",
                      search_config: dict | None = None) -> str:
    config: dict = {
        "autoRefresh": auto_refresh if auto_refresh and auto_refresh > 0 else None,
        "generatedAt": _dt(generated_at or datetime.now()),
        "staticSnapshot": static_snapshot,
        "apiBase": api_base,
    }
    if initial_data is not None:
        config["initialData"] = initial_data
    if search_config is not None:
        config["search"] = search_config
    return _PAGE.format(title="Crawl dashboard", config_script=_config_script(config))


def render_entries_html(*, generated_at: datetime | None = None,
                        api_base: str = "", search_config: dict | None = None) -> str:
    config: dict = {
        "generatedAt": _dt(generated_at or datetime.now()),
        "staticSnapshot": False,
        "apiBase": api_base,
    }
    if search_config is not None:
        config["search"] = search_config
    return _PAGE.format(title="Entries", config_script=_config_script(config))


def render_api_explorer_html(*, generated_at: datetime | None = None,
                             api_base: str = "",
                             explorer_config: dict | None = None) -> str:
    config: dict = {
        "generatedAt": _dt(generated_at or datetime.now()),
        "staticSnapshot": False,
        "apiBase": api_base,
    }
    if explorer_config is not None:
        config["apiExplorer"] = explorer_config
    return _PAGE.format(title="API explorer", config_script=_config_script(config))


# -- HTTP ----------------------------------------------------------------------


class DashboardService:
    """Bound state for the dashboard routes; overviews recomputed per
    request like the reference's _collect_overviews (cache upstream by
    passing pinned DataFrames)."""

    def __init__(self, entries: DataFrame, documents: DataFrame, seen: DataFrame,
                 *, specs: list | None = None, layouts: dict | None = None,
                 auto_refresh: int | None = None):
        self.entries = entries
        self.documents = documents
        self.seen = seen
        self.specs = specs
        self.layouts = layouts
        self.auto_refresh = auto_refresh
        self._lock = threading.Lock()

    def overviews(self) -> list[dict]:
        with self._lock:
            return task_overview_payloads(
                self.entries, self.documents, self.seen,
                specs=self.specs, layouts=self.layouts,
            )

    def entries_for(self, overview: dict) -> dict:
        with self._lock:
            return entries_payload(overview, self.entries, self.documents, self.seen)


class _DashHandler(BaseHTTPRequestHandler):
    service: DashboardService

    def log_message(self, fmt, *args):
        pass

    def _send(self, status: int, obj, content_type="application/json; charset=utf-8",
              raw: bytes | None = None) -> None:
        body = raw if raw is not None else json.dumps(obj, ensure_ascii=False).encode("utf-8")
        self.send_response(status)
        self.send_header("Content-Type", content_type)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _html(self, html: str) -> None:
        self._send(200, None, "text/html; charset=utf-8", html.encode("utf-8"))

    def do_GET(self):  # noqa: N802
        parsed = urlparse(self.path)
        path, qs = parsed.path, parse_qs(parsed.query, keep_blank_values=True)
        svc = self.service
        try:
            if path == "/healthz":
                return self._send(200, None, "text/plain; charset=utf-8", b"ok")
            if path == "/api/tasks":
                return self._send(200, svc.overviews())
            if path == "/api/tasks/entries":
                overviews = svc.overviews()
                by_slug = {o["slug"]: o for o in overviews}
                requested, seen_slugs = [], set()
                for v in qs.get("slugs", []):
                    v = (v or "").strip()
                    if v and v not in seen_slugs:
                        seen_slugs.add(v)
                        requested.append(v)
                if not requested:
                    requested = [o["slug"] for o in overviews]
                results, errors = [], []
                for slug in requested:
                    o = by_slug.get(slug)
                    if o is None:
                        errors.append({"slug": slug, "error": "Task not found"})
                        continue
                    payload = svc.entries_for(o)
                    payload["slug"] = slug
                    results.append(payload)
                out: dict = {"results": results}
                if errors:
                    out["errors"] = errors
                return self._send(200, out)
            if path.startswith("/api/tasks/") and path.endswith("/entries"):
                slug = unquote(path[len("/api/tasks/"):-len("/entries")])
                o = next((x for x in svc.overviews() if x["slug"] == slug), None)
                if o is None:
                    return self._send(404, {"detail": "Task not found"})
                return self._send(200, svc.entries_for(o))
            if path in ("/", "/index.html"):
                return self._html(render_index_html(auto_refresh=svc.auto_refresh))
            if path in ("/entries", "/entries.html"):
                return self._html(render_entries_html())
            if path in ("/api-explorer", "/api-explorer.html"):
                return self._html(render_api_explorer_html())
            return self._send(404, {"detail": "Not Found"})
        except Exception as exc:
            return self._send(500, {"error": str(exc)})


class DashboardHTTPServer(ThreadedServer):
    """Threaded stdlib server over a DashboardService."""

    def __init__(self, service: DashboardService, host: str = "127.0.0.1", port: int = 0):
        super().__init__(type("_BoundDashHandler", (_DashHandler,), {"service": service}), host, port)
