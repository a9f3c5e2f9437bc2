"""Combined portal: dashboard + policy API on ONE server, one CLI.

The reference's one-command deployment (ref portal/cli.py:1-562) mounts the
dashboard app at the root and the policy router under ``/api`` on a single
FastAPI app, resolving both halves' artifacts from the same pbc_config.json.
fastapi is absent from this sandbox, so the same composition runs on the
stdlib ``ThreadingHTTPServer``:

- dashboard routes at the root — ``/`` ``/entries`` ``/api-explorer``
  ``/api/tasks`` ``/api/tasks/{slug}/entries`` ``/healthz`` (dashboard_web);
- the policy API under ``/api`` — ``/api/search`` ``/api/policies``
  ``/api/policies/{id}`` ``/api/clause`` ``/api/health`` (httpapi), exactly
  the reference's prefix (ref portal/cli.py:282 ``{"prefix": "/api"}``).

Route dispatch: ``/api/tasks...`` belongs to the dashboard (its own payload
family); any other ``/api/...`` path is stripped of the prefix and handled
by the policy handler — both handlers' code runs UNCHANGED, so every
payload stays byte-equal to its shim function (tests/test_portal.py).

Config resolution mirrors ref runner.py:158-171: per task, the state file is
the ``state_file`` override (CLI > task > global) or
``<artifact_dir>/downloads/<safe_filename(task)>_state.json``; all resolved
states are unioned into one catalog, exactly like the reference's
``PolicyFinder(*paths)``.
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import SparkSession

from .config import load_tasks
from .crawl.export import state_json_to_tables
from .dashboard_web import DashboardService, _DashHandler
from .functions.pure import safe_filename
from .httpapi import ThreadedServer, _Handler
from .runner import resolve_setting
from .serve import PolicyService

# policy-API route heads that live under /api on the portal; /api/tasks is
# the dashboard's own namespace and must NOT be stripped
_POLICY_HEADS = ("/search", "/policies", "/clause", "/health", "/healthz", "/ping")


def _is_policy_api(path: str) -> bool:
    if not path.startswith("/api/"):
        return False
    rest = path[len("/api"):]
    return rest.startswith(_POLICY_HEADS) and not rest.startswith("/tasks")


class _PortalHandler(_Handler, _DashHandler):
    """One handler, two route families. ``service`` is bound per-request to
    whichever half owns the path, then the ORIGINAL handler method runs on
    this instance — no route logic is duplicated, so portal payloads are
    byte-identical to the standalone servers'."""

    policy_service: PolicyService
    dash_service: DashboardService

    # the dashboard handler's richer _send signature (content_type + raw
    # body); the policy handler's (status, obj) calls hit the defaults
    def _send(self, status, obj, content_type="application/json; charset=utf-8",
              raw=None):
        return _DashHandler._send(self, status, obj, content_type, raw)

    def _dispatch(self, method: str):
        from urllib.parse import urlparse

        path = urlparse(self.path).path
        if _is_policy_api(path):
            self.service = self.policy_service
            self.path = self.path.replace("/api", "", 1)
            return getattr(_Handler, method)(self)
        if method == "do_GET":
            self.service = self.dash_service
            return _DashHandler.do_GET(self)
        return self._send(404, {"detail": "Not Found"})

    def do_GET(self):  # noqa: N802
        return self._dispatch("do_GET")

    def do_POST(self):  # noqa: N802
        return self._dispatch("do_POST")

    def do_OPTIONS(self):  # noqa: N802
        return self._dispatch("do_OPTIONS")


class PortalHTTPServer(ThreadedServer):
    """Threaded stdlib server mounting both services."""

    def __init__(self, policy_service: PolicyService, dash_service: DashboardService,
                 host: str = "127.0.0.1", port: int = 0):
        handler = type(
            "_BoundPortalHandler",
            (_PortalHandler,),
            {"policy_service": policy_service, "dash_service": dash_service},
        )
        super().__init__(handler, host, port)


def resolve_state_path(task_name: str, cli_state: str | None, task_cfg: dict,
                       config: dict, artifact_dir: str) -> str:
    """CLI > task > global ``state_file`` override, else the reference's
    default layout (ref runner.py:158-171)."""
    override = cli_state or resolve_setting(None, task_cfg.get("state_file"),
                                            config, "state_file", None)
    if isinstance(override, str) and override.strip():
        p = override.strip()
        return p if os.path.isabs(p) else os.path.join(artifact_dir, p)
    slug = safe_filename(task_name) or "task"
    return os.path.join(artifact_dir, "downloads", f"{slug}_state.json")


def build_portal_services(
    spark: SparkSession,
    config: dict,
    *,
    artifact_dir: str = ".",
    task_filter: str | None = None,
    cli_state: str | None = None,
    auto_refresh: int | None = None,
) -> tuple[PolicyService, DashboardService]:
    """Resolve every task's state.json and build both halves from the SAME
    unioned tables (the reference's shared-PolicyFinder composition)."""
    specs = load_tasks(config)
    raw_tasks = {t.get("name") or t.get("start_url") or t.get("url"): t
                 for t in config.get("tasks", []) if isinstance(t, dict)}
    entries = documents = seen = None
    for spec in specs:
        if task_filter and spec.name != task_filter:
            continue
        path = resolve_state_path(spec.name, cli_state, raw_tasks.get(spec.name, {}),
                                  config, artifact_dir)
        if not os.path.exists(path):
            continue
        with open(path, encoding="utf-8") as fh:
            data = json.load(fh)
        e, d, s = state_json_to_tables(spark, data, task=spec.name)
        entries = e if entries is None else entries.unionByName(e)
        documents = d if documents is None else documents.unionByName(d)
        seen = s if seen is None else seen.unionByName(s)
    if entries is None:
        e, d, s = state_json_to_tables(spark, {"entries": []}, task="task")
        entries, documents, seen = e, d, s
    entries = entries.localCheckpoint(eager=True)
    documents = documents.localCheckpoint(eager=True)
    seen = seen.localCheckpoint(eager=True)
    policy = PolicyService.from_state(entries, documents, None)
    dash = DashboardService(entries, documents, seen, specs=specs,
                            auto_refresh=auto_refresh)
    return policy, dash


def main(argv=None) -> int:
    """``python -m icrawler_spark.portal --config pbc_config.json`` — the
    reference's one-command deployment (ref portal/cli.py:417-543)."""
    ap = argparse.ArgumentParser(prog="icrawler_spark.portal")
    ap.add_argument("--config", default="pbc_config.json")
    ap.add_argument("--artifact-dir", default=None)
    ap.add_argument("--task", default=None, help="serve a single task by name")
    ap.add_argument("--state", default=None, help="override every task's state file")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8000)
    ap.add_argument("--auto-refresh", type=int, default=None)
    args = ap.parse_args(argv)

    with open(args.config, encoding="utf-8") as fh:
        config = json.load(fh)
    artifact_dir = args.artifact_dir or str(config.get("artifact_dir") or
                                            os.path.dirname(os.path.abspath(args.config)))
    from .session import get_spark

    spark = get_spark(app_name="icrawler_spark_portal")
    policy, dash = build_portal_services(
        spark, config, artifact_dir=artifact_dir, task_filter=args.task,
        cli_state=args.state, auto_refresh=args.auto_refresh,
    )
    server = PortalHTTPServer(policy, dash, host=args.host, port=args.port)
    host, port = server.start()
    print(f"portal listening on http://{host}:{port} (dashboard at /, policy API at /api)")
    try:
        server._thread.join()
    except KeyboardInterrupt:
        server.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
