"""stdlib HTTP server mounting the PolicyService payload functions.

The reference's primary user entry point is a FastAPI app
(ref searcher/api_server.py:452-566 ``create_app`` + :235-411 policy
router); fastapi is not installed in this sandbox, so the same route surface
is served by a stdlib ``ThreadingHTTPServer`` handler instead. Routes,
parameter names, error messages, and status codes mirror the reference:

- ``GET /`` · ``GET /health|/healthz|/ping`` · ``OPTIONS /search``
- ``GET|POST /search``   (query/q, topk, include_documents/documents)
- ``GET /policies``      (optional ``query`` keyword filter)
- ``GET /policies/{id}`` (``include`` = meta,text,outline,all; repeatable)
- ``GET|POST /clause``   (title/policy + item/clause/article)

Every response body comes from the corresponding ``PolicyService`` payload
function (serve.py), so the payload-parity tests transfer to the HTTP
boundary unchanged. Concurrency model matches the reference's single shared
``PolicyFinder``: one read-only catalog snapshot, one request per handler
thread (the scoring routes' Spark driver actions are thread-safe).
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from .serve import PolicyService, coerce_bool, coerce_topk


def parse_search_params(params: dict, *, query_error: str, topk_error: str,
                        include_error: str) -> tuple[str, int, bool]:
    """Mirror of ref api_server.py:414-451 ``_parse_search_params``."""
    query_text = ""
    for key in ("query", "q"):
        value = params.get(key)
        if isinstance(value, str) and value.strip():
            query_text = value.strip()
            break
    if not query_text:
        raise ValueError(query_error)
    try:
        topk_value = coerce_topk(params.get("topk"))
    except Exception as exc:
        raise ValueError(topk_error) from exc
    include_flag = True
    include_value = params.get("include_documents")
    if include_value is None:
        include_value = params.get("documents")
    if include_value is not None:
        try:
            parsed = coerce_bool(include_value)
        except Exception as exc:
            raise ValueError(include_error) from exc
        if parsed is not None:
            include_flag = parsed
    return query_text, topk_value, include_flag


class _Handler(BaseHTTPRequestHandler):
    service: PolicyService  # bound by PolicyHTTPServer

    # -- plumbing --------------------------------------------------------------

    def log_message(self, fmt, *args):  # quiet test servers
        pass

    def _send(self, status: int, obj) -> None:
        body = json.dumps(obj, ensure_ascii=False).encode("utf-8")
        self.send_response(status)
        self.send_header("Content-Type", "application/json; charset=utf-8")
        self.send_header("Content-Length", str(len(body)))
        self.send_header("Access-Control-Allow-Origin", "*")
        self.end_headers()
        self.wfile.write(body)

    def _bad(self, message: str) -> None:
        self._send(400, {"error": message})

    def _route(self):
        parsed = urlparse(self.path)
        return parsed.path, parse_qs(parsed.query, keep_blank_values=True)

    def _body_json(self):
        """(payload, None) or (None, error-message) per ref body handling."""
        length = int(self.headers.get("Content-Length") or 0)
        body = self.rfile.read(length) if length else b""
        if not body:
            return None, "Empty request body"
        try:
            payload = json.loads(body.decode("utf-8"))
        except (json.JSONDecodeError, UnicodeDecodeError):
            return None, "Request body must be valid JSON"
        if not isinstance(payload, dict):
            return None, "Request body must be a JSON object"
        return payload, None

    # -- verbs -----------------------------------------------------------------

    def do_OPTIONS(self):  # noqa: N802 — http.server naming
        path, _ = self._route()
        if path == "/search":
            self.send_response(204)
            self.send_header("Access-Control-Allow-Origin", "*")
            self.end_headers()
        else:
            self._send(404, {"detail": "Not Found"})

    def do_GET(self):  # noqa: N802
        path, qs = self._route()
        one = {k: v[-1] for k, v in qs.items()}
        try:
            if path == "/":
                return self._send(200, {
                    "service": "policy_finder",
                    "endpoints": ["/search", "/policies", "/policies/{policy_id}"],
                })
            if path in ("/health", "/healthz", "/ping"):
                return self._send(200, {"status": "ok"})
            if path == "/search":
                try:
                    query, topk, include = parse_search_params(
                        one,
                        query_error="Missing 'query' parameter",
                        topk_error="Invalid 'topk' parameter",
                        include_error="Invalid 'include_documents' parameter",
                    )
                except ValueError as exc:
                    return self._bad(str(exc))
                return self._send(
                    200, self.service.search_payload(query, topk, include)
                )
            if path == "/policies":
                # limit/offset are extension params (the reference route has
                # no pagination): they bound the driver transfer explicitly
                # on large catalogs, and omitted they reproduce the
                # reference's whole-catalog contract byte-for-byte
                try:
                    limit = int(one["limit"]) if "limit" in one else None
                    offset = int(one.get("offset", 0))
                    if (limit is not None and limit < 0) or offset < 0:
                        raise ValueError
                except ValueError:
                    return self._bad("Invalid 'limit' or 'offset' parameter")
                return self._send(
                    200,
                    self.service.policies_payload(
                        one.get("query") or None, max_entries=limit, offset=offset
                    ),
                )
            if path.startswith("/policies/"):
                policy_id = unquote(path[len("/policies/"):])
                payload = self.service.policy_payload(policy_id, include=qs.get("include"))
                if "error" in payload:
                    # ref raises HTTPException(status, detail=code)
                    return self._send(payload.get("status", 404), {"detail": payload["error"]})
                return self._send(200, payload)
            if path == "/clause":
                title = (one.get("title") or "").strip()
                cand = one.get("item") or one.get("clause") or one.get("article")
                clause = cand.strip() if isinstance(cand, str) else ""
                if not title or not clause:
                    return self._bad("Parameters 'title' and 'item' (or 'clause') are required")
                return self._clause(title, clause)
            return self._send(404, {"detail": "Not Found"})
        except Exception as exc:  # defensive: a route bug must not kill the thread
            return self._send(500, {"error": "internal_error", "detail": str(exc)})

    def do_POST(self):  # noqa: N802
        path, _ = self._route()
        try:
            # route dispatch precedes body validation (an unrouted POST is a
            # 404 no matter what the body holds, as in the reference app)
            if path not in ("/search", "/clause"):
                return self._send(404, {"detail": "Not Found"})
            payload, err = self._body_json()
            if err is not None:
                return self._bad(err)
            if path == "/search":
                try:
                    query, topk, include = parse_search_params(
                        payload,
                        query_error="Field 'query' is required",
                        topk_error="Field 'topk' must be a positive integer",
                        include_error="Field 'include_documents' must be boolean",
                    )
                except ValueError as exc:
                    return self._bad(str(exc))
                return self._send(
                    200, self.service.search_payload(query, topk, include)
                )
            if path == "/clause":
                title_value = payload.get("title") or payload.get("policy")
                clause_value = (
                    payload.get("item") or payload.get("clause") or payload.get("article")
                )
                title = title_value.strip() if isinstance(title_value, str) else ""
                clause = clause_value.strip() if isinstance(clause_value, str) else ""
                if not title or not clause:
                    return self._bad("Fields 'title' and 'item' (or 'clause') are required")
                return self._clause(title, clause)
            return self._send(404, {"detail": "Not Found"})
        except Exception as exc:
            return self._send(500, {"error": "internal_error", "detail": str(exc)})

    def _clause(self, title: str, clause: str) -> None:
        payload = self.service.clause_payload(title, clause)
        if "error" in payload and "policy" not in payload:
            return self._send(payload.get("status", 404), {"error": payload["error"]})
        return self._send(200, payload)


class ThreadedServer:
    """Lifecycle shared by the stdlib servers: a ``ThreadingHTTPServer``
    over ``handler`` on a daemon thread; ``port=0`` → ephemeral.

    Usage::

        with PolicyHTTPServer(service) as (host, port):
            urllib.request.urlopen(f"http://{host}:{port}/search?q=...")
    """

    def __init__(self, handler: type, host: str, port: int):
        self._httpd = ThreadingHTTPServer((host, port), handler)
        self._thread: threading.Thread | None = None

    @property
    def address(self) -> tuple[str, int]:
        host, port = self._httpd.server_address[:2]
        return str(host), int(port)

    def start(self) -> tuple[str, int]:
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self.address

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None

    def __enter__(self) -> tuple[str, int]:
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()


class PolicyHTTPServer(ThreadedServer):
    """Threaded stdlib server over a PolicyService."""

    def __init__(self, service: PolicyService, host: str = "127.0.0.1", port: int = 0):
        super().__init__(type("_BoundHandler", (_Handler,), {"service": service}), host, port)
