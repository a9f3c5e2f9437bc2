"""Closed-loop HTTP load generator, run as its own process.

    python3 perfbench/loadgen.py --base http://127.0.0.1:PORT --schedule FILE \
        --clients 4 --seconds 10 --min-requests 200 --out FILE

``clients`` threads each send their next request only after the previous
one is fully read. Requests are taken in schedule order (wrapping around)
from a shared cursor until both ``seconds`` have passed and
``min-requests`` have completed. Latency runs from send to response fully
read. Each response is checked for a 2xx status and its route's keys; for
``/search`` the (id, score) list is kept for the caller's oracle check.
"""

from __future__ import annotations

import argparse
import http.client
import json
import resource
import threading
import time

ROUTE_KEYS = {
    "search": ("query", "topk", "result_count", "results"),
    "keyword": ("query", "result_count", "policies"),
    "outline": ("outline",),
    "clause": ("policy", "clause"),
}


def summarize(route: str, body: dict) -> object:
    """The part of a response the caller's oracle compares."""
    if route == "search":
        return [[r["id"], r["score"]] for r in body["results"]]
    if route == "keyword":
        return body["result_count"]
    if route == "outline":
        return len(body["outline"])
    return body["clause"].get("error")


def request(conn: http.client.HTTPConnection, item: dict) -> dict:
    t0 = time.perf_counter()
    conn.request("GET", item["path"])
    resp = conn.getresponse()
    raw = resp.read()
    ms = (time.perf_counter() - t0) * 1000.0
    out = {"i": item["i"], "route": item["route"], "status": resp.status, "ms": ms, "ok": False}
    try:
        body = json.loads(raw.decode("utf-8"))
        keys_ok = all(k in body for k in ROUTE_KEYS[item["route"]])
        out["ok"] = 200 <= resp.status < 300 and keys_ok
        if out["ok"]:
            out["summary"] = summarize(item["route"], body)
    except (ValueError, KeyError, TypeError) as exc:
        out["error"] = repr(exc)
    return out


def run_load(host: str, port: int, schedule: list[dict], clients: int,
             seconds: float, min_requests: int) -> dict:
    lock = threading.Lock()
    cursor = [0]
    results: list[dict] = []
    errors: list[str] = []
    t_start = time.perf_counter()
    deadline = t_start + seconds

    def worker() -> None:
        conn = http.client.HTTPConnection(host, port, timeout=120)
        try:
            while True:
                with lock:
                    if time.perf_counter() >= deadline and cursor[0] >= min_requests:
                        return
                    i = cursor[0]
                    cursor[0] += 1
                item = dict(schedule[i % len(schedule)], i=i)
                try:
                    r = request(conn, item)
                except (OSError, http.client.HTTPException) as exc:
                    conn.close()
                    conn = http.client.HTTPConnection(host, port, timeout=120)
                    r = {"i": i, "route": item["route"], "status": 0, "ms": 0.0,
                         "ok": False, "error": repr(exc)}
                with lock:
                    results.append(r)
        except Exception as exc:  # a client must not die silently
            errors.append(repr(exc))
        finally:
            conn.close()

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t_start
    results.sort(key=lambda r: r["i"])
    return {"wall_s": wall, "clients": clients, "results": results, "errors": errors}


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--base", required=True, help="http://host:port")
    p.add_argument("--schedule", required=True)
    p.add_argument("--clients", type=int, default=4)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--min-requests", type=int, default=1)
    p.add_argument("--out", required=True)
    a = p.parse_args(argv)
    host, port = a.base.split("://", 1)[1].rsplit(":", 1)
    with open(a.schedule, encoding="utf-8") as fh:
        schedule = json.load(fh)
    out = run_load(host, int(port), schedule, a.clients, a.seconds, a.min_requests)
    ru = resource.getrusage(resource.RUSAGE_SELF)
    out["cpu_s"] = ru.ru_utime + ru.ru_stime
    with open(a.out, "w", encoding="utf-8") as fh:
        json.dump(out, fh)
    return 0 if not out["errors"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
