"""policy_api: read-only serving over a seeded policy catalog.

``PolicyService.from_state`` over generated entries, documents and
clause-bearing texts, served by ``PolicyHTTPServer``. A separate
load-generator process (``loadgen.py``) runs a closed loop with 4 clients
over a seeded request mix: /search 60%, /policies?query= 10%,
/policies/{id}?include=outline 15%, /clause 15%. The crawl layers are
bypassed; every request is one or more Spark jobs, so scheduler and driver
contention shows.
"""

from __future__ import annotations

import http.client
import json
import subprocess
import sys
import time
from pathlib import Path

from . import gen, loadgen
from .harness import Result, median, percentile, tree_cpu_seconds
from .oracles import SearchOracle

SIZES = {
    "full": {"n_entries": 1000, "min_requests": 200},
    "tiny": {"n_entries": 200, "min_requests": 40},
}
CLIENTS = 4
SCHEDULE_LEN = 1000
WARMUP_REQUESTS = 10
DIRECT_SAMPLE = 30  # requests replayed directly and over HTTP (traced run)


class Workload:
    name = "policy_api"

    def __init__(self, ctx, size: str):
        self.ctx = ctx
        self.p = SIZES[size]
        self.server = None
        self.frames = ()
        self.index_build_s: list[float] = []

    def close(self) -> None:
        if self.server is not None:
            self.server.stop()
            self.server = None
        for df in self.frames:
            df.unpersist()

    def prepare(self) -> None:
        from icrawler_spark.serve import PolicyService

        spark = self.ctx.spark
        self.close()
        rows = gen.policy_catalog(self.ctx.seed, self.p["n_entries"])
        self.rows = rows
        entries = spark.createDataFrame(
            rows[0], "entry_id string, task string, serial int, title string, remark string")
        documents = spark.createDataFrame(
            rows[1], "entry_id string, url string, doc_type string, title string, _src_pos long")
        texts = spark.createDataFrame(rows[2], "entry_id string, text string")
        documents, texts = documents.persist(), texts.persist()
        documents.count()
        texts.count()
        t0 = time.perf_counter()
        self.svc = PolicyService.from_state(entries, documents, texts)
        self.svc.index.count()
        self.index_build_s.append(time.perf_counter() - t0)
        self.frames = (documents, texts, self.svc.index)

    def warmup(self) -> None:
        from icrawler_spark.httpapi import PolicyHTTPServer

        self.schedule = gen.request_schedule(self.ctx.seed, self.p["n_entries"], SCHEDULE_LEN)
        self.server = PolicyHTTPServer(self.svc)
        self.host, self.port = self.server.start()
        # untimed: the first requests of the mix, directly and over HTTP
        for item in self.schedule[:WARMUP_REQUESTS]:
            self._direct(item)
        self._load(1, 0.0, WARMUP_REQUESTS)

    def _direct(self, item: dict):
        """The payload call the HTTP route makes for this request."""
        svc, key = self.svc, item["key"]
        if item["route"] == "search":
            return svc.search_payload(key, 5)
        if item["route"] == "keyword":
            return svc.policies_payload(key)
        if item["route"] == "outline":
            return svc.policy_payload(str(key), include=["outline"])
        return svc.clause_payload(str(key[0]), key[1])

    def _load(self, clients: int, seconds: float, min_requests: int) -> dict:
        """Run the load generator as its own process and read its results."""
        run_dir = self.ctx.run_dir
        sched, out = run_dir / "schedule.json", run_dir / f"load-{clients}.json"
        sched.write_text(json.dumps(self.schedule, ensure_ascii=False), encoding="utf-8")
        cmd = [
            sys.executable, str(Path(__file__).with_name("loadgen.py")),
            "--base", f"http://{self.host}:{self.port}", "--schedule", str(sched),
            "--clients", str(clients), "--seconds", str(seconds),
            "--min-requests", str(min_requests), "--out", str(out),
        ]
        subprocess.run(cmd, check=True, timeout=150)
        return json.loads(out.read_text(encoding="utf-8"))

    def measure(self, res: Result) -> None:
        cpu0 = tree_cpu_seconds()
        clients = min(CLIENTS, self.ctx.cpus)  # one load process, at most nproc threads
        with self.ctx.tracer.span("httpapi.load", clients=clients):
            load = self._load(clients, self.ctx.seconds, self.p["min_requests"])
        # the load generator's own CPU is the client's, not the service's
        cpu = tree_cpu_seconds() - cpu0 - load["cpu_s"]
        self._check(res, load)
        ok = [r for r in load["results"] if r["ok"]]
        lat = [r["ms"] for r in ok]
        self.p50_4 = median(lat)
        res.e2e = {
            "throughput_per_s": len(ok) / load["wall_s"],
            "latency_p50_ms": self.p50_4,
        }
        res.named = {
            "api_cpu_ms_per_request": (cpu * 1000.0 / len(load["results"]), "ms"),
            "api_latency_p50_ms": (self.p50_4, "ms"),
            "api_latency_p95_ms": (percentile(lat, 95), "ms"),
            "api_qps": (len(ok) / load["wall_s"], "1/s"),
            "requests": (len(load["results"]), "count"),
            "catalog_entries": (self.p["n_entries"], "count"),
        }

    def _check(self, res: Result, load: dict) -> None:
        """Every response 2xx with its route's keys; /search top-k equal to
        the independent re-scoring; keyword counts equal a substring scan."""
        entries, documents, texts = self.rows
        oracle = SearchOracle(entries, documents)
        want_search: dict[str, list] = {}
        text_of = dict(texts)
        for r in load["results"]:
            item = self.schedule[r["i"] % len(self.schedule)]
            ok = r["ok"]
            if ok and item["route"] == "search":
                if item["key"] not in want_search:
                    want_search[item["key"]] = oracle.topk(item["key"], 5)
                ok = r["summary"] == want_search[item["key"]]
            elif ok and item["route"] == "keyword":
                ok = r["summary"] == sum(
                    1 for e in entries if item["key"] in e[3] or item["key"] in text_of[e[0]])
            elif ok and item["route"] == "outline":
                ok = r["summary"] > 0
            elif ok:
                ok = r["summary"] is None  # clause matched, no error code
            res.check(item["route"], ok, f"request {r['i']}: {r.get('error', '')}")
        for e in load["errors"]:
            res.check("client", False, e)

    def layers(self, res: Result) -> None:
        ctx, L = self.ctx, res.layers
        L["search.index_build_s"] = (median(self.index_build_s), "s")
        by_route: dict[str, list] = {}
        http_ms, overhead = [], []
        conn = http.client.HTTPConnection(self.host, self.port, timeout=120)
        try:
            # each sampled request directly, then over HTTP from one client:
            # the pairwise difference is the HTTP layer's own cost
            for i, item in enumerate(self.schedule[:DIRECT_SAMPLE]):
                t0 = time.perf_counter()
                with ctx.tracer.span(f"serve.{item['route']}_payload"), ctx.jobs.op(item["route"]):
                    self._direct(item)
                direct = (time.perf_counter() - t0) * 1000.0
                by_route.setdefault(item["route"], []).append(direct)
                with ctx.tracer.span("httpapi.request", clients=1):
                    r = loadgen.request(conn, dict(item, i=i))
                res.check(f"{item['route']} (1 client)", r["ok"], f"request {i}")
                http_ms.append(r["ms"])
                overhead.append(r["ms"] - direct)
        finally:
            conn.close()
        names = {"search": "search.search_ms", "keyword": "search.keyword_ms",
                 "outline": "serve.outline_ms", "clause": "serve.clause_ms"}
        for route, name in names.items():
            if route in by_route:
                L[name] = (median(by_route[route]), "ms")
            L[f"spark.jobs_per_{route}"] = (ctx.jobs.median_of("jobs", route), "count")
        L["httpapi.p50_1_client_ms"] = (median(http_ms), "ms")
        L["httpapi.overhead_ms"] = (median(overhead), "ms")
        L["httpapi.contention_ms"] = (self.p50_4 - median(http_ms), "ms")
