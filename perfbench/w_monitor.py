"""monitor_incremental: the politeness-bound monitor loop on one listing site.

A PBC-style listing site (``gen.monitor_site``) with real HTML detail
pages, multi-page CJK PDFs and DOCX attachments; some rows' detail pages are
missing, so only their PDF downloads. One cycle = seed the start page, run
host-budgeted rounds with entries parse, document downloads and per-round
checkpoints until the frontier drains, then ``extract_entry_texts`` over
``documents ⋈ pages``. Many tiny rounds: per-round fixed cost, state merges,
snapshot writes, downloads and text extraction dominate; parse and
anti-join volume is small.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from pathlib import Path

from pyspark.sql import functions as F

from . import gen
from .harness import Result, median, tree_cpu_seconds
from .w_recrawl import _dur, bloom_replay, parse_replays, recrawl_corpus

HOST = "www.pbc-monitor.test"
START = f"https://{HOST}/list/index.html"
SIZES = {
    "full": {"n_pages": 3, "entries_per_page": 12, "host_budget": 2},
    "tiny": {"n_pages": 2, "entries_per_page": 6, "host_budget": 1},
}


def _bytes(v):
    return v.encode("utf-8") if isinstance(v, str) else v


def dir_bytes(path: Path) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Workload:
    name = "monitor_incremental"

    def __init__(self, ctx, size: str):
        self.ctx = ctx
        self.p = SIZES[size]
        self.pages = None
        self._n_cycles = 0

    def close(self) -> None:
        if self.pages is not None:
            self.pages.unpersist()

    def _site_pages(self, site: dict):
        from icrawler_spark.crawl import site_pages_df

        pages = site_pages_df(self.ctx.spark, site).persist()
        pages.count()
        return pages

    def prepare(self) -> None:
        if self.pages is not None:
            self.pages.unpersist()
        p = self.p
        self.site = gen.monitor_site(self.ctx.seed, HOST, p["n_pages"], p["entries_per_page"])
        self.pages = self._site_pages(self.site)

    def warmup(self) -> None:
        """Untimed: one cycle over a one-page site of the same shape."""
        site = gen.monitor_site(self.ctx.seed + 1, HOST, 1, 6)
        pages = self._site_pages(site)
        self._cycle(pages)
        pages.unpersist()

    def _cycle(self, pages):
        """One monitor cycle; returns (engine, metrics, texts rows, wall,
        extract wall, checkpoint dir)."""
        from icrawler_spark.crawl import CrawlConfig, CrawlEngine
        from icrawler_spark.textpipe.udfs import extract_entry_texts

        ctx = self.ctx
        self._n_cycles += 1
        ck = ctx.run_dir / "checkpoints" / f"cycle{self._n_cycles}"
        cfg = CrawlConfig(
            start_url=START, host_budget=self.p["host_budget"], parse_entries=True,
            download_docs=True, checkpoint_dir=str(ck), n_host_shards=ctx.cpus,
        )
        t0 = time.perf_counter()
        eng = CrawlEngine(ctx.spark, pages, cfg)
        if ctx.tracer.enabled:
            run_round = eng.run_round

            def traced_round():
                with ctx.tracer.span("crawl.frontier.run_round"), ctx.jobs.op("round"):
                    return run_round()

            eng.run_round = traced_round
        with ctx.tracer.span("crawl.run"):
            metrics = eng.run()
        t1 = time.perf_counter()
        with ctx.tracer.span("textpipe.extract_entry_texts"):
            fetched = eng.documents.join(
                pages.select("url", F.col("html").alias("content")), "url", "left"
            ).select("entry_id", "url", "doc_type", "content", F.col("_src_pos").alias("pos"))
            texts = extract_entry_texts(fetched).collect()
        t2 = time.perf_counter()
        return eng, metrics, texts, t2 - t0, t2 - t1, ck

    def measure(self, res: Result) -> None:
        ctx = self.ctx
        walls, extract_walls, round_walls, rates, cpu_ms = [], [], [], [], []
        self.cycles = []
        t_end = time.perf_counter() + ctx.seconds
        while not walls or time.perf_counter() < t_end:
            cpu0 = tree_cpu_seconds()
            eng, metrics, texts, wall, ex_wall, ck = self._cycle(self.pages)
            cpu = tree_cpu_seconds() - cpu0
            n_text = sum(1 for r in texts if r.status == "success")
            cpu_ms.append(cpu * 1000.0 / n_text)
            walls.append(wall)
            extract_walls.append(ex_wall)
            round_walls += [m.wall_s for m in metrics]
            rates.append(n_text / wall)
            self.cycles.append((eng, metrics, texts, ex_wall, ck))
            self._check(res, eng, texts)
        entries = len(self.cycles[-1][2])
        res.e2e = {
            "throughput_per_s": median(rates),
            "latency_p50_ms": median(round_walls) * 1000.0,
        }
        res.named = {
            "monitor_cpu_ms_per_entry": (median(cpu_ms), "ms"),
            "monitor_wall_s": (median(walls), "s"),
            "monitor_round_s": (median(round_walls), "s"),
            "extract_entries_per_s": (
                median([n / w for n, w in zip([entries] * len(walls), extract_walls)]), "1/s"),
            "entries_with_text_per_s": (median(rates), "1/s"),
            "entries": (entries, "count"),
            "rounds": (len(self.cycles[-1][1]), "count"),
            "cycles": (len(walls), "count"),
        }

    def _check(self, res: Result, eng, texts) -> None:
        """Gates against the pure-Python reference model and a driver-side
        ``extract_best`` over the same bytes."""
        from icrawler_spark.crawl.reference_model import crawl_model, crawl_model_docs, download_model
        from icrawler_spark.textpipe.extract import extract_best
        from icrawler_spark.textpipe.udfs import url_suffix

        site = self.site
        order, model_seen, _entries = crawl_model(site, START, host_budget=self.p["host_budget"])
        want_dl, want_docs, _n = download_model(site, crawl_model_docs(site, START))
        res.check("crawl_order", eng.crawl_order() == order)
        res.check("seen_set", eng.seen_urls() == model_seen | want_docs)
        got_dl = {r.url for r in eng.seen.where(F.col("downloaded")).select("url").collect()}
        res.check("downloaded_set", got_dl == want_dl, f"{len(got_dl)} vs {len(want_dl)}")
        docs: dict[str, list] = {}
        for r in eng.documents.select("entry_id", "url", "doc_type", "_src_pos").collect():
            docs.setdefault(r.entry_id, []).append(r)
        res.check("text_rows", len(texts) == len(docs), f"{len(texts)} vs {len(docs)} entries")
        for t in texts:
            rows = sorted(docs.get(t.entry_id, []), key=lambda r: r._src_pos)
            want = extract_best(
                [(_bytes(site[r.url]) if r.url in site else None, r.doc_type, url_suffix(r.url))
                 for r in rows]
            )
            res.check("entry_text", t.text == want.text and t.status == want.status, t.entry_id)

    def layers(self, res: Result) -> None:
        from icrawler_spark.crawl.downloads import run_download_stage
        from icrawler_spark.crawl.reference_model import crawl_model_docs, download_model
        from icrawler_spark.crawl import site_pages_df

        ctx, L = self.ctx, res.layers
        eng, metrics, texts, _ex_wall, ck = self.cycles[-1]
        disc = sum(m.links_discovered for m in metrics)
        new = sum(m.links_new for m in metrics)
        L["frontier.round_s"] = (median(ctx.tracer.durations("crawl.frontier.run_round")), "s")
        L["frontier.first_round_s"] = (median([c[1][0].wall_s for c in self.cycles]), "s")
        L["frontier.big_round_s"] = (
            median([max(c[1], key=lambda m: m.pages_fetched).wall_s for c in self.cycles]), "s")
        for k in ("jobs", "stages", "tasks"):
            L[f"frontier.spark_{k}_per_round"] = (ctx.jobs.median_of(k, "round"), "count")
        L["frontier.rounds"] = (len(metrics), "count")
        L["frontier.pages_fetched"] = (sum(m.pages_fetched for m in metrics), "count")
        L["frontier.pages_missing"] = (sum(m.pages_missing for m in metrics), "count")
        L["frontier.links_discovered"] = (disc, "count")
        L["frontier.links_new"] = (new, "count")
        L["frontier.seen_kill_ratio"] = (1.0 - new / disc if disc else 0.0, "ratio")
        L["downloads.files_downloaded"] = (sum(m.files_downloaded for m in metrics), "count")
        rounds = sorted(p for p in ck.iterdir() if p.name.startswith("round="))
        L["state.checkpoint_bytes_per_round"] = (median([dir_bytes(p) for p in rounds]), "B")
        L["textpipe.extract_s"] = (median([c[3] for c in self.cycles]), "s")
        for k, n in Counter(r.status for r in texts).items():
            L[f"textpipe.status.{k}"] = (n, "count")
        for k, n in Counter(r.source_type for r in texts).items():
            L[f"textpipe.source.{k}"] = (n, "count")

        # download stage replay on the final state, every document undownloaded
        fresh = eng.seen.withColumn("downloaded", F.lit(False)).localCheckpoint(eager=True)
        with ctx.tracer.span("downloads.run_download_stage") as sp:
            seen2, _docs2, _m = run_download_stage(ctx.spark, self.pages, fresh, eng.documents)
            got = {r.url for r in seen2.where(F.col("downloaded")).select("url").collect()}
        L["downloads.stage_s"] = (_dur(sp), "s")
        want, _all, _n = download_model(self.site, crawl_model_docs(self.site, START))
        res.check("download_replay", got == want)

        # listing parse replay over a fixed sample: the listing pages, repeated
        listing = {u: h for u, h in self.site.items() if "/list/index" in u}
        sample = site_pages_df(
            ctx.spark, {f"{u}?replay={i}": h for i in range(40) for u, h in listing.items()}
        )
        parse_replays(ctx, sample, L, pagination=False, listing=True, sample_rows=10_000)
        # the per-URL layers at volume, on recrawl_wide's corpus shape (the
        # monitor's own link volume is too small to time them)
        corpus = recrawl_corpus(ctx, n_pages=1000)
        parse_replays(ctx, corpus, L, pagination=True, listing=False)
        bloom_replay(ctx, corpus, L)
        corpus.unpersist()
