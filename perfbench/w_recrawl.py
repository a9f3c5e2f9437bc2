"""recrawl_wide: a wide recrawl batch over the synthetic corpus.

``synthetic_pages_df`` (997 hosts plus one hot host holding 20% of pages,
12 links per page, filler paragraphs) seeded with 20% of its pages, bloom
on, no entries parse, no host budget, 2 rounds. Round 1 fetches the other
80% and its ~12 candidate links per page are almost all already seen, so
the per-URL work — Arrow pagination parse, bloom probe, exact anti-join —
dominates. The measured operation is one whole recrawl; the window holds as
many as fit.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from . import gen
from .harness import Result, median, tree_cpu_seconds

SIZES = {
    "full": {"n_pages": 2000, "fillers": 12},
    "tiny": {"n_pages": 300, "fillers": 2},
}
LINKS_PER_PAGE = 12
N_HOSTS = 997
MAX_ROUNDS = 2
MIN_CRAWLS = 2


def bfs_order(seeds: list[str], n_pages: int, max_rounds: int) -> list[str]:
    """Pure-Python FIFO BFS over the corpus's link graph, recomputed from the
    generator's arithmetic (page i links to i+1..i+11 and one long-range
    page), first-wins per level — the reference crawl order."""
    ids = [int(u.rsplit("/", 1)[1].split(".")[0]) for u in seeds]
    visited = set(ids)
    order, level = list(ids), list(ids)
    for _ in range(1, max_rounds):
        nxt = []
        for i in level:
            links = [(i + k) % n_pages for k in range(1, LINKS_PER_PAGE)]
            links.append((i * 48271 + 1) % n_pages)
            for j in links:
                if j not in visited:
                    visited.add(j)
                    nxt.append(j)
        order += nxt
        level = nxt
    return [gen.synthetic_url(i, n_pages, N_HOSTS) for i in order]


def recrawl_corpus(ctx, n_pages: int, fillers: int = 12):
    """The pinned ``synthetic_pages_df`` corpus (997 hosts + hot host, 12
    links per page)."""
    from icrawler_spark.crawl import synthetic_pages_df

    pages = synthetic_pages_df(
        ctx.spark, n_pages=n_pages, n_hosts=N_HOSTS,
        links_per_page=LINKS_PER_PAGE, filler_paragraphs=fillers,
    ).repartition(ctx.cpus * 2).persist()
    pages.count()
    return pages


class Workload:
    name = "recrawl_wide"

    def __init__(self, ctx, size: str):
        self.ctx = ctx
        self.p = SIZES[size]
        self.pages = None

    def _config(self, seeds: list[str], n_pages: int):
        from icrawler_spark.crawl import CrawlConfig

        return CrawlConfig(
            seed_urls=seeds, start_url=seeds[0], max_rounds=MAX_ROUNDS,
            host_budget=None, parse_entries=False, use_bloom=True,
            bloom_capacity=max(n_pages, 1000), n_host_shards=self.ctx.cpus,
        )

    def prepare(self) -> None:
        """Input generation (repeated by the harness for the set-up median)."""
        if self.pages is not None:
            self.pages.unpersist()
        self.pages = recrawl_corpus(self.ctx, self.p["n_pages"], self.p["fillers"])
        self.seeds = gen.recrawl_seeds(self.ctx.seed, self.p["n_pages"])

    def warmup(self) -> None:
        """Untimed: one recrawl of a quarter-size corpus of the same shape —
        the same operators, so JIT and Python workers are warm after it."""
        n = self.p["n_pages"] // 4
        small = recrawl_corpus(self.ctx, n, self.p["fillers"])
        self._crawl(small, gen.recrawl_seeds(self.ctx.seed + 1, n), n)
        small.unpersist()

    def close(self) -> None:
        if self.pages is not None:
            self.pages.unpersist()

    def _crawl(self, pages, seeds, n_pages):
        from icrawler_spark.crawl import CrawlEngine

        ctx = self.ctx
        eng = CrawlEngine(ctx.spark, pages, self._config(seeds, n_pages))
        if ctx.tracer.enabled:
            run_round = eng.run_round

            def traced_round():
                with ctx.tracer.span("crawl.frontier.run_round"), ctx.jobs.op("round"):
                    return run_round()

            eng.run_round = traced_round
        t0 = time.perf_counter()
        with ctx.tracer.span("crawl.run"):
            metrics = eng.run()
        return eng, metrics, time.perf_counter() - t0

    def measure(self, res: Result) -> None:
        ctx, n = self.ctx, self.p["n_pages"]
        want = bfs_order(self.seeds, n, MAX_ROUNDS)
        walls, rates, cpu_ms, crawls = [], [], [], []
        t_end = time.perf_counter() + ctx.seconds
        while time.perf_counter() < t_end or len(walls) < MIN_CRAWLS:
            cpu0 = tree_cpu_seconds()
            eng, metrics, wall = self._crawl(self.pages, self.seeds, n)
            cpu = tree_cpu_seconds() - cpu0
            fetched = sum(m.pages_fetched for m in metrics)
            walls.append(wall)
            rates.append(fetched / wall)
            cpu_ms.append(cpu * 1000.0 / fetched)
            crawls.append(metrics)
            # correctness gate, outside the timed window
            res.check("crawl_order", eng.crawl_order() == want, f"crawl {len(walls)}")
            res.check("seen_urls_empty", eng.seen_urls() == set(), "parse_entries=False")
            res.check("all_fetched", fetched == len(want), f"{fetched} of {len(want)}")
        res.e2e = {
            "throughput_per_s": median(rates),
            "latency_p50_ms": median(walls) * 1000.0,
        }
        res.named = {
            "crawl_urls_per_s": (median(rates), "1/s"),
            "crawl_cpu_ms_per_url": (median(cpu_ms), "ms"),
            "crawl_wall_s": (median(walls), "s"),
            "corpus_pages": (n, "count"),
            "crawls": (len(walls), "count"),
        }
        self.crawls = crawls

    def layers(self, res: Result) -> None:
        ctx = self.ctx
        rounds = ctx.tracer.durations("crawl.frontier.run_round")
        first = [c[0].wall_s for c in self.crawls]
        big = [max(c, key=lambda m: m.pages_fetched).wall_s for c in self.crawls]
        last = self.crawls[-1]
        disc = sum(m.links_discovered for m in last)
        new = sum(m.links_new for m in last)
        L = res.layers
        L["frontier.first_round_s"] = (median(first), "s")
        L["frontier.big_round_s"] = (median(big), "s")
        L["frontier.round_s"] = (median(rounds), "s")
        for k in ("jobs", "stages", "tasks"):
            L[f"frontier.spark_{k}_per_round"] = (ctx.jobs.median_of(k, "round"), "count")
        L["frontier.pages_fetched"] = (sum(m.pages_fetched for m in last), "count")
        L["frontier.pages_missing"] = (sum(m.pages_missing for m in last), "count")
        L["frontier.links_discovered"] = (disc, "count")
        L["frontier.links_new"] = (new, "count")
        L["frontier.seen_kill_ratio"] = (1.0 - new / disc if disc else 0.0, "ratio")
        parse_replays(ctx, self.pages, L, pagination=True, listing=False)
        bloom_replay(ctx, self.pages, L)


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def parse_replays(ctx, pages, L: dict, pagination: bool, listing: bool, sample_rows: int = 1000) -> None:
    """Replay the Arrow parse UDFs over a fixed, pinned page sample and force
    them with a ``noop`` write: pages/s of the parse layer alone."""
    from icrawler_spark.parsers import udfs

    sample = (
        pages.select("url", "html").limit(sample_rows)
        .withColumn("task", F.lit("t"))
        .localCheckpoint(eager=True)
    )
    n = sample.count()
    if pagination:
        inputs = sample.withColumn("start_url", F.col("url"))
        with ctx.tracer.span("parsers.parse_pagination_links") as sp:
            _force(udfs.parse_pagination_links(inputs, slim=True))
        L["parsers.pagination_pages_per_s"] = (n / _dur(sp), "1/s")
    if listing:
        inputs = sample.withColumn("dialect", F.lit("default"))
        with ctx.tracer.span("parsers.parse_listing_entries") as sp:
            _force(udfs.parse_listing_entries(inputs))
        L["parsers.listing_pages_per_s"] = (n / _dur(sp), "1/s")


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def bloom_replay(ctx, pages, L: dict) -> None:
    """Replay the seen filter on xxhash64 transport keys: build over the
    corpus urls (the visited set of a full recrawl), probe with the candidate
    links the pagination parse produces."""
    from icrawler_spark.crawl import bloom
    from icrawler_spark.parsers import udfs

    spark = ctx.spark
    keys = pages.select(F.xxhash64("url").alias("_sk")).localCheckpoint(eager=True)
    cand = (
        udfs.parse_pagination_links(
            pages.select("url", "html", F.lit("t").alias("task"), F.col("url").alias("start_url")),
            slim=True,
        )
        .select(F.xxhash64("url").alias("_sk"))
        .localCheckpoint(eager=True)
    )
    n_cand = cand.count()
    n_keys = keys.count()
    with ctx.tracer.span("seen_filter.build_filter") as sp:
        filt = bloom.build_filter(keys, "_sk", max(n_keys, 1000), 0.01)
    L["seen_filter.build_s"] = (_dur(sp), "s")
    bc = spark.sparkContext.broadcast(filt.to_bytes())
    try:
        with ctx.tracer.span("seen_filter.prefilter_unseen") as sp:
            flagged = bloom.prefilter_unseen(cand, "_sk", bc).localCheckpoint(eager=True)
        maybe = flagged.where(F.col("_maybe_seen")).count()
    finally:
        bc.unpersist(blocking=False)
    L["seen_filter.probe_keys_per_s"] = (n_cand / _dur(sp), "1/s")
    L["seen_filter.maybe_seen_ratio"] = (maybe / n_cand if n_cand else 0.0, "ratio")
    L["seen_filter.probe_keys"] = (n_cand, "count")
