"""Crawl-engine semantics: BFS order, seen-set, politeness, bloom, resume.

Oracle = ``crawl/reference_model.py``, the pure-Python transcription of the
reference's FIFO walk (ref pbc_monitor.py:188-260)."""

from __future__ import annotations

import shutil

import numpy as np
import pandas as pd
import pytest

from icrawler_spark.crawl import CrawlConfig, CrawlEngine, build_site, site_pages_df
from icrawler_spark.crawl import bloom as bloom_mod
from icrawler_spark.crawl.bloom import BloomFilter
from icrawler_spark.crawl.reference_model import crawl_model


@pytest.fixture(scope="module")
def site():
    return build_site(n_pages=4, entries_per_page=3)


@pytest.fixture(scope="module")
def pages(spark, site):
    return site_pages_df(spark, site).cache()


START = "https://www.example.test/list/index.html"


def test_bfs_order_and_seen_parity(spark, site, pages):
    eng = CrawlEngine(spark, pages, CrawlConfig(start_url=START, max_rounds=20))
    eng.run()
    ref_order, ref_seen, ref_entries = crawl_model(site, START)
    assert eng.crawl_order() == ref_order
    assert eng.seen_urls() == ref_seen
    # every listing page visited exactly once
    assert len(ref_order) == len(set(ref_order)) == 4


def test_entries_match_model(spark, site, pages):
    eng = CrawlEngine(spark, pages, CrawlConfig(start_url=START, max_rounds=20))
    eng.run()
    _, _, ref_entries = crawl_model(site, START)
    got = {
        (r.title, r.serial)
        for r in eng.entries.select("title", "serial").collect()
    }
    want = {(t, s) for t, s, _r, _d in ref_entries}
    assert got == want
    # documents carry every attachment url from the model
    doc_urls = {r.url for r in eng.documents.select("url").collect()}
    want_urls = {u for _t, _s, _r, docs in ref_entries for u in docs}
    assert doc_urls == want_urls


def test_politeness_budget_parity(spark, site, pages):
    cfg = CrawlConfig(start_url=START, max_rounds=30, host_budget=1)
    eng = CrawlEngine(spark, pages, cfg)
    eng.run()
    ref_order, ref_seen, _ = crawl_model(site, START, host_budget=1)
    assert eng.crawl_order() == ref_order
    assert eng.seen_urls() == ref_seen
    # budget respected: ≤1 fetch per host per round
    per_round = (
        eng.visited.groupBy("round").count().orderBy("round").collect()
    )
    assert all(r["count"] <= 1 for r in per_round)
    # budget stretches the crawl over more rounds than the unbudgeted BFS
    assert len(per_round) == len(ref_order)


def test_priority_frontier_reorders_under_budget(spark, site, pages):
    """priority_df turns the FIFO frontier into a priority queue: with a
    1-per-host budget and all pagination pages discovered in round 0,
    higher-priority pages are fetched FIRST (reverse of FIFO), while the
    final seen-set/completeness is unchanged."""
    base = "https://www.example.test/list"
    prio = spark.createDataFrame(
        [(f"{base}/index_{k}.html", k) for k in (1, 2, 3)],
        "url string, priority long",
    )
    cfg = CrawlConfig(start_url=START, max_rounds=30, host_budget=1)
    eng = CrawlEngine(spark, pages, cfg, priority_df=prio)
    eng.run()
    fifo_order, fifo_seen, _ = crawl_model(site, START, host_budget=1)
    got = eng.crawl_order()
    # importance-first: index_3, index_2, index_1 after the seed
    assert got == [
        START,
        f"{base}/index_3.html",
        f"{base}/index_2.html",
        f"{base}/index_1.html",
    ]
    assert got != fifo_order
    assert eng.seen_urls() == fifo_seen  # reordered, never dropped
    per_round = eng.visited.groupBy("round").count().collect()
    assert all(r["count"] <= 1 for r in per_round)  # budget still respected


def test_priority_frontier_duplicate_scores_no_fanout(spark, site, pages):
    """A score table with DUPLICATE urls must not fan out pending rows
    through the per-round left join (ADVICE r3): the engine aggregates to
    one row per url at pin time (max priority wins), so visited has no
    duplicate rows and no url consumes more than one host-budget slot."""
    base = "https://www.example.test/list"
    rows = [(f"{base}/index_{k}.html", k) for k in (1, 2, 3)]
    dup = spark.createDataFrame(
        rows + [(u, p - 10) for u, p in rows] + rows,  # 3 rows per url
        "url string, priority long",
    )
    cfg = CrawlConfig(start_url=START, max_rounds=30, host_budget=1)
    eng = CrawlEngine(spark, pages, cfg, priority_df=dup)
    eng.run()
    # identical outcome to the clean 1-row-per-url score table (max wins)
    assert eng.crawl_order() == [
        START,
        f"{base}/index_3.html",
        f"{base}/index_2.html",
        f"{base}/index_1.html",
    ]
    visited = eng.visited.collect()
    assert len(visited) == len({r.url for r in visited})  # no dup rows
    per_round = eng.visited.groupBy("round").count().collect()
    assert all(r["count"] <= 1 for r in per_round)  # budget still respected


def test_priority_frontier_default_is_fifo(spark, site, pages):
    """No priority_df (or all-equal scores) ⇒ exactly the reference FIFO."""
    prio = spark.createDataFrame(
        [("https://www.example.test/list/index_2.html", 0)],
        "url string, priority long",
    )
    cfg = CrawlConfig(start_url=START, max_rounds=30, host_budget=1)
    eng = CrawlEngine(spark, pages, cfg, priority_df=prio)
    eng.run()
    ref_order, ref_seen, _ = crawl_model(site, START, host_budget=1)
    assert eng.crawl_order() == ref_order
    assert eng.seen_urls() == ref_seen


def test_missing_pages_marked_visited(spark, site):
    # drop one listing page from the corpus: engine must mark it missing and
    # never retry it, matching the model's visited semantics
    partial = {k: v for k, v in site.items() if "index_2" not in k}
    pages = site_pages_df(spark, partial)
    eng = CrawlEngine(spark, pages, CrawlConfig(start_url=START, max_rounds=20))
    eng.run()
    ref_order, ref_seen, _ = crawl_model(partial, START)
    assert eng.crawl_order() == ref_order
    statuses = {r.url: r.status for r in eng.visited.collect()}
    missing = [u for u, s in statuses.items() if s == "missing"]
    assert missing == ["https://www.example.test/list/index_2.html"]
    assert eng.seen_urls() == ref_seen


def test_resume_from_checkpoint(spark, site, pages, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    full = CrawlEngine(spark, pages, CrawlConfig(start_url=START, max_rounds=20))
    full.run()
    want_order = full.crawl_order()
    want_seen = full.seen_urls()

    # run only 1 round, "crash", then resume with a fresh engine
    partial_cfg = CrawlConfig(start_url=START, max_rounds=1, checkpoint_dir=ckpt)
    CrawlEngine(spark, pages, partial_cfg).run()

    resumed = CrawlEngine(
        spark, pages, CrawlConfig(start_url=START, max_rounds=20, checkpoint_dir=ckpt)
    )
    resumed.run()
    assert resumed.crawl_order() == want_order
    assert resumed.seen_urls() == want_seen
    shutil.rmtree(ckpt, ignore_errors=True)


def test_uncommitted_round_is_ignored_on_resume(spark, site, pages, tmp_path):
    ckpt = str(tmp_path / "ckpt2")
    cfg = CrawlConfig(start_url=START, max_rounds=2, checkpoint_dir=ckpt)
    eng = CrawlEngine(spark, pages, cfg)
    eng.run()
    # simulate a crash mid-round-2: tables written but no commit marker
    import os

    r2 = os.path.join(ckpt, "round=000002")
    os.makedirs(r2, exist_ok=True)
    eng.visited.write.mode("overwrite").parquet(os.path.join(r2, "visited"))
    store_last = CrawlEngine(
        spark, pages, CrawlConfig(start_url=START, checkpoint_dir=ckpt)
    )
    assert store_last.resume_or_init() == 2  # resumes AFTER round 1 (committed)
    shutil.rmtree(ckpt, ignore_errors=True)


def test_resume_drops_legacy_depth_column(spark, site, pages, tmp_path):
    """A checkpoint whose ``pending`` still carries a ``depth`` column (the
    older frontier schema) resumes to the same host-budgeted crawl: the
    deferred rows union with the new frontier, so their columns must match."""
    import os

    from pyspark.sql import functions as F

    ckpt = str(tmp_path / "ckpt_depth")
    kw = dict(start_url=START, host_budget=1)
    full = CrawlEngine(spark, pages, CrawlConfig(max_rounds=30, **kw))
    full.run()

    CrawlEngine(spark, pages, CrawlConfig(max_rounds=1, checkpoint_dir=ckpt, **kw)).run()
    path = os.path.join(ckpt, "round=000000", "pending")
    legacy = spark.read.parquet(path).withColumn("depth", F.lit(1))
    legacy.write.parquet(path + "_legacy")
    shutil.rmtree(path)
    os.rename(path + "_legacy", path)
    assert "depth" in spark.read.parquet(path).columns

    resumed = CrawlEngine(
        spark, pages, CrawlConfig(max_rounds=30, checkpoint_dir=ckpt, **kw)
    )
    resumed.run()
    assert "depth" not in resumed.pending.columns
    ref_order, ref_seen, _ = crawl_model(site, START, host_budget=1)
    assert resumed.crawl_order() == full.crawl_order() == ref_order
    assert resumed.seen_urls() == full.seen_urls() == ref_seen
    shutil.rmtree(ckpt, ignore_errors=True)


def test_visited_compaction_preserves_semantics(spark, site, pages, monkeypatch):
    """Compacting after every round must not change crawl order or
    seen-set — the compacted snapshot replaces the delta union
    transparently."""
    monkeypatch.setattr(CrawlEngine, "_COMPACT_VISITED_EVERY", 1)
    eng = CrawlEngine(spark, pages, CrawlConfig(start_url=START, max_rounds=20))
    eng.run()
    ref_order, ref_seen, _ = crawl_model(site, START)
    assert eng.crawl_order() == ref_order
    assert eng.seen_urls() == ref_seen
    # the union fan-in actually collapsed
    assert len(eng._visited_parts) == 1


def test_resume_prefers_compacted_snapshot(spark, site, pages, tmp_path, monkeypatch):
    """Resume from a checkpoint whose rounds carry visited_full snapshots:
    the resumed crawl must equal the uninterrupted one."""
    ckpt = str(tmp_path / "ckpt_compact")
    full = CrawlEngine(spark, pages, CrawlConfig(start_url=START, max_rounds=20))
    full.run()

    monkeypatch.setattr(CrawlEngine, "_COMPACT_VISITED_EVERY", 1)
    CrawlEngine(
        spark, pages,
        CrawlConfig(start_url=START, max_rounds=2, checkpoint_dir=ckpt),
    ).run()
    import os

    assert any(
        os.path.isdir(os.path.join(ckpt, d, "visited_full"))
        for d in os.listdir(ckpt)
    )
    resumed = CrawlEngine(
        spark, pages,
        CrawlConfig(start_url=START, max_rounds=20, checkpoint_dir=ckpt),
    )
    resumed.run()
    assert resumed.crawl_order() == full.crawl_order()
    assert resumed.seen_urls() == full.seen_urls()
    shutil.rmtree(ckpt, ignore_errors=True)


def test_distributed_seed_df_matches_list_seeding(spark, site, pages):
    """CrawlEngine(seeds_df=...) must reproduce the list-seeded crawl
    exactly — order, seen-set, and position bookkeeping (sparse positions
    are allowed: only uniqueness and order matter)."""
    seeds = [START, "https://www.example.test/list/index_2.html"]
    by_list = CrawlEngine(
        spark, pages, CrawlConfig(seed_urls=seeds, start_url=START, max_rounds=20)
    )
    by_list.run()
    # sparse, order-preserving positions (0, 7) instead of (0, 1)
    seeds_df = spark.createDataFrame(
        [(seeds[0], 0), (seeds[1], 7)], "url string, pos long"
    )
    by_df = CrawlEngine(
        spark, pages, CrawlConfig(start_url=START, max_rounds=20), seeds_df=seeds_df
    )
    by_df.run()
    assert by_df.crawl_order() == by_list.crawl_order()
    assert by_df.seen_urls() == by_list.seen_urls()


def _int64_keys(rng, n: int) -> np.ndarray:
    return rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64, endpoint=True)


def test_bloom_no_false_negatives():
    rng = np.random.default_rng(11)
    bf = BloomFilter(capacity=10_000, fpp=0.01)
    added = pd.Series(_int64_keys(rng, 5000))
    bf.add_many(added)
    assert bf.might_contain_many(added).all()
    # fp rate sane on disjoint probes
    probes = pd.Series(np.setdiff1d(_int64_keys(rng, 5000), added))
    fpr = bf.might_contain_many(probes).mean()
    assert fpr < 0.05


def test_bloom_roundtrip_and_merge():
    keys = _int64_keys(np.random.default_rng(12), 3)
    a = BloomFilter(capacity=1000)
    b = BloomFilter(capacity=1000)
    a.add_many(pd.Series(keys[:2]))
    b.add_many(pd.Series(keys[2:]))
    merged = BloomFilter.from_bytes(a.to_bytes()).merge(b)
    assert merged.might_contain_many(pd.Series(keys)).all()


def test_build_filter_matches_add_many(spark):
    """The JVM build sets exactly the bits ``add_many`` sets (negative keys,
    0 and the int64 edges included, empty partitions in the input), an empty
    input gives an all-zero bitmap, and no Python worker runs."""
    edges = np.array([0, 1, -1, 2**63 - 1, -(2**63), -(2**63) + 1, 2**32, -(2**32)], dtype=np.int64)
    keys = np.concatenate([_int64_keys(np.random.default_rng(13), 3000), edges])
    sc = spark.sparkContext
    rows = sc.parallelize([(int(k),) for k in keys], 4).union(sc.parallelize([], 4))
    df = spark.createDataFrame(rows, "k long")
    assert 0 in df.rdd.glom().map(len).collect()

    want = BloomFilter(capacity=5000)
    want.add_many(keys)
    assert bloom_mod.build_filter(df, "k", 5000).to_bytes() == want.to_bytes()

    empty = bloom_mod.build_filter(spark.createDataFrame([], "k long"), "k", 5000)
    assert empty.to_bytes() == BloomFilter(capacity=5000).to_bytes()
    assert not empty.bits.any()

    masks = bloom_mod._word_masks(df, "k", want)
    masks.collect()
    plan = masks._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    for node in ("MapInPandas", "PythonUDF", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan


def test_bloom_disabled_same_result(spark, site, pages):
    e1 = CrawlEngine(spark, pages, CrawlConfig(start_url=START, use_bloom=False))
    e1.run()
    e2 = CrawlEngine(spark, pages, CrawlConfig(start_url=START, use_bloom=True))
    e2.run()
    assert e1.crawl_order() == e2.crawl_order()
    assert e1.seen_urls() == e2.seen_urls()


def test_per_partition_lineage_checkpointed(spark, site, pages, tmp_path):
    ckpt = str(tmp_path / "ckpt3")
    eng = CrawlEngine(
        spark, pages, CrawlConfig(start_url=START, max_rounds=2, checkpoint_dir=ckpt)
    )
    eng.run()
    lineage = spark.read.parquet(f"{ckpt}/round=000000/lineage")
    rows = lineage.collect()
    assert {c for c in lineage.columns} == {"shard", "n_urls", "n_hosts", "round"}
    assert sum(r.n_urls for r in rows) == 1  # round 0 fetched the seed
    shutil.rmtree(ckpt, ignore_errors=True)


def _fanout_round0(spark):
    """Round 0 of a crawl from 20 seeds with 12 links per page (~240
    candidate links); returns the engine after the round."""
    from icrawler_spark.crawl import synthetic_pages_df, synthetic_seed_df

    eng = CrawlEngine(
        spark,
        synthetic_pages_df(spark, n_pages=400, n_hosts=37, links_per_page=12),
        CrawlConfig(
            start_url="https://hot.example.test/p/0.html",
            max_rounds=1,
            parse_entries=False,
        ),
        seeds_df=synthetic_seed_df(spark, n_pages=400, stride=20, n_hosts=37),
    )
    eng.run()
    return eng


@pytest.fixture(scope="module")
def fanout_dense_pending(spark):
    """(discovery_pos, url) of the round-0 frontier from the single-window
    small-round path (default big-round threshold)."""
    eng = _fanout_round0(spark)
    assert eng._last_big_round is False
    return sorted((r.discovery_pos, r.url) for r in eng.pending.collect())


def test_high_fanout_round0_routes_distributed(spark, monkeypatch, fanout_dense_pending):
    """Big-round routing must use the OBSERVED link count, not last round's
    fanout estimate: a round-0 fanout explosion (many links from few pages,
    no previous round to estimate from) used to plan the single-partition
    global window (the r2 stall risk). links_per_page=12 on 20 seeds →
    ~240 candidate links > threshold 200, while the old estimate
    (n_fetched × default fanout 4.0 = 80) stays under it."""
    monkeypatch.setattr(CrawlEngine, "_BIG_ROUND_THRESHOLD", 200)
    eng = _fanout_round0(spark)
    assert eng.metrics[0].links_discovered > 200
    assert eng._last_big_round is True
    # sparse big-round positions must be FIFO-unique and ORDER-IDENTICAL to
    # the dense small-round path over the same input (density itself is
    # traded away for the shuffle-free assignment — no consumer indexes by
    # position, they all sort by it)
    pend = [(r.discovery_pos, r.url) for r in eng.pending.collect()]
    assert len({p for p, _ in pend}) == len(pend)  # unique
    assert [u for _, u in sorted(pend)] == [u for _, u in fanout_dense_pending]


def test_big_round_past_position_ceiling_uses_dense_chunked(
    spark, monkeypatch, fanout_dense_pending
):
    """A big round whose sparse id span would reach _POS_SPARSE_CEILING falls
    back to the dense chunked window. Its positions are dense, so they equal
    the single-window small-round path's exactly, not just in order."""
    calls = []
    real = CrawlEngine._assign_positions_dense_chunked

    def spy(self, pinned, order):
        calls.append(1)
        return real(self, pinned, order)

    monkeypatch.setattr(CrawlEngine, "_assign_positions_dense_chunked", spy)
    monkeypatch.setattr(CrawlEngine, "_BIG_ROUND_THRESHOLD", 200)
    monkeypatch.setattr(CrawlEngine, "_POS_SPARSE_CEILING", 1)
    eng = _fanout_round0(spark)
    assert eng._last_big_round is True
    assert calls == [1]
    pend = sorted((r.discovery_pos, r.url) for r in eng.pending.collect())
    assert pend == fanout_dense_pending


def test_position_ceiling_keeps_packed_src_pos_inside_int64():
    """Any position below _POS_SPARSE_CEILING, with entry_pos and the
    document index at their stride maxima, packs into a documents _src_pos
    ``(pos * ENTRY + entry_pos) * DOC + doc index`` that fits a signed long."""
    e, d = CrawlEngine._ENTRY_STRIDE, CrawlEngine._DOC_STRIDE
    top = CrawlEngine._POS_SPARSE_CEILING - 1
    assert (top * e + (e - 1)) * d + (d - 1) < 1 << 63


def test_multi_snapshot_corpus_does_not_fan_out_metrics(spark, site, pages):
    """A corpus carrying several (url, warc_ts) snapshot rows per url must
    produce the same round metrics, visited rows, and crawl order as the
    single-snapshot corpus — the fetch-join fanout previously inflated
    n_batch/n_fetched (negative n_deferred) and duplicated visited rows."""
    from pyspark.sql import functions as F

    single = CrawlEngine(spark, pages, CrawlConfig(start_url=START, max_rounds=20))
    single.run()

    doubled = pages.unionByName(
        pages.withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 SECOND"))
    )
    multi = CrawlEngine(spark, doubled, CrawlConfig(start_url=START, max_rounds=20))
    multi.run()

    assert multi.crawl_order() == single.crawl_order()
    assert multi.seen_urls() == single.seen_urls()
    for ms, mm in zip(single.metrics, multi.metrics):
        assert (mm.pages_fetched, mm.pages_missing, mm.links_new) == (
            ms.pages_fetched,
            ms.pages_missing,
            ms.links_new,
        )
        # parse runs once per snapshot (S×, documented) — never S²× (the
        # join-back fanout this test guards against)
        assert mm.links_discovered <= 2 * ms.links_discovered
    vis = multi.visited.select("url").collect()
    assert len(vis) == len({r.url for r in vis})  # no duplicate visited rows

    # the scale path: latest_snapshot_view collapses the corpus once at
    # read, restoring single-snapshot metrics EXACTLY (incl. parse counts)
    from icrawler_spark.crawl import latest_snapshot_view

    viewed = CrawlEngine(
        spark, latest_snapshot_view(doubled), CrawlConfig(start_url=START, max_rounds=20)
    )
    viewed.run()
    assert viewed.crawl_order() == single.crawl_order()
    for ms, mv in zip(single.metrics, viewed.metrics):
        assert (mv.pages_fetched, mv.links_discovered, mv.links_new, mv.entries_seen) == (
            ms.pages_fetched,
            ms.links_discovered,
            ms.links_new,
            ms.entries_seen,
        )


def test_bucketed_pages_join_has_no_corpus_exchange(spark, tmp_path):
    """North-rule Iceberg layout stand-in (VERDICT r2 item 4): with the
    corpus stored as a parquet table bucketed by url, the fetch join's pages
    side scans pre-bucketed files — the only Exchange in the join is the
    (small) batch side, never the corpus."""
    from pyspark.sql import functions as F

    from icrawler_spark.crawl import synthetic_pages_df

    pages = synthetic_pages_df(spark, n_pages=5000, n_hosts=53)
    spark.sql("DROP TABLE IF EXISTS pages_b_test")
    (
        pages.write.bucketBy(8, "url")
        .sortBy("url")
        .option("path", str(tmp_path / "pages_b"))
        .saveAsTable("pages_b_test")
    )
    try:
        pt = spark.table("pages_b_test")
        batch = spark.range(0, 2000).select(
            F.concat(
                F.lit("https://host-"),
                (F.col("id") % 53).cast("string"),
                F.lit(".example.test/p/"),
                F.col("id").cast("string"),
                F.lit(".html"),
            ).alias("url"),
            F.col("id").alias("discovery_pos"),
        )
        # same shape as CrawlEngine's above-threshold fetch join
        j = pt.join(batch.hint("shuffle_hash"), "url", "inner").select(
            "url", "html", "discovery_pos"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        assert plan.count("Exchange") == 1, plan  # batch side only
    finally:
        spark.sql("DROP TABLE IF EXISTS pages_b_test")


def test_keysonly_cache_on_plain_shuffle_hash_matches_plain(spark, monkeypatch):
    """The fetch join caches only the fetched urls unless the image harvest
    needs the html a second time (the page parse reads it once; a once-read
    payload persist was a pure regression — 537 s vs ~130 s on the
    1.28M-URL big round at 16c, BENCH/r4_ab_bisect.jsonl). Forcing every
    round onto the plain-corpus shuffle-hash path must not change crawl
    order or the seen-set."""
    from icrawler_spark.crawl import build_site, site_pages_df

    site = build_site(n_pages=4, entries_per_page=3)
    pages = site_pages_df(spark, site)
    plain = CrawlEngine(spark, pages, CrawlConfig(start_url=START, max_rounds=20))
    plain.run()

    # every batch takes the shuffle-hash join
    monkeypatch.setattr(CrawlEngine, "_BROADCAST_BATCH_THRESHOLD", 0)
    sh = CrawlEngine(spark, pages, CrawlConfig(start_url=START, max_rounds=20))
    sh.run()
    assert sh.crawl_order() == plain.crawl_order()
    assert sh.seen_urls() == plain.seen_urls()


def test_crawl_from_bucketed_table_matches_plain(spark, tmp_path, monkeypatch):
    """Crawling from the bucketed table read must produce identical rounds,
    order, and seen-set as the plain DataFrame corpus."""
    from icrawler_spark.crawl import build_site, site_pages_df

    site = build_site(n_pages=4, entries_per_page=3)
    pages = site_pages_df(spark, site)
    plain = CrawlEngine(spark, pages, CrawlConfig(start_url=START, max_rounds=20))
    plain.run()

    spark.sql("DROP TABLE IF EXISTS pages_b_site")
    (
        pages.write.bucketBy(4, "url")
        .sortBy("url")
        .option("path", str(tmp_path / "pages_b_site"))
        .saveAsTable("pages_b_site")
    )
    try:
        bucketed = CrawlEngine(
            spark,
            spark.table("pages_b_site"),
            CrawlConfig(start_url=START, max_rounds=20),
        )
        bucketed.run()
        assert bucketed.crawl_order() == plain.crawl_order()
        assert bucketed.seen_urls() == plain.seen_urls()
        # the keys-only cache on a forced shuffle-hash round must be
        # identical too: broadcast threshold 0 disables the broadcast fetch
        # join, so html streams from bucket-local scans, never persisted
        monkeypatch.setattr(CrawlEngine, "_BROADCAST_BATCH_THRESHOLD", 0)
        sh = CrawlEngine(
            spark,
            spark.table("pages_b_site"),
            CrawlConfig(start_url=START, max_rounds=20),
        )
        sh.run()
        assert sh.crawl_order() == plain.crawl_order()
        assert sh.seen_urls() == plain.seen_urls()
    finally:
        spark.sql("DROP TABLE IF EXISTS pages_b_site")


def test_parse_pages_carries_pos_and_matches_listing_parsers(spark, pages):
    """The one page-parse UDF carries discovery_pos unchanged, and its
    exploded links and entries equal the pure listing parsers page by page,
    in document order."""
    from pyspark.sql import functions as F

    from icrawler_spark.parsers import listing, udfs

    inp = (
        pages.withColumn("task", F.lit("t"))
        .withColumn("start_url", F.lit(START))
        .withColumn("dialect", F.lit("default"))
        .withColumn("discovery_pos", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )
    parsed = udfs.parse_pages(inp, carry=("discovery_pos",))
    assert parsed.columns == ["task", "page_url", "discovery_pos", "links", "entries"]
    rows = {r.page_url: r for r in parsed.collect()}
    by_url = {r.url: r for r in inp.select("url", "html", "discovery_pos").collect()}
    assert rows.keys() == by_url.keys()
    links = {
        (r.page_url, r.link_pos): r.url
        for r in udfs.parse_pagination_links(inp, slim=True).collect()
    }
    entries = {
        (r.page_url, r.entry_pos): r for r in udfs.parse_listing_entries(inp).collect()
    }
    assert links and entries
    for url, src in by_url.items():
        html = bytes(src.html).decode("utf-8")
        assert rows[url].discovery_pos == src.discovery_pos
        want_links = [x["url"] for x in listing.extract_pagination_meta(url, html, START)["links"]]
        assert rows[url].links == want_links
        assert [links[(url, i)] for i in range(len(want_links))] == want_links
        want_entries = [
            (e["serial"], e["title"], e["remark"],
             [(d["type"], d["url"], d["title"]) for d in e["documents"]])
            for e in listing.extract_listing_entries(url, html, "default")
        ]
        for got in (rows[url].entries, [entries[(url, i)] for i in range(len(want_entries))]):
            assert [
                (e.serial, e.title, e.remark,
                 [(d.doc_type, d.url, d.title) for d in e.documents])
                for e in got
            ] == want_entries
    assert len(links) == sum(len(r.links) for r in rows.values())
    assert len(entries) == sum(len(r.entries) for r in rows.values())


def test_seen_sketch_checkpointed_and_loaded_on_resume(spark, site, pages, tmp_path, monkeypatch):
    """The serialized seen-filter is committed with each round and resume
    loads the blob instead of rebuilding from a full visited scan (north_rule
    'checkpoints frontier, seen-filter shards, and lineage/metrics')."""
    import glob
    import os

    ckpt = str(tmp_path / "ckpt_sketch")
    full = CrawlEngine(spark, pages, CrawlConfig(start_url=START, max_rounds=20))
    full.run()

    CrawlEngine(
        spark, pages, CrawlConfig(start_url=START, max_rounds=1, checkpoint_dir=ckpt)
    ).run()
    blobs = glob.glob(os.path.join(ckpt, "round=*", "seen_sketch_bloom_xxh64_km.bin"))
    assert blobs, "sketch blob not committed with the round"

    # resume must NOT rebuild: poison build_filter across resume_or_init only
    # (the per-round incremental build during the resumed crawl is legitimate)
    def _boom(*a, **k):
        raise AssertionError("resume rebuilt the seen filter instead of loading the blob")

    resumed = CrawlEngine(
        spark, pages, CrawlConfig(start_url=START, max_rounds=20, checkpoint_dir=ckpt)
    )
    real = bloom_mod.build_filter
    monkeypatch.setattr(bloom_mod, "build_filter", _boom)
    resumed.resume_or_init()
    # the sketch holds xxhash64 transport keys, so membership probes use the
    # same derivation the engine inserts with
    from pyspark.sql import functions as F

    start_key = spark.range(1).select(F.xxhash64(F.lit(START)).alias("k")).collect()[0].k
    assert resumed._bloom is not None and resumed._bloom.might_contain_many(
        pd.Series([start_key])
    ).all()
    monkeypatch.setattr(bloom_mod, "build_filter", real)
    resumed.run()
    assert resumed.crawl_order() == full.crawl_order()
    assert resumed.seen_urls() == full.seen_urls()
    shutil.rmtree(ckpt, ignore_errors=True)


def test_old_format_sketch_blob_rebuilt_on_resume(spark, site, pages, tmp_path, monkeypatch):
    """A blob left under the previous derivation's name
    (``seen_sketch_bloom_h64.bin``) is never loaded: resume rebuilds the
    filter from visited with exactly one build, and the crawl finishes as the
    uninterrupted run does."""
    import glob
    import os

    ckpt = str(tmp_path / "ckpt_old_sketch")
    full = CrawlEngine(spark, pages, CrawlConfig(start_url=START, max_rounds=20))
    full.run()

    CrawlEngine(
        spark, pages, CrawlConfig(start_url=START, max_rounds=1, checkpoint_dir=ckpt)
    ).run()
    blobs = glob.glob(os.path.join(ckpt, "round=*", "seen_sketch_bloom_xxh64_km.bin"))
    assert blobs
    for b in blobs:
        os.replace(b, os.path.join(os.path.dirname(b), "seen_sketch_bloom_h64.bin"))

    calls = []
    real = bloom_mod.build_filter

    def _counting(*a, **k):
        calls.append(a)
        return real(*a, **k)

    resumed = CrawlEngine(
        spark, pages, CrawlConfig(start_url=START, max_rounds=20, checkpoint_dir=ckpt)
    )
    monkeypatch.setattr(bloom_mod, "build_filter", _counting)
    resumed.resume_or_init()
    monkeypatch.setattr(bloom_mod, "build_filter", real)
    assert len(calls) == 1
    resumed.run()
    assert resumed.crawl_order() == full.crawl_order()
    assert resumed.seen_urls() == full.seen_urls()
    shutil.rmtree(ckpt, ignore_errors=True)


@pytest.mark.parametrize("use_bloom", [True, False], ids=["bloom", "exact"])
def test_invalidate_urls_refetches_only_those(spark, site, pages, use_bloom):
    """Recrawl invalidation: invalidated pages are refetched at the frontier
    tail; everything else (including their outlinks) stays deduped — with
    the rebuilt bloom pre-filter and with the exact anti-join alone."""
    eng = CrawlEngine(
        spark, pages, CrawlConfig(start_url=START, max_rounds=40, use_bloom=use_bloom)
    )
    eng.run()
    order0 = eng.crawl_order()
    targets = sorted(set(order0))[:2]

    n = eng.invalidate_urls(
        spark.createDataFrame([(u,) for u in targets], "url string")
    )
    assert n == 2
    eng.run()
    order1 = eng.crawl_order()
    assert sorted(order1) == sorted(order0)      # same url set, no dups
    assert order1[-2:] == targets                 # refetched at the tail (FIFO by url)
    assert len(order1) == len(order0)
    # unknown urls are ignored
    assert (
        eng.invalidate_urls(
            spark.createDataFrame([("https://never.seen.test/x",)], "url string")
        )
        == 0
    )


def test_invalidate_survives_checkpoint_resume(spark, site, pages, tmp_path):
    """The invalidation joins the next round's atomic commit: after the
    refetch round commits, a fresh engine resuming from disk sees the
    post-invalidation visited log."""
    ckpt = str(tmp_path / "ckpt_inval")
    eng = CrawlEngine(
        spark, pages, CrawlConfig(start_url=START, max_rounds=40, checkpoint_dir=ckpt)
    )
    eng.run()
    order0 = eng.crawl_order()
    targets = sorted(set(order0))[:2]
    assert eng.invalidate_urls(
        spark.createDataFrame([(u,) for u in targets], "url string")
    ) == 2
    eng.run()  # refetch round commits (with the forced visited_full compaction)
    final = eng.crawl_order()
    assert final[-2:] == targets

    resumed = CrawlEngine(
        spark, pages, CrawlConfig(start_url=START, max_rounds=40, checkpoint_dir=ckpt)
    )
    resumed.resume_or_init()
    assert resumed.crawl_order() == final
    shutil.rmtree(ckpt, ignore_errors=True)


def test_follow_redirects_chain_order_and_dedup(spark):
    """3xx semantics: redirect targets enter the frontier ahead of parsed
    links, chains resolve hop by hop, and targets already seen are deduped."""
    import datetime as dt

    base = "https://rdr.test"

    def row(path, html=b"", redirect=None, link=None):
        if link:
            html = f'<html><body><a href="{base}/{link}">下一页</a></body></html>'.encode()
        return (f"{base}/{path}", dt.datetime(2024, 1, 1), html, "", "en",
                f"{base}/{redirect}" if redirect else None)

    pages = spark.createDataFrame(
        [
            # seed redirects AND carries a parsed link: target must come first
            row("seed.html", redirect="r1.html", link="parsed.html"),
            row("r1.html", redirect="r2.html"),            # chain hop 1 (stub body)
            row("r2.html", link="seed.html"),              # chain end; link back = dedup
            row("parsed.html"),
        ],
        "url string, warc_ts timestamp_ntz, html binary, text string, lang string, redirect_to string",
    )
    cfg = CrawlConfig(start_url=f"{base}/seed.html", max_rounds=10,
                      use_bloom=False, parse_entries=False, host_budget=1)
    eng = CrawlEngine(spark, pages, cfg)
    eng.run()
    assert eng.crawl_order() == [
        f"{base}/seed.html",
        f"{base}/r1.html",      # redirect target ahead of the SAME page's parsed link
        f"{base}/parsed.html",  # BFS: discovered in round 0, before r2 (round 1)
        f"{base}/r2.html",      # chain resolved one hop per round, FIFO-faithful
    ]
