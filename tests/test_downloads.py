"""Download stage vs the serial reference model (ref pbc_monitor.py:572-813)."""

from __future__ import annotations

import glob
import os
import pstats
from collections import Counter

import pytest
from pyspark.sql import functions as F

from icrawler_spark.crawl import CrawlConfig, CrawlEngine, build_site, site_pages_df
from icrawler_spark.crawl.downloads import run_download_stage
from icrawler_spark.crawl.reference_model import crawl_model_docs, download_model
from icrawler_spark.crawl.state import SnapshotStore

START = "https://www.example.test/list/index.html"


@pytest.fixture(scope="module")
def site():
    return build_site(n_pages=3, entries_per_page=2, with_attachments=True)


@pytest.fixture(scope="module")
def crawled(spark, site):
    pages = site_pages_df(spark, site).cache()
    eng = CrawlEngine(spark, pages, CrawlConfig(start_url=START, max_rounds=10))
    eng.run()
    return pages, eng


def _downloaded(seen) -> set[str]:
    return {r.url for r in seen.where(F.col("downloaded")).collect()}


def test_download_metrics_need_no_count_jobs(spark, site, crawled):
    """VERDICT r3 item 1: the stage counters ride observe() on the caller's
    own pin action. After ONE materializing action on the returned seen
    table, every metric resolves with DataFrame.count forbidden — i.e. the
    engine's per-round download metrics cost zero standalone count jobs."""
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    pages, eng = crawled
    seen2, _docs2, metrics = run_download_stage(spark, pages, eng.seen, eng.documents)
    seen2.localCheckpoint(eager=True)  # the caller's pin — fires all observations

    orig = _CDF.count

    def _forbidden(self):
        raise AssertionError("standalone count() job in download metrics path")

    _CDF.count = _forbidden
    try:
        resolved = metrics()
    finally:
        _CDF.count = orig
    entries = crawl_model_docs(site, START)
    _want_downloaded, _want_docs, want_n = download_model(site, entries)
    assert resolved["files_downloaded"] == want_n
    assert resolved["attachments_discovered"] > 0


def test_download_parity_with_model(spark, site, crawled):
    pages, eng = crawled
    seen2, docs2, metrics = run_download_stage(spark, pages, eng.seen, eng.documents)
    entries = crawl_model_docs(site, START)
    want_downloaded, want_docs, want_n = download_model(site, entries)
    assert _downloaded(seen2) == want_downloaded
    resolved = metrics()
    assert resolved["files_downloaded"] == want_n
    # detail expansion discovered the docx attachments
    assert resolved["attachments_discovered"] > 0
    att_urls = {r.url for r in docs2.collect() if "att_" in r.url}
    assert att_urls == {u for u in want_docs if "att_" in u}
    # downloaded rows carry a structured local_path
    paths = {r.url: r.local_path for r in seen2.where(F.col("downloaded")).collect()}
    assert all(p for p in paths.values())


def test_download_allowed_types(spark, site, crawled):
    pages, eng = crawled
    seen2, _docs2, _m = run_download_stage(
        spark, pages, eng.seen, eng.documents, allowed_types=["pdf"]
    )
    entries = crawl_model_docs(site, START)
    want_downloaded, _wd, _n = download_model(site, entries, allowed_types={"pdf"})
    assert _downloaded(seen2) == want_downloaded
    assert all(u.endswith(".pdf") for u in _downloaded(seen2))


def test_download_reuse_existing(spark, site, crawled):
    pages, eng = crawled
    # first pass to learn the structured filenames
    seen_full, _d, _m = run_download_stage(spark, pages, eng.seen, eng.documents)
    some = [
        r.local_path
        for r in seen_full.where(F.col("downloaded") & F.col("url").contains(".pdf")).collect()
    ][:2]
    listing = spark.createDataFrame([(p,) for p in some], "local_path string")
    seen2, _docs, metrics = run_download_stage(
        spark, pages, eng.seen, eng.documents, existing_files=listing
    )
    assert metrics()["files_reused"] == 2
    # reused urls end up downloaded without a fetch
    assert _downloaded(seen2) >= _downloaded(seen_full)


def test_verify_local_clears_missing_files(spark, site, crawled):
    pages, eng = crawled
    seen_full, docs_full, _m = run_download_stage(spark, pages, eng.seen, eng.documents)
    # listing that contains NONE of the recorded paths → verify_local clears
    # every downloaded flag, then the stage re-downloads from pages
    empty_listing = spark.createDataFrame([("nope",)], "local_path string")
    seen2, _d, metrics = run_download_stage(
        spark, pages, seen_full, docs_full, existing_files=empty_listing, verify_local=True
    )
    assert metrics()["files_downloaded"] > 0  # re-downloads happened
    assert _downloaded(seen2) == _downloaded(seen_full)


def test_engine_integrated_download(spark, site):
    pages = site_pages_df(spark, site)
    eng = CrawlEngine(
        spark,
        pages,
        CrawlConfig(start_url=START, max_rounds=10, download_docs=True),
    )
    ms = eng.run()
    entries = crawl_model_docs(site, START)
    want_downloaded, _wd, want_n = download_model(site, entries)
    assert _downloaded(eng.seen) == want_downloaded
    assert sum(m.files_downloaded for m in ms) == want_n


def test_shared_attachment_downloads_once(spark):
    """Three detail pages of one listing page link the same attachment: the
    round fetches, marks and counts it once (as the serial model does), and
    the seen rows do not depend on the input's partitioning."""
    site = build_site(n_pages=2, entries_per_page=3, with_attachments=True)
    shared = "https://www.example.test/files/att_shared.docx"
    for serial in (1, 2, 3):
        site[f"https://www.example.test/list/detail_{serial}.html"] = (
            f"<html><body><h1>公告{serial}号文件</h1>"
            f"<a href='/files/att_shared.docx'>共用附件{serial}</a></body></html>"
        )
    site[shared] = b"PK fake shared docx payload"
    want_downloaded, _wd, want_n = download_model(site, crawl_model_docs(site, START))
    assert shared in want_downloaded
    seen_rows = []
    for n_parts in (1, 4):
        pages = site_pages_df(spark, site).repartition(n_parts)
        eng = CrawlEngine(spark, pages, CrawlConfig(start_url=START, max_rounds=10, download_docs=True))
        ms = eng.run()
        assert sum(m.files_downloaded for m in ms) == want_n
        assert _downloaded(eng.seen) == want_downloaded
        seen_rows.append(sorted(tuple(r) for r in eng.seen.collect()))
    assert seen_rows[0] == seen_rows[1]


def _udf_calls(spark, path: str) -> Counter:
    """Python UDF call counts by (module file, function) since the last
    ``spark.profile.clear()``, read back from the perf profiler's pstats."""
    spark.profile.dump(path, type="perf")
    files = glob.glob(os.path.join(path, "*.pstats"))
    calls: Counter = Counter()
    if files:
        for (fname, _line, func), (_cc, nc, *_rest) in pstats.Stats(*files).stats.items():
            calls[(os.path.basename(fname), func)] += nc
    return calls


def test_each_fetched_page_parsed_once_per_round(spark, site, tmp_path):
    """Every fetched page is decoded and parsed exactly once per round: one
    page-parse UDF serves the pagination walk and the entry parser, its pin
    serves the links and every state merge, and the download stage's detail
    attachment parse runs once per downloaded html page."""
    pages = site_pages_df(spark, site).cache()
    eng = CrawlEngine(
        spark,
        pages,
        CrawlConfig(start_url=START, max_rounds=10, download_docs=True,
                    checkpoint_dir=str(tmp_path / "ckpt")),
    )
    eng.resume_or_init()
    html_done = 0
    rounds = []
    spark.profile.clear()
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        while eng._n_pending:
            m = eng.run_round()
            calls = _udf_calls(spark, str(tmp_path / f"prof_{m.round}"))
            spark.profile.clear()
            done = eng.seen.where(F.col("downloaded") & (F.col("doc_type") == "html")).count()
            rounds.append((m.pages_fetched, done - html_done, calls))
            html_done = done
    finally:
        spark.profile.clear()
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        pages.unpersist()
    assert len(rounds) >= 2 and rounds[1][0] >= 2  # a round with history, 2+ pages
    for n_listing, n_detail, calls in rounds:
        assert n_detail > 0
        assert calls[("dom.py", "parse_html")] == n_listing + n_detail
        assert calls[("listing.py", "extract_listing_entries_default")] == n_listing
        assert calls[("listing.py", "extract_pagination_meta")] == n_listing
        assert calls[("listing.py", "discover_detail_attachments")] == n_detail


def test_round_jobs_carry_the_callers_job_group(spark, site, tmp_path):
    """Every Spark job a round starts, on whichever of its threads, carries
    the job group the caller set: per-round job counts are read by group.
    The round runs between two fence jobs, so every job id between them is
    the round's."""
    pages = site_pages_df(spark, site).cache()
    eng = CrawlEngine(spark, pages, CrawlConfig(
        start_url=START, max_rounds=10, download_docs=True, n_host_shards=2,
        checkpoint_dir=str(tmp_path / "ckpt"),
    ))
    eng.resume_or_init()
    eng.run_round()
    sc, st = spark.sparkContext, spark.sparkContext.statusTracker()

    def fence(group):
        sc.setJobGroup(group, group)
        spark.range(1).collect()
        return st.getJobIdsForGroup(group)

    try:
        before = max(fence("job_group_test_before"))
        sc.setJobGroup("job_group_test_round", "round")
        m = eng.run_round()
        after = min(fence("job_group_test_after"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    round_jobs = set(st.getJobIdsForGroup("job_group_test_round"))
    assert m.round == 1 and m.pages_fetched > 0
    assert round_jobs and round_jobs == set(range(before + 1, after))
    pages.unpersist()


def test_a_repeated_crawl_reuses_generated_code(spark, site, tmp_path):
    """Generated code outlives a round: a second identical crawl compiles
    next to nothing. With Spark's 100-class default cache every crawl of
    this site recompiled ~430 classes; concurrent round actions can still
    replan a few stages differently, so a handful may recompile."""
    pages = site_pages_df(spark, site).cache()
    pages.count()
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def crawl(name):
        n = compiled.getCount()
        CrawlEngine(spark, pages, CrawlConfig(
            start_url=START, max_rounds=10, download_docs=True, n_host_shards=2,
            checkpoint_dir=str(tmp_path / name),
        )).run()
        return compiled.getCount() - n

    crawl("first")
    assert crawl("second") < 20
    pages.unpersist()


class _Crash(RuntimeError):
    pass


def _fail_round1_write(monkeypatch, name):
    """Route every ``SnapshotStore`` write through a recorder; round 1's
    write of ``name`` raises instead. Returns the names round 1 wrote, in
    the order the writes finished, before it."""
    written = []
    for meth in ("write", "write_bytes"):
        real = getattr(SnapshotStore, meth)

        def wrapped(self, rnd, table, payload, _real=real):
            if rnd == 1 and table == name:
                raise _Crash(table)
            out = _real(self, rnd, table, payload)
            if rnd == 1:
                written.append(table)
            return out

        monkeypatch.setattr(SnapshotStore, meth, wrapped)
    return written


def test_crash_at_a_round_write_resumes_to_same_crawl(spark, site, tmp_path, monkeypatch):
    """A crash at a write of the last round — the commit marker, its first
    table, a state table, the sketch blob — leaves the round uncommitted,
    and a fresh engine resumes to the uninterrupted crawl: same order, seen
    and downloaded sets, documents and entries. The crashes run in sequence
    on one checkpoint dir; each retry is a fresh engine that resumes from
    round 0 and first drops the partial round the attempt before it left.
    ``documents`` crashes inside the group of writes that run together: the
    error reaches the caller only after the group's other writes finished."""
    pages = site_pages_df(spark, site).cache()
    ckpt = tmp_path / "ckpt"
    store = SnapshotStore(spark, str(ckpt))
    cfg = CrawlConfig(start_url=START, max_rounds=20, download_docs=True, n_host_shards=2,
                      checkpoint_dir=str(ckpt))

    def state(eng):
        return (
            eng.crawl_order(),
            eng.seen_urls(),
            {r.url for r in eng.seen.where(F.col("downloaded")).collect()},
            sorted(tuple(r) for r in eng.documents.collect()),
            sorted(tuple(r) for r in eng.entries.collect()),
        )

    # the uninterrupted crawl: rounds 0 and 1 in one engine, where only the
    # last write, round 1's marker, fails
    blob = "seen_sketch_bloom_xxh64_km.bin"
    with monkeypatch.context() as m:
        written = _fail_round1_write(m, "_COMMITTED")
        full = CrawlEngine(spark, pages, cfg)
        with pytest.raises(_Crash):
            full.run()
    want = state(full)
    assert len(full.metrics) == 2 and full._n_pending == 0
    # visited first; the state pins and lineage together, in any order;
    # then metrics and the blob; the marker after every one has finished
    assert written[0] == "visited" and len(written) == 8
    assert set(written[1:6]) == {"pending", "entries", "documents", "seen", "lineage"}
    assert set(written[6:]) == {"metrics", blob}

    for name in ("visited", "documents", "seen", blob):
        assert store.latest_committed_round() == 0, name
        with monkeypatch.context() as m:
            done = _fail_round1_write(m, name)
            with pytest.raises(_Crash, match=name):
                CrawlEngine(spark, pages, cfg).run()
        if name == "documents":
            assert set(done) == {"visited", "pending", "entries", "seen", "lineage"}
    assert store.has_table(1, "seen") and store.latest_committed_round() == 0
    resumed = CrawlEngine(spark, pages, cfg)
    assert resumed.resume_or_init() == 1
    assert not (ckpt / "round=000001").exists()
    resumed.run()
    assert state(resumed) == want
    assert store.latest_committed_round() == 1
    pages.unpersist()
