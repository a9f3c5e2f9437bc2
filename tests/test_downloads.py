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
        resolved = dict(metrics.items())
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
    assert metrics["files_downloaded"] == want_n
    # detail expansion discovered the docx attachments
    assert metrics["attachments_discovered"] > 0
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
    assert metrics["files_reused"] == 2
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
    assert metrics["files_downloaded"] > 0  # re-downloads happened
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
    assert sum(m.files_downloaded for m in ms) >= want_n  # retries may re-mark


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
