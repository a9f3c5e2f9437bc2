"""Physical-plan assertions: the 100 TB scaling contract.

Correctness says WHAT each operator returns; these tests pin HOW Spark
executes it — filter pushdown to parquet, column pruning, broadcast joins
for small dims, TakeOrderedAndProject for top-k, no Python UDF in relational
scan paths. A regression here is a scale bug even when results stay right.
"""

from __future__ import annotations

import pandas as pd
import pytest

from icrawler_spark.crawl import bloom as bloom_mod
from icrawler_spark.crawl.bloom import BloomFilter, prefilter_unseen
from icrawler_spark.crawl.state import merge_entries
from icrawler_spark.queries.analytics import (
    pricing_summary,
    revenue_by_nation,
    seen_anti_join,
    top_customers_by_revenue,
)
from icrawler_spark.queries.textops import exact_dedup
from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _full_explain(df) -> str:
    return df._jdf.queryExecution().toString()


def test_pricing_summary_pushdown_and_pruning(spark):
    df = pricing_summary(spark, SF_DIR)
    plan = _full_explain(df)
    # shipdate filter reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "PushedFilters: [" in plan
    # column pruning: unused columns (l_orderkey etc.) are NOT in ReadSchema
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][-1]
    assert "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema


def test_revenue_by_nation_broadcasts_dims(spark):
    df = revenue_by_nation(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2  # customer + nation broadcast
    # codegen spans only appear in the AQE-final plan — execute first.
    # compact form prints them as "*(N) Operator"
    df.collect()
    final = _plan(df)
    assert "isFinalPlan=true" in final and "*(" in final


def test_topk_compiles_to_take_ordered(spark):
    plan = _plan(top_customers_by_revenue(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan  # no global sort materialization


def test_anti_join_is_join_not_filterscan(spark):
    plan = _plan(seen_anti_join(spark, SF_DIR))
    assert "LeftAnti" in plan
    # only the join keys + projected columns are read from orders
    full = _full_explain(seen_anti_join(spark, SF_DIR))
    orders_reads = [
        ln for ln in full.splitlines() if "ReadSchema" in ln and "o_custkey" in ln
    ]
    assert orders_reads and all("o_totalprice" not in ln for ln in orders_reads)


def test_no_python_udf_in_relational_paths(spark):
    for q in (pricing_summary, revenue_by_nation, top_customers_by_revenue, exact_dedup):
        plan = _plan(q(spark, SF_DIR))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, q.__name__


def test_no_cartesian_products_in_registry(spark):
    """Suite-wide 100×-scale guard: no registry query may plan a cartesian
    product, and nested-loop joins are allowed only where a 1-row /
    k-row broadcast side is the intended design (KNN query vector, IVF
    centroid table). Catches any future join whose equi-condition Catalyst
    failed to extract."""
    from icrawler_spark.queries import all_queries

    # intentional tiny-side broadcast cross joins: 1-row query vector (KNN),
    # k-row centroid table (IVF), and 1-row global aggregates folded in as
    # scalar sides (run summary, next-serial max, per-status max)
    bnlj_ok = {
        "knn_brute_force",
        "ivf_assign",
        "ivf_topk",
        "ivf_kmeans",        # broadcast of the k=8 centroid table per Lloyd round
        "ivf_kmeans_topk",   # same + the 1-row query vector
        "run_summary",
        "serial_assignment",
        "status_rollup",
    }
    # these two EXECUTE a crawl/search inside the query fn — plan-checked
    # via their own suites instead
    skip = {"crawl_frontier_round", "search_topk"}
    offenders = []
    for name, fn in sorted(all_queries().items()):
        if name in skip:
            continue
        plan = _plan(fn(spark, SF_DIR))
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_ok:
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert not offenders, offenders


def test_merge_entries_is_one_window_and_one_walk(spark):
    """The entries upsert is the generation shape of the other state
    merges: one ``entry_id`` window over existing + batch, then one
    per-task serial walk — no join back to existing, so two shuffles."""
    existing = spark.createDataFrame(
        [("e1", "t", 1, "a", ""), ("e2", "t", None, "b", "")],
        "entry_id string, task string, serial int, title string, remark string",
    )
    batch = spark.createDataFrame(
        [("e1", "t", 5, "a2", "", 0), ("e3", "t", 1, "c", "", 1)],
        "entry_id string, task string, serial int, title string, remark string, _src_pos long",
    )
    plan = _plan(merge_entries(existing, batch))
    assert "Join" not in plan, plan
    shuffles = [ln for ln in plan.splitlines() if "Exchange" in ln and "BroadcastExchange" not in ln]
    assert len(shuffles) <= 2, plan


def _nodes(node):
    """Every node of a JVM plan tree, pre-order."""
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _nodes(kids.apply(i))


def _python_evals(node) -> int:
    return sum(n.nodeName() in ("ArrowEvalPython", "BatchEvalPython") for n in _nodes(node))


def test_bloom_probe_stays_off_the_visited_side(spark, tmp_path):
    """The frontier's "maybe seen" links take a left-anti join against
    visited. The Bloom probe must run over the links only: no predicate
    inferred from it may reach the visited scan, or every round probes the
    whole visited table the filter exists to route around."""
    from pyspark.sql import functions as F

    bf = BloomFilter(1000)
    bc = spark.sparkContext.broadcast(bf.to_bytes())
    path = str(tmp_path / "visited")
    spark.createDataFrame([("u1",), ("u2",)], "url string").write.parquet(path)
    visited = spark.read.parquet(path)
    links = spark.createDataFrame([("u1", 1), ("u3", 2)], "url string, parent_pos long")
    flagged = prefilter_unseen(links.withColumn("_sk", F.xxhash64("url")), "_sk", bc).drop("_sk")
    maybe = flagged.where(F.col("_maybe_seen")).drop("_maybe_seen")
    plan = maybe.join(visited.select("url"), "url", "left_anti")._jdf.queryExecution().optimizedPlan()
    (join,) = [n for n in _nodes(plan) if n.nodeName() == "Join"]
    assert _python_evals(join.left()) == 1, plan.toString()
    assert _python_evals(join.right()) == 0, plan.toString()


def test_bloom_probe_runs_once_per_round(spark, monkeypatch):
    """The frontier's seen split — definitely new ∪ (maybe ⟂ visited) —
    reads one probe: each round's links cross into the Bloom UDF once, not
    once per side of the split. The probe is swapped for a twin that counts
    the keys it evaluates."""
    from pyspark.sql.functions import pandas_udf

    from icrawler_spark.crawl import CrawlConfig, CrawlEngine, build_site, site_pages_df

    probed = []

    def counting_prefilter(df, col, bc):
        acc = spark.sparkContext.accumulator(0)
        probed.append(acc)

        @pandas_udf("boolean")
        def might_contain(vals: pd.Series) -> pd.Series:
            acc.add(len(vals))
            return pd.Series(BloomFilter.from_bytes(bytes(bc.value)).might_contain_many(vals))

        return df.withColumn("_maybe_seen", might_contain.asNondeterministic()(df[col]))

    monkeypatch.setattr(bloom_mod, "prefilter_unseen", counting_prefilter)
    pages = site_pages_df(spark, build_site(n_pages=4, entries_per_page=1))
    eng = CrawlEngine(spark, pages, CrawlConfig(
        start_url="https://www.example.test/list/index.html", host_budget=1, parse_entries=False,
    ))
    rounds = eng.run()
    # a fresh crawl's first round does not probe; every later round does
    assert len(rounds) >= 3 and all(m.links_discovered for m in rounds)
    assert [a.value for a in probed] == [m.links_discovered for m in rounds[1:]]


def test_download_stage_fetches_once(spark):
    """The download stage fetches both passes' candidates — the
    undownloaded seen rows and the attachments their html pages link to —
    with ONE semi-join against the pages urls (the html pages' own fetch
    is their join with the pages' html)."""
    from icrawler_spark.crawl import build_site, site_pages_df
    from icrawler_spark.crawl.downloads import download_rows

    pages = site_pages_df(spark, build_site(n_pages=1, entries_per_page=1, with_attachments=True))
    detail = "https://www.example.test/list/detail_1.html"
    seen = spark.createDataFrame(
        [(detail, detail, "t", "html", False, None, 0),
         ("https://www.example.test/files/doc_1.pdf", detail, "t", "pdf", False, None, 1)],
        "url string, entry_id string, title string, doc_type string, downloaded boolean, "
        "local_path string, _src_pos long",
    )
    _atts, _att_seen, marks, metrics = download_rows(pages, seen)
    plan = marks._jdf.queryExecution().analyzed()
    semis = [
        n for n in _nodes(plan)
        if n.nodeName() == "Join" and n.joinType().toString() == "LeftSemi"
    ]
    assert len(semis) == 1, plan.toString()
    assert "warc_ts" in semis[0].right().treeString(), plan.toString()  # the pages relation
    assert metrics()["files_downloaded"] == 3  # detail page, its pdf, its attachment


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
