"""Mirror of the driver's correctness gate: every oracle-backed query in the
registry runs on Spark AND DuckDB over the same parquet, and the results must
match exactly — row count, column names, and values (after sorting columns by
name and rows by value, like the driver's order-insensitive hash)."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from icrawler_spark.queries import all_oracles, all_queries
from tests.conftest import SF_DIR

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _canon(val):
    if val is None:
        return "∅"
    if isinstance(val, float):
        if math.isnan(val):
            return "nan"
        # exact: both engines must produce bit-identical doubles
        return repr(val)
    return repr(val)


def _canon_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in idx) for r in rows)


ORACLES = all_oracles()
CASES = sorted(ORACLES)


def _assert_parity(spark, con, name: str, sf_dir: str) -> None:
    q = all_queries()[name]
    sdf = q(spark, sf_dir)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]

    res = con.execute(ORACLES[name])
    d_cols = [c[0].lower() for c in res.description]
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), f"{name}: columns {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"{name}: rows {len(s_rows)} vs {len(d_rows)}"
    sc = _canon_rows(s_cols, s_rows)
    dc = _canon_rows(d_cols, d_rows)
    mism = [i for i, (a, b) in enumerate(zip(sc, dc)) if a != b][:3]
    assert sc == dc, f"{name}: first mismatches {[(sc[i], dc[i]) for i in mism]}"


@pytest.mark.parametrize("name", CASES)
def test_oracle_parity(spark, duck, name):
    _assert_parity(spark, duck, name, SF_DIR)


# Queries whose output includes double columns (all derived from exact
# integer/decimal sources per the registry's determinism contract, but
# doubles are where cross-environment drift would live if it existed —
# see the round-4 domain_stats false red). These get a SECOND parity run
# at a different scale factor so any engine/version float divergence
# surfaces locally before an external gate sees it. Static list: deriving
# it dynamically would cost a full engine run per query.
FLOAT_EMITTING = [
    "search_topk", "pricing_summary", "top_customers_by_revenue",
    "quality_score", "repeated_span_stats", "ngram_jaccard_pairs",
    "minhash_lsh_pairs", "ann_lsh_topk", "cosine_dup_pairs",
    "label_centroids", "ivf_kmeans", "ivf_kmeans_topk", "revenue_by_nation",
    "hourly_rollup", "knn_brute_force", "ivf_assign", "ivf_topk",
]

SF_DIR_2 = os.environ.get("SPARK_GRAFT_TEST_SF_DIR_2", "/root/testdata/sf0.01")


@pytest.fixture(scope="module")
def duck2():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR_2}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", [n for n in FLOAT_EMITTING if n in ORACLES])
def test_oracle_parity_second_sf(spark, duck2, name):
    if SF_DIR_2 == SF_DIR:
        pytest.skip("second SF equals primary")
    _assert_parity(spark, duck2, name, SF_DIR_2)


def test_rows_only_queries_run(spark):
    """Queries without an oracle still must run and return a stable schema."""
    oracles = ORACLES
    for name, q in sorted(all_queries().items()):
        if name in oracles:
            continue
        df = q(spark, SF_DIR)
        assert df.columns
        assert df.count() >= 0


@pytest.mark.parametrize(
    "priority,demote",
    [
        (["no_such_query"], []),
        ([], ["no_such_query"]),
        (["search_topk"], ["search_topk"]),
    ],
    ids=["unknown-priority", "unknown-demote", "overlap"],
)
def test_gate_lists_are_validated(monkeypatch, priority, demote):
    """Every gate-list name must be a registered query and the priority and
    demote lists must be disjoint — a renamed query fails loudly instead of
    silently dropping out of the gate order."""
    import icrawler_spark.queries as registry

    monkeypatch.setattr(registry, "_GATE_PRIORITY", priority)
    monkeypatch.setattr(registry, "_GATE_DEMOTE", demote)
    with pytest.raises(AssertionError):
        registry.all_queries()
    with pytest.raises(AssertionError):
        registry.all_oracles()
