"""Oracle-checked query registry.

Each submodule exposes ``QUERIES: dict[name, (callable, oracle_sql | None)]``
where the callable has signature ``(spark, sf_dir) -> DataFrame`` and the
oracle is equivalent ANSI SQL for DuckDB over the same parquet tables.

Determinism contract (the driver value-hashes results):
- every output column is explicitly typed long / double / string;
- money sums go through DECIMAL(18,4) (exact) and are cast to double last;
- float reductions run in a defined sequential order (F.aggregate /
  list_reduce) so Spark and DuckDB produce bit-identical doubles;
- no raw timestamps in outputs (formatted as strings);
- every aggregate/computed column is aliased identically on both sides.
"""

from __future__ import annotations

from . import analytics, clusterops, engineops, graphops, simsearch, textops

_MODULES = (analytics, textops, simsearch, clusterops, engineops, graphops)

# The external correctness gate walks the registry in iteration order and may
# cap how many queries it can afford per run (round 4 checked the first 50 of
# 61). Iteration order is therefore part of the verification contract: put
# the queries with the LEAST prior driver evidence first — engine queries
# that have never received a driver row, then anything whose last driver row
# was red (fixed since), then queries last driver-checked two rounds ago.
# Everything else keeps its module order; a query that rotates out of a
# capped window still has its prior green rows plus the full 61-case local
# parity suite (tests/test_oracle_parity.py) every session.
_GATE_PRIORITY = [
    # never driver-checked (added in round 4 after the gate's window)
    "recrawl_round",
    "image_harvest",
    "sitemap_seeds",
    "link_extraction",
    # red in round 4 (float discipline fixed — needs a fresh row)
    "domain_stats",
    # driver-green in round 3, rotated out of round 4's window
    "html_text_extraction",
    "crawl_frontier_round",
    "search_topk",
    "url_canonicalize",
    "priority_frontier_round",
    "curation_pipeline",
    "link_pagerank",
]

# Conversely, queries driver-green in BOTH rounds 3 and 4 whose coverage is
# least marginal (pure demo queries, or variants whose stronger sibling
# stays in the window) go last, so a capped gate window drops these rather
# than a headline operator.
_GATE_DEMOTE = [
    "revenue_by_nation",
    "latest_order_per_customer",
    "sessionize",
    "hourly_rollup",
    "token_stats_bpe",        # token_stats stays in the window
    "simhash",                # simhash_dup_pairs stays
    "minhash_signatures",     # minhash_lsh_pairs stays
    "knn_brute_force",        # ivf_kmeans_topk / ann_lsh_topk stay
    "lsh_buckets",
    "ivf_assign",             # ivf_kmeans / ivf_kmeans_topk stay
    "ivf_topk",
]


def _prioritized(pairs):
    pri = {n: i for i, n in enumerate(_GATE_PRIORITY)}
    dem = {n: i for i, n in enumerate(_GATE_DEMOTE)}
    mid = len(pri)
    end = mid + 1

    def key(kv):
        if kv[0] in pri:
            return (0, pri[kv[0]])
        if kv[0] in dem:
            return (end, dem[kv[0]])
        return (mid, 0)

    return sorted(pairs, key=key)  # stable for the middle block


def _registry():
    """Merged ``name -> (callable, oracle_sql)`` over every module. The gate
    lists must name registered queries and not overlap: a renamed query
    would otherwise silently drop out of the intended gate order."""
    out = {}
    for mod in _MODULES:
        for name, entry in mod.QUERIES.items():
            assert name not in out, f"duplicate query name {name}"
            out[name] = entry
    unknown = [n for n in _GATE_PRIORITY + _GATE_DEMOTE if n not in out]
    assert not unknown, f"gate lists name unregistered queries: {unknown}"
    both = set(_GATE_PRIORITY) & set(_GATE_DEMOTE)
    assert not both, f"queries both prioritized and demoted: {sorted(both)}"
    return out


def all_queries():
    return dict(_prioritized((n, fn) for n, (fn, _sql) in _registry().items()))


def all_oracles():
    return dict(
        _prioritized((n, sql) for n, (_fn, sql) in _registry().items() if sql is not None)
    )
