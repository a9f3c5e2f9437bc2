"""icrawler_spark — a PySpark-native crawl + text-analytics engine.

From-scratch re-expression of the capabilities of the reference crawler
(``pbc_regulations`` / angelala00-icrawler, surveyed in SURVEY.md) on top of
the Spark DataFrame API: a batch-iterative URL frontier with a partitioned
Bloom seen-filter and per-host politeness budgets, vectorized (Arrow/pandas
UDF) HTML parsing and text extraction, upsert state tables with atomic
snapshot commits, and a fuzzy-search layer that builds its index as a
DataFrame projection and scores it in memory.

Nothing here is a port: the reference is a single-threaded imperative
pipeline; this package declares the same semantics as Spark logical plans so
Catalyst/Tungsten pick the physical strategy and the job scales by
partitioning rather than by thread count.
"""

__version__ = "0.1.0"
