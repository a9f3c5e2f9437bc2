#!/usr/bin/env python
"""Decompose the per-round serial term: does a full bucketed-table scan
scale with cores?

The r4 whole-job model (BENCH/BASELINE.md) solved F ~ 64 s of per-JOB
serial cost at the 1.6M-page corpus, while the 16k-page probe measured
only ~15 s of truly corpus-independent cost — so ~25 s/round is
DATA-DEPENDENT serial work. Two hypotheses:

  (a) storage-bound: every round's fetch join scans all 64 bucket files
      from one shared disk / page cache; a scan is I/O-serial no matter
      how many cores decode parquet.
  (b) driver-bound: per-round bloom build/merge + broadcast construction
      happen on the driver thread.

This probe times, on the SAME registered table, at a given --cpus:
  scan_keys   : url-only projection count (column-pruned scan)
  scan_html   : sum(length(html)) (full payload decode, the fetch join's
                real per-round read)
  bloom_build : build_filter over 320k urls at capacity 1.6M (round-0 size)

If scan_html wall barely moves 4c -> 16c, (a) wins and the serial term is
a single-box artifact (a real fleet reads buckets from N disks). If it
scales ~linearly, (b) wins and the fix is in-process.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from icrawler_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    args = ap.parse_args()

    spark = get_spark(
        app_name=f"scan_probe_{args.cpus}",
        master=f"local[{args.cpus}]",
        shuffle_partitions=max(args.cpus, 8),
        extra_conf={"spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")},
    )
    spark.sparkContext.setLogLevel("ERROR")

    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(wh.removeprefix("file:"), "pages_bucketed")
    with open(loc + "_manifest.json") as fh:
        n_buckets = json.load(fh)["bucketed_pages"]
    if not spark.catalog.tableExists("pages_bucketed"):
        spark.sql(
            "CREATE TABLE pages_bucketed "
            "(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING) "
            "USING PARQUET "
            f"CLUSTERED BY (url) SORTED BY (url) INTO {n_buckets} BUCKETS "
            f"LOCATION '{loc}'"
        )
    pages = spark.table("pages_bucketed")

    from pyspark.sql import functions as F

    out: dict[str, float] = {"cpus": args.cpus}

    # prime: JVM/codegen warm-up on a small slice so timings are steady-state
    pages.limit(1000).agg(F.sum(F.length("html"))).collect()

    for name, action in [
        ("scan_keys", lambda: pages.select("url").count()),
        ("scan_html", lambda: pages.agg(F.sum(F.length("html")).alias("b")).collect()),
        ("scan_html2", lambda: pages.agg(F.sum(F.length("html")).alias("b")).collect()),
    ]:
        t0 = time.time()
        action()
        out[name] = round(time.time() - t0, 2)

    # bloom build at round-0 batch size (320k urls, capacity 1.6M) over the
    # xxhash64 url keys the engine builds with
    from icrawler_spark.crawl import bloom as bloom_mod

    batch = pages.select(F.xxhash64("url").alias("_sk")).limit(320_000).localCheckpoint(eager=True)
    t0 = time.time()
    bloom_mod.build_filter(batch, "_sk", 1_600_000, 0.01)
    out["bloom_build"] = round(time.time() - t0, 2)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
