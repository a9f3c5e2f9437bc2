"""Structured Streaming jobs mirroring the reference's incremental loop.

The reference's monitor is a sleep-loop that re-crawls and diffs state
(ref pbc_monitor.py:1137-1207). The streaming-native equivalents:

- ``streaming_hourly_rollup`` — event-time tumbling windows + watermark for
  late data (the TaskStats/round-metrics aggregate as a live stream);
- ``streaming_dedup`` — ``dropDuplicates`` on the identity key within the
  watermark horizon: the URL-seen set as streaming state.

Both run with ``Trigger.AvailableNow`` semantics in tests (drain the backlog,
then stop) — the same batch-incremental contract as the crawl engine's round
loop, which is why a killed stream resumes from its checkpoint exactly like
the frontier resumes from its snapshot store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _ts(events: DataFrame) -> DataFrame:
    """Watermarks require TIMESTAMP (not NTZ); session tz is pinned UTC by
    the session factory so the cast is deterministic."""
    return events.withColumn("ts", F.col("ts").cast("timestamp"))


def streaming_hourly_rollup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """events(ts, event_type, value) stream → hourly windowed counts/sums."""
    return (
        _ts(events).withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            (F.col("sum_cents") / 100.0).alias("sum_value"),
        )
    )


def streaming_dedup(events: DataFrame, key: str = "event_id", watermark: str = "2 hours") -> DataFrame:
    """First-wins identity dedup within the watermark horizon — the
    streaming URL-seen set."""
    return _ts(events).withWatermark("ts", watermark).dropDuplicates([key])


def run_available_now(
    spark: SparkSession,
    source_dir: str,
    schema,
    transform,
    checkpoint_dir: str,
    out_table: str,
    output_mode: str = "append",
) -> None:
    """Drain a parquet-backlog stream into a memory sink and stop — the
    test/bench harness for streaming jobs."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    q = (
        transform(stream)
        .writeStream.format("memory")
        .queryName(out_table)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def streaming_page_ingest(pages: DataFrame, watermark: str = "24 hours") -> DataFrame:
    """Streaming page ingest — dedup-before-store as a Structured Streaming
    job: new page snapshots (url, warc_ts, html[, text]) arrive as file
    drops; each gets its content identity (md5) and its 48-bit SimHash (the
    same codegen expression the batch ``simhash`` query uses, so batch and
    stream agree bit-for-bit), then exact duplicates within the watermark
    horizon are dropped on the content hash — ONE representative per
    distinct content survives (which url wins is arrival-order within the
    micro-batch, the standard streaming dropDuplicates contract; a crawl
    store keyed by content hash doesn't care). Output is the store-ready
    stream: one row per distinct content, simhash attached for
    the downstream near-dup index merge.

    Two contracts worth naming because each fixes a silent failure mode:

    - the content identity is ``md5`` over the RAW ``html`` bytes — never a
      binary→string cast, which replaces invalid-UTF-8 sequences and would
      collide two DISTINCT payloads that differ only in mis-encoded bytes
      (real crawls contain them), silently dropping a page.  The SimHash
      body still goes through the lossy cast deliberately: similarity is
      defined over text, and near-dup recall doesn't care about byte-exact
      identity.
    - dedup state is ``dropDuplicatesWithinWatermark``, NOT plain
      ``dropDuplicates``: with a key subset that excludes the event-time
      column, plain streaming ``dropDuplicates`` never evicts state, so a
      long-running ingest grows without bound.  WithinWatermark gives the
      documented bounded-state semantics — one (hash → seen) entry per
      distinct page inside the horizon, sharded by the hash across
      executors, evicted as the watermark advances.  At 10^10 pages/day
      with a 24 h horizon that is exactly one day's distinct-content set.

    All other expressions are stateless codegen."""
    from ..queries.textops import simhash_expr

    body = F.coalesce(F.col("text"), F.col("html").cast("string")) if "text" in pages.columns else F.col("html").cast("string")
    enriched = (
        pages.withColumn("ts", F.col("warc_ts").cast("timestamp"))
        .withColumn("content_hash", F.md5(F.col("html")))
        .withColumn("simhash", simhash_expr(body))
    )
    return (
        enriched.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
        .select("url", "ts", "content_hash", "simhash", "html")
    )
