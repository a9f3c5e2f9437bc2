"""Document download stage (ref pbc_monitor.py:572-813 work-queue, batch form).

The reference walks each entry's document queue serially: scheme filter →
allowed-types filter → seen-set skip → verify-local → reuse-existing →
download → (html only) detail-attachment expansion re-queued one level.
The batch dataflow runs the same rules as set operations per round:

    candidates = seen WHERE NOT downloaded
      ⟂ scheme/type filters                      (pbc_monitor.py:525-529, 588-590)
      → verify_local: downloaded ∧ file missing → cleared   (263-300)
      → reuse: structured filename ∈ listing → mark reused  (444-464)
      → html candidates ⋈ pages.html → parse_detail_attachments (532-569, 734-761)
        → allowed filter ⟂ seen = attachment candidates (non-html: depth 1)
      → ONE fetch: candidates ∪ attachment candidates, semi-join pages
        → mark downloaded, local_path                   (665-725)
      → returns rows: attachment documents, attachment seen rows, marks

``download_rows`` merges nothing: the crawl engine folds its rows into the
round's one ``merge_documents`` and one ``merge_seen``, and
``run_download_stage`` (the stand-alone stage) does the same with its own
two merges.

Downloads are idempotent per URL, so the batch outcome (downloaded set,
document tree) equals the reference's serial walk outcome — pinned by
tests/test_downloads.py against the extended pure-Python model.

Stage counters ride as ``observe()`` metrics on the stage's rows and are
read by a function the caller invokes after its own materializing action:
inside the crawl engine they fire with the per-round state pins — zero
standalone count() jobs — while a direct caller that reads them before any
action falls back to count(). The attachment expansion is built
unconditionally (an empty attachment set makes every added operator a
runtime no-op under AQE's empty-relation propagation), because branching on
the count was the one counter the plan needed eagerly.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import native
from ..functions.pandas_udfs import structured_filename as structured_filename_udf
from ..parsers import udfs
from .frontier import _obs_long
from .state import merge_documents, merge_seen, seen_rows


def _allowed(col, allowed_types: list[str] | None):
    if allowed_types is None:
        return F.lit(True)
    return F.lower(col).isin([t.lower() for t in allowed_types])


def _norm_type():
    return F.lower(
        F.coalesce(F.col("doc_type"), native.classify_document_type(F.col("url")))
    )


def download_rows(
    pages: DataFrame,
    seen: DataFrame,
    allowed_types: list[str] | None = None,
    existing_files: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, Callable[[], dict]]:
    """One round's download work over the candidate set ``seen``, merging
    nothing. Returns (atts, att_seen, marks, metrics): the attachment rows
    for ``merge_documents``; the attachments as undownloaded seen rows and
    one downloaded mark per fetched or reused url, both for ``merge_seen`` in
    that order; and a function returning the stage counters. Call it AFTER
    the caller's materializing action (the engine does, after its state
    pins) to keep the stage count-job-free; it releases the stage caches.

    ``pages`` doubles as the network: a URL "downloads" iff present there,
    and is fetched, marked and counted once however many snapshot rows it
    has. ``existing_files(local_path)`` is the output-dir listing for the
    reuse-existing join."""
    cand = (
        seen.where(~F.coalesce("downloaded", F.lit(False)))
        .withColumn("_ntype", _norm_type())
        .where(native.is_supported_scheme(F.col("url")))
        .where(_allowed(F.col("_ntype"), allowed_types))
        .withColumn("_fname", structured_filename_udf(F.col("url"), F.col("_ntype")))
        .persist()
    )

    # reuse-existing: expected structured filename already on disk
    obs_reused = reused = None
    todo = cand
    if existing_files is not None:
        listing = existing_files.select(F.col("local_path").alias("_fname")).distinct()
        obs_reused = Observation()
        reused = cand.join(F.broadcast(listing), "_fname", "left_semi").observe(
            obs_reused, F.count(F.lit(1)).alias("n")
        )
        todo = cand.join(F.broadcast(listing), "_fname", "left_anti")

    # html candidates → one level of detail-attachment expansion; the join
    # with the pages' html is their fetch. The parse's pass-through label
    # column carries each page's entry_id. Each snapshot of a page is
    # parsed; dropDuplicates folds identical snapshots' rows.
    html_pages = todo.where(F.col("_ntype") == "html").select(
        F.col("entry_id").alias("task"), "url"
    ).join(pages.select("url", "html"), "url")
    obs_atts = Observation()
    atts = udfs.parse_detail_attachments(html_pages).withColumn(
        "_ntype", _norm_type()
    ).where(
        native.is_supported_scheme(F.col("url")) & _allowed(F.col("_ntype"), allowed_types)
    ).select(
        F.col("task").alias("entry_id"), "url", F.col("_ntype").alias("doc_type"), "title",
        F.col("att_pos").cast("long").alias("_src_pos"),
    ).dropDuplicates().observe(obs_atts, F.count(F.lit(1)).alias("n")).persist()

    # attachment candidates: attachments not already in seen, one row per
    # url (an attachment linked from several detail pages downloads once);
    # the newest-wins pick of merge_seen, with a total order for ties
    newest = Window.partitionBy("url").orderBy(F.desc("_src_pos"), "entry_id", "title")
    att_cand = (
        atts.join(seen.select("url"), "url", "left_anti")
        .withColumn("_rn", F.row_number().over(newest))
        .where(F.col("_rn") == 1)
        .select(
            "entry_id", "url", "title", F.col("doc_type").alias("_ntype"),
            structured_filename_udf(F.col("url"), F.col("doc_type")).alias("_fname"),
        )
    )

    # ONE fetch over both candidate sets (disjoint: att_cand excludes seen,
    # todo is in seen); a semi-join fetches a multi-snapshot url once
    obs_fetched = Observation()
    fetched = todo.select(*att_cand.columns).unionByName(att_cand).join(
        pages.select("url"), "url", "left_semi"
    ).observe(obs_fetched, F.count(F.lit(1)).alias("n"))

    def mark(df: DataFrame) -> DataFrame:
        # one mark per url: fetched and reused are disjoint url sets
        return df.select(
            "url", "entry_id", "title", F.col("_ntype").alias("doc_type"),
            F.lit(True).alias("downloaded"), F.col("_fname").alias("local_path"),
            F.lit(0).cast("long").alias("_src_pos"),
        )

    marks = mark(fetched) if reused is None else mark(fetched).unionByName(mark(reused))

    def metrics() -> dict:
        n_fetched = _obs_long(obs_fetched, "n", fetched.count)
        n_atts = _obs_long(obs_atts, "n", atts.count)
        n_reused = _obs_long(obs_reused, "n", reused.count) if reused is not None else 0
        for df in (cand, atts):
            df.unpersist()
        return {
            "files_downloaded": n_fetched,
            "files_reused": n_reused,
            "attachments_discovered": n_atts,
        }

    return atts, seen_rows(atts), marks, metrics


def run_download_stage(
    spark: SparkSession,
    pages: DataFrame,
    seen: DataFrame,
    documents: DataFrame,
    allowed_types: list[str] | None = None,
    existing_files: DataFrame | None = None,
    verify_local: bool = False,
) -> tuple[DataFrame, DataFrame, Callable[[], dict]]:
    """One download round on its own: ``download_rows`` plus one merge per
    table. Returns (seen', documents', metrics) — ``metrics`` as in
    ``download_rows``. ``verify_local`` first clears the flag of downloaded
    rows whose file is missing from ``existing_files``."""
    if verify_local and existing_files is not None:
        listing = existing_files.select(F.col("local_path").alias("_lp")).distinct()
        seen = (
            seen.join(listing, seen.local_path == F.col("_lp"), "left")
            .withColumn(
                "downloaded",
                F.when(
                    F.col("downloaded") & F.col("local_path").isNotNull() & F.col("_lp").isNull(),
                    F.lit(False),
                ).otherwise(F.col("downloaded")),
            )
            .drop("_lp")
        )
    atts, att_seen, marks, metrics = download_rows(pages, seen, allowed_types, existing_files)
    return merge_seen(seen, att_seen, marks), merge_documents(documents, atts), metrics
