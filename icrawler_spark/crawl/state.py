"""Crawl state tables + snapshot checkpointing (Iceberg stand-in).

The reference keeps all state in one JSON file rewritten after every download
(ref state.py:368-381 — the 10^10-scale bottleneck). Here state lives in
parquet snapshot tables committed once per round with an atomic marker, which
gives the two properties the north_rule demands:

- *resumability*: a killed job resumes from the last committed round — the
  commit marker is written only after every table of the round is fully on
  disk (write-ahead ordering, rename-free because parquet dirs are written
  once and never mutated);
- *per-partition lineage/metrics*: each round commits a metrics table keyed
  by round, with the round's counters.

``SnapshotStore`` owns the round directory: its layout, the one write path
(``write`` for tables, ``write_bytes`` for blobs) and the commit. The engine
names tables; it never builds a path.

On a real cluster these tables are Iceberg ``MERGE INTO`` targets; the merge
functions below implement the same upsert semantics as deterministic
DataFrame batch operations (one merge per table per round — SURVEY §4 hard
part (d)) of one shape: ``_generations`` stacks ``existing`` as generation 0
with the round's deltas after it, and one window keyed by the table's key,
ordered by generation, then ``_src_pos``, folds them. ``merge_seen``,
``merge_documents`` and ``merge_entries`` all take it.

Merge semantics replicated from the reference:
- ``merge_seen``     — per-URL upsert, newest generation first; ``downloaded``
                       is never un-set (ref state.py:164-172, 186-228)
- ``resolve_entry_identity`` — incoming entries adopt the entry_id of any
                       existing entry sharing a document URL; otherwise a
                       derived id: first html doc url → first doc url →
                       title::remark → serial::N (ref state.py:17-44, 56-132)
- ``merge_documents`` — per-(entry,url) dedup, oldest generation first, then
                       first-wins in discovery order (ref state.py:134-184)
- ``merge_entries``  — per-entry upsert: an existing entry keeps its task and
                       serial and takes the batch's title/remark; a new entry
                       gets a serial from the reference's sequential walk, one
                       per task (ref state.py:56-132)
"""

from __future__ import annotations

import functools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_MARKER = "_COMMITTED"


class SnapshotStore:
    """The one reader and writer of the round directory: ``round=NNNNNN/<name>``
    parquet tables and blobs, and the ``_COMMITTED`` marker."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, rnd: int, name: str) -> str:
        return os.path.join(self.root, f"round={rnd:06d}", name)

    def latest_committed_round(self) -> int | None:
        rounds = [int(n.split("=")[1]) for n in os.listdir(self.root)
                  if n.startswith("round=") and os.path.exists(os.path.join(self.root, n, _MARKER))]
        return max(rounds, default=None)

    def drop_uncommitted(self) -> None:
        """Delete the round directories after the last committed round: a
        crashed attempt's writes, which its retry would otherwise commit
        beside its own (a table the retry does not write again)."""
        last = self.latest_committed_round()
        for n in os.listdir(self.root):
            if n.startswith("round=") and (last is None or int(n.split("=")[1]) > last):
                shutil.rmtree(os.path.join(self.root, n))

    def write(self, rnd: int, name: str, df: DataFrame) -> DataFrame:
        """Write table ``name`` of round ``rnd``; return it read back with the
        schema it was written with, which starts no schema-inference job."""
        path = self._path(rnd, name)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.schema(df.schema).parquet(path)

    def read(self, rnd: int, name: str) -> DataFrame | None:
        """Table ``name`` of round ``rnd``, or None if the round has none."""
        return self.spark.read.parquet(self._path(rnd, name)) if self.has_table(rnd, name) else None

    def has_table(self, rnd: int, name: str) -> bool:
        return os.path.isdir(self._path(rnd, name))

    def write_bytes(self, rnd: int, name: str, data: bytes) -> None:
        """Write blob ``name`` of round ``rnd`` whole or not at all: the
        bytes go to a temp file in the round dir, renamed over the name."""
        path = self._path(rnd, name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp"
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, path)

    def read_bytes(self, rnd: int, name: str) -> bytes | None:
        """Blob ``name`` of round ``rnd``, or None if the round has none."""
        path = self._path(rnd, name)
        if not os.path.exists(path):
            return None
        with open(path, "rb") as fh:
            return fh.read()

    def commit(self, rnd: int) -> None:
        """Mark round ``rnd`` complete; call it after every other write of the
        round has returned. The marker appears atomically (``write_bytes``):
        a crash mid-write leaves no marker, never a partial one."""
        self.write_bytes(rnd, _MARKER, b"ok\n")


# --- merge semantics ----------------------------------------------------------


def _with_pos(df: DataFrame) -> DataFrame:
    """Rows without ``_src_pos`` get a deterministic content-hash
    pseudo-order (repartition-stable) — never ``monotonically_increasing_id``,
    whose partition-layout dependence would make the winner flip under an
    upstream repartition."""
    if "_src_pos" in df.columns:
        return df
    return df.withColumn("_src_pos", F.xxhash64(*[F.col(c) for c in df.columns]))


def _generations(existing: DataFrame | None, deltas: tuple[DataFrame, ...], cols: list[str]) -> DataFrame:
    """``existing`` as generation 0 (``_src_pos`` −1 where it has none) stacked
    with ``deltas[i]`` as generation i+1, projected to ``cols``."""
    if existing is not None and "_src_pos" not in existing.columns:
        existing = existing.withColumn("_src_pos", F.lit(-1).cast("long"))
    parts = [] if existing is None else [existing.select(*cols, F.lit(0).alias("_gen"))]
    parts += [_with_pos(d).select(*cols, F.lit(g).alias("_gen")) for g, d in enumerate(deltas, 1)]
    return functools.reduce(DataFrame.unionByName, parts)


def seen_rows(docs: DataFrame) -> DataFrame:
    """Document rows as not-yet-downloaded ``merge_seen`` delta rows."""
    return docs.select(
        "url", "entry_id", "title", "doc_type", F.lit(False).alias("downloaded"),
        F.lit(None).cast("string").alias("local_path"), "_src_pos",
    )


def merge_seen(existing: DataFrame | None, *deltas: DataFrame) -> DataFrame:
    """MERGE INTO seen USING each delta ON url (ref state.py:173-228), every
    delta of a round folded in ONE window.

    - new URLs are inserted;
    - matched URLs take the NEWEST provided (non-null) title/type/path —
      ``mark_downloaded`` overwrites these fields in the reference
      (state.py:186-228) — while ``downloaded`` only ever upgrades
      false→true (state.py:164-172);
    - newest = the latest delta, then the greatest ``_src_pos`` (discovery
      order) within it; ``existing`` is oldest.

    Equal to folding the deltas one merge at a time, in the given order."""
    cols = ["url", "entry_id", "title", "doc_type", "downloaded", "local_path", "_src_pos"]
    b = _generations(existing, deltas, cols)
    order = (F.desc("_gen"), F.desc("_src_pos"))
    newest = Window.partitionBy("url").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pick = Window.partitionBy("url").orderBy(*order)
    # truthy-wins like the reference file records (state.py:173-184): an
    # empty-string title/type/path never overwrites a real value
    return (
        b.withColumn("_rn", F.row_number().over(pick))
        .withColumn("_dl", F.max(F.coalesce(F.col("downloaded"), F.lit(False)).cast("int")).over(newest))
        .withColumn("_entry", F.first("entry_id", ignorenulls=True).over(newest))
        .withColumn("_title", F.first(F.nullif(F.col("title"), F.lit("")), ignorenulls=True).over(newest))
        .withColumn("_type", F.first(F.nullif(F.col("doc_type"), F.lit("")), ignorenulls=True).over(newest))
        .withColumn("_path", F.first(F.nullif(F.col("local_path"), F.lit("")), ignorenulls=True).over(newest))
        .where(F.col("_rn") == 1)
        .select(
            "url",
            F.col("_entry").alias("entry_id"),
            F.col("_title").alias("title"),
            F.col("_type").alias("doc_type"),
            (F.col("_dl") == 1).alias("downloaded"),
            F.col("_path").alias("local_path"),
        )
    )


def resolve_entry_identity(new_entries: DataFrame, existing_documents: DataFrame | None) -> DataFrame:
    """Assign entry_id to incoming parsed entries (ref state.py:17-44, 59-86).

    new_entries: (task, page_url, entry_pos, serial, title, remark,
    documents:array<struct{doc_type,url,title}>).

    Identity resolution = explode incoming doc URLs, left-join existing
    ``documents(entry_id, url)``, adopt the first matching entry_id (by doc
    position); otherwise derive: first html doc url → first doc url →
    'title::remark' → 'serial::N'.
    """
    # per-row key for the explode→join-back identity resolution. MUST be a
    # pure function of row content: the plan branches (ne + exploded), and a
    # monotonically_increasing_id recomputed per-branch under different
    # partition layouts would break the self-join. (page_url, entry_pos) is
    # unique per parsed entry by construction.
    ne = new_entries.withColumn(
        "_eid",
        F.concat_ws("\u001f", F.col("page_url"), F.col("entry_pos").cast("string")),
    )
    # F.get (not [0]): ANSI mode throws on out-of-bounds for entries whose
    # documents array is empty — get() returns NULL and coalesce moves on
    derived = (
        F.coalesce(
            F.get(F.filter(F.col("documents"), lambda d: d["doc_type"] == "html"), 0)["url"],
            F.get(F.col("documents"), 0)["url"],
            F.when(
                (F.coalesce(F.col("title"), F.lit("")) != "")
                | (F.coalesce(F.col("remark"), F.lit("")) != ""),
                F.concat_ws("::", F.coalesce(F.col("title"), F.lit("")), F.coalesce(F.col("remark"), F.lit(""))),
            ),
            F.concat(F.lit("serial::"), F.col("serial").cast("string")),
            # degenerate row (no docs/title/remark/serial): position key so
            # the id is never NULL
            F.concat(F.lit("pos::"), F.col("_eid")),
        )
    )
    ne = ne.withColumn("_derived_id", derived)
    if existing_documents is None:
        return ne.withColumn("entry_id", F.col("_derived_id")).drop("_eid", "_derived_id")

    exploded = ne.select(
        "_eid", F.posexplode_outer("documents").alias("_pos", "_doc")
    ).select("_eid", "_pos", F.col("_doc.url").alias("_durl"))
    match = (
        exploded.join(
            existing_documents.select(F.col("url").alias("_durl"), F.col("entry_id").alias("_matched")),
            "_durl",
        )
        .groupBy("_eid")
        .agg(F.min_by("_matched", "_pos").alias("_matched"))
    )
    return (
        ne.join(match, "_eid", "left")
        .withColumn("entry_id", F.coalesce(F.col("_matched"), F.col("_derived_id")))
        .drop("_eid", "_derived_id", "_matched")
    )


def merge_documents(existing: DataFrame | None, *deltas: DataFrame) -> DataFrame:
    """Per-(entry_id, url) dedup in ONE window over every delta of a round
    (ref state.py:134-184): existing rows win, then the earliest delta, then
    first-in-delta (least ``_src_pos``) — equal to folding the deltas one
    merge at a time, in the given order. Each delta: (entry_id, url,
    doc_type, title, _src_pos).

    The output RETAINS ``_src_pos`` (each row's original discovery
    position): downstream consumers — the state-export document arrays and
    the search index's best_path pick — need the insertion order the
    reference preserves, and it must survive merges as data."""
    cols = ["entry_id", "url", "doc_type", "title", "_src_pos"]
    w = Window.partitionBy("entry_id", "url").orderBy("_gen", "_src_pos")
    return (
        _generations(existing, deltas, cols)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(*cols)
    )


def merge_entries(existing: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Entry metadata upsert (ref state.py:56-132) in the generation shape
    of the other merges: ``existing`` is generation 0, ``batch`` is 1, and
    ONE window per ``entry_id`` folds them.

    - the oldest row (``_gen``, then ``_src_pos``) supplies task and serial:
      a matched entry KEEPS its task and serial, a new entry takes its first
      batch row;
    - title/remark = the first batch row's value, else the existing one
      (a NULL falls back, ``''`` overwrites);
    - ``_fresh`` marks an entry with no generation-0 row.

    New entries keep a valid unconflicted serial, otherwise get the
    reference's sequential ``next_serial`` (current max + 1 at their
    processing position). The reference processes entries one at a time,
    and ``serial_in_use`` (ref state.py:110-118) includes serials
    kept/ASSIGNED by earlier entries of the same batch — so a literal serial
    equal to a value the walk just assigned must itself be reassigned.
    Cleanliness is therefore data-dependent on earlier assignments: a
    forward recurrence no fixed window expression can close over (a window
    formula misses the literal-equals-earlier-assigned collision, e.g. batch
    [(A, None), (B, 1)] must yield A=1, B=2). So the walk is one Arrow group
    PER TASK over all of the task's rows: serial uniqueness in the reference
    is per state file, i.e. per task (ref state.py:368-381), so tasks are
    independent serial spaces and walk in parallel. Existing rows pass
    through and seed the walk's used set and running max; a task's rows are
    its listing (10^3-10^4, the reference's one JSON state file) — never
    the URL frontier.

    batch: (entry_id, task, serial, title, remark[, _src_pos])."""
    cols = ["entry_id", "task", "serial", "title", "remark", "_src_pos"]
    w = Window.partitionBy("entry_id").orderBy("_gen", "_src_pos")
    every = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    first_b = F.first(F.when(F.col("_gen") > 0, F.struct("title", "remark")), ignorenulls=True).over(every)
    folded = (
        _generations(existing, (batch,), cols)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_b", first_b)
        .where(F.col("_rn") == 1)
        .select(
            "entry_id", "task", "serial",
            F.coalesce(F.col("_b.title"), F.col("title")).alias("title"),
            F.coalesce(F.col("_b.remark"), F.col("remark")).alias("remark"),
            "_src_pos", (F.col("_gen") > 0).alias("_fresh"),
        )
    )

    # Exact sequential walk (ref state.py:124-132): a fresh row keeps its
    # serial iff valid (>0) and unused by the task's existing entries and by
    # earlier kept/ASSIGNED serials of the batch; otherwise next_serial =
    # running max + 1.
    def _serial_walk(pdf):
        import pandas as pd

        pdf = pdf.sort_values("_src_pos", kind="mergesort").reset_index(drop=True)
        old = pdf["serial"].where(~pdf["_fresh"]).dropna().astype("int64")
        used = set(old.tolist())
        mx = int(old.max()) if len(old) else 0
        out = []
        for s, fresh in zip(pdf["serial"], pdf["_fresh"]):
            if not fresh:
                out.append(None if pd.isna(s) else int(s))
                continue
            v = int(s) if not pd.isna(s) and int(s) > 0 and int(s) not in used else mx + 1
            used.add(v)
            mx = max(mx, v)
            out.append(v)
        pdf = pdf.assign(serial=pd.array(out, dtype="Int32"))
        return pdf[["entry_id", "task", "serial", "title", "remark"]]

    return folded.groupBy("task").applyInPandas(
        _serial_walk,
        "entry_id string, task string, serial int, title string, remark string",
    )


def compact_tables(entries: DataFrame, documents: DataFrame) -> tuple[DataFrame, DataFrame, dict]:
    """Dedupe-maintenance pass (ref scripts/dedupe_state.py:60-97): collapse
    entries that share any document URL into one canonical entry (the
    re-canonicalization ``from_jsonable``→``ensure_entry`` performs), and
    drop duplicate (entry, url) document rows.

    One-step collapse: url → min(entry_id) → entry remap; the reference's
    incremental ensure_entry is also single-step per entry. Returns
    (entries', documents', metrics)."""
    canon_by_url = documents.groupBy("url").agg(F.min("entry_id").alias("_canon"))
    entry_map = (
        documents.join(canon_by_url, "url")
        .groupBy("entry_id")
        .agg(F.min("_canon").alias("_target"))
    )
    remapped_docs = (
        documents.join(entry_map, "entry_id", "left")
        .withColumn("entry_id", F.coalesce(F.col("_target"), F.col("entry_id")))
        .drop("_target")
    )
    # remapped_docs keeps its _src_pos (merge_documents retains it), so
    # first-wins after the remap is still discovery order
    docs2 = merge_documents(None, remapped_docs)
    ent2 = (
        entries.join(entry_map, "entry_id", "left")
        .withColumn("_target", F.coalesce(F.col("_target"), F.col("entry_id")))
        .where(F.col("entry_id") == F.col("_target"))
        .drop("_target")
    )
    metrics = {
        "entries_before": entries.count(),
        "entries_after": ent2.count(),
        "documents_before": documents.count(),
        "documents_after": docs2.count(),
    }
    return ent2, docs2, metrics
