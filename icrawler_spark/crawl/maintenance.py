"""Filename-normalization maintenance (ref scripts/normalize_filenames.py).

The reference ships a maintenance CLI that walks the crawl state and renames
every downloaded attachment to the canonical structured filename, updating
``local_path`` in both the file record and its entry's document list
(ref scripts/normalize_filenames.py:45-140: downloaded-only, skip when the
target already exists, skip missing files, ``--dry-run``, ``.bak`` backup).

Spark-first split:

- :func:`normalize_filenames_plan` — the RENAME PLAN is columnar: expected
  name via the existing ``structured_filename`` pandas UDF, target path by
  string ops.
- :func:`apply_normalize_filenames` — filesystem renames and the state.json
  rewrite are driver-side by definition (one JSON artifact, local files):
  the collected plan is one row per downloaded file, the same contract
  boundary as the state exporter. Renames run in discovery (``_src_pos``)
  order like the reference's sequential walk: a target claimed by an earlier
  rename (a dry-run rename claims too) or already on disk is skipped, and a
  record skipped for a missing source file claims nothing, so the next
  record wanting that target is renamed.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def normalize_filenames_plan(seen: DataFrame) -> DataFrame:
    """seen(url, doc_type, downloaded, local_path, _src_pos) → plan rows
    ``(url, local_path, new_path, action, _src_pos)`` for downloaded files
    only; action ∈ already_ok | rename."""
    from ..functions.pandas_udfs import structured_filename as sf_udf

    files = seen.where(
        (F.col("downloaded") == True)  # noqa: E712 — Column op, not identity
        & F.col("local_path").isNotNull()
        & (F.col("local_path") != "")
    )
    basename = F.substring_index(F.col("local_path"), "/", -1)
    dirname = F.when(
        F.col("local_path").contains("/"),
        F.regexp_replace(F.col("local_path"), "/[^/]*$", ""),
    ).otherwise(F.lit(""))
    expected = sf_udf(F.col("url"), F.col("doc_type"))
    return files.select(
        "url",
        "local_path",
        F.when(dirname == "", expected)
        .otherwise(F.concat(dirname, F.lit("/"), expected))
        .alias("new_path"),
        F.when(basename == expected, F.lit("already_ok"))
        .otherwise(F.lit("rename"))
        .alias("action"),
        "_src_pos",
    )


def apply_normalize_filenames(
    spark: SparkSession,
    state_path: str,
    task: str = "task",
    *,
    dry_run: bool = False,
    backup: bool = True,
    base_dir: str | None = None,
) -> dict[str, int]:
    """Load state.json, compute the rename plan, execute it, rewrite state.

    Returns counters ``{"renamed", "skipped", "already_ok"}``. ``base_dir``
    resolves relative local_paths (default: the state file's directory, the
    reference resolves against its project root the same way)."""
    from .export import state_json_to_tables

    with open(state_path, encoding="utf-8") as fh:
        data = json.load(fh)
    _entries, _documents, seen = state_json_to_tables(spark, data, task)
    plan = normalize_filenames_plan(seen).orderBy("_src_pos").collect()

    root = base_dir if base_dir is not None else (os.path.dirname(state_path) or ".")

    def _abs(p: str) -> str:
        return p if os.path.isabs(p) else os.path.join(root, p)

    renamed = skipped = already_ok = 0
    new_by_url: dict[str, str] = {}
    claimed: set[str] = set()
    for row in plan:
        if row.action == "already_ok":
            already_ok += 1
            continue
        old_abs, new_abs = _abs(row.local_path), _abs(row.new_path)
        if new_abs in claimed:
            print(f"Skipping rename for {row.url}: target {row.new_path} already claimed")
            skipped += 1
            continue
        if os.path.exists(old_abs) and os.path.exists(new_abs) and old_abs != new_abs:
            print(f"Skipping rename for {row.url}: target {new_abs} already exists")
            skipped += 1
            continue
        if dry_run:
            renamed += 1
        elif os.path.exists(old_abs) and old_abs != new_abs:
            os.makedirs(os.path.dirname(new_abs) or ".", exist_ok=True)
            os.rename(old_abs, new_abs)
            renamed += 1
        elif os.path.exists(new_abs):
            pass  # already at the expected location; record the path fix
        else:
            print(f"File missing for {row.url}, leaving entry untouched")
            skipped += 1
            continue
        new_by_url[row.url] = row.new_path
        claimed.add(new_abs)

    if not new_by_url:
        print("Filenames already normalized; no changes made.")
        return {"renamed": 0, "skipped": skipped, "already_ok": already_ok}

    print(f"Files processed: renamed={renamed}, skipped={skipped}")
    if dry_run:
        print("Dry-run mode enabled; state file not modified.")
        return {"renamed": renamed, "skipped": skipped, "already_ok": already_ok}

    for ent in data.get("entries", []) if isinstance(data, dict) else []:
        if not isinstance(ent, dict):
            continue
        for doc in ent.get("documents") or []:
            if isinstance(doc, dict) and doc.get("url") in new_by_url:
                doc["local_path"] = new_by_url[doc["url"]]

    if backup:
        shutil.copy2(state_path, state_path + ".bak")
    tmp = state_path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(data, fh, ensure_ascii=False, indent=2)
    os.replace(tmp, state_path)
    return {"renamed": renamed, "skipped": skipped, "already_ok": already_ok}


def main(argv: list[str] | None = None) -> None:
    import argparse

    from ..session import get_spark

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("state", help="path to state.json")
    ap.add_argument("--task", default="task")
    ap.add_argument("--base-dir", default=None)
    ap.add_argument("--dry-run", action="store_true")
    ap.add_argument("--no-backup", action="store_true")
    args = ap.parse_args(argv)
    spark = get_spark(master="local[4]", shuffle_partitions=8)
    try:
        apply_normalize_filenames(
            spark,
            args.state,
            task=args.task,
            dry_run=args.dry_run,
            backup=not args.no_backup,
            base_dir=args.base_dir,
        )
    finally:
        spark.stop()


if __name__ == "__main__":  # pragma: no cover — thin CLI shim
    main()
