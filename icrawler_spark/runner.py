"""Task runner: the reference CLI's five actions over the Spark engine.

Mirrors ref runner.py — action handlers 368-531, setting resolution 533-543,
task building 17-125, main 750+ — with the thread pipeline replaced by the
batch frontier engine:

- **preview**           snapshot one cached listing page's parsed structure
- **cache-start**       materialize the start page into the page cache table
- **build-structure**   bounded listing crawl → structure snapshot (JSON)
- **download-from-structure**  structure doc URLs → download stage → state
- **monitor** (default) the full frontier loop (crawl + parse + merge)

Setting precedence is the reference's: CLI override > task entry > global
config (ref runner.py:533-543 ``_resolve_setting``). ``--task NAME`` must
match a configured task or the run aborts (ref runner.py:88-89).

The "HTTP fetch" of every action is the pages-table join — this engine's
fetch primitive — so all five actions run identically against a WARC-style
corpus, the synthetic bench corpus, or a cached-pages directory.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession, functions as F

from .config import HttpOptions, TaskSpec, load_tasks
from .crawl import CrawlConfig, CrawlEngine
from .crawl.export import state_export_json
from .parsers import listing


def resolve_setting(cli_value, task_value, config: dict, key: str, default=None):
    """CLI > task > global config > default (ref runner.py:533-543)."""
    if cli_value is not None:
        return cli_value
    if task_value is not None:
        return task_value
    if isinstance(config, dict) and config.get(key) is not None:
        return config.get(key)
    return default


def build_tasks(config: dict, task_filter: str | None = None,
                start_url: str | None = None) -> list[TaskSpec]:
    """ref runner.py:17-125: a CLI start_url overrides the task list with a
    single ad-hoc task; otherwise configured tasks (optionally filtered)."""
    if start_url:
        return [TaskSpec(name=task_filter or "default", start_url=start_url)]
    tasks = load_tasks(config)
    if task_filter:
        tasks = [t for t in tasks if t.name == task_filter]
        if not tasks:
            raise SystemExit(f"Task '{task_filter}' not found in configuration")
    return tasks


def _page_html(pages: DataFrame, url: str) -> str | None:
    row = pages.where(F.col("url") == url).select("html").limit(1).collect()
    if not row:
        return None
    data = row[0].html
    return data.decode("utf-8", "replace") if isinstance(data, (bytes, bytearray)) else data


def preview_action(pages: DataFrame, task: TaskSpec, target_url: str | None = None) -> dict:
    """ref _handle_preview_action (runner.py:368-383): parse one cached page
    and emit its structure snapshot."""
    url = target_url or task.start_url
    html = _page_html(pages, url)
    if html is None:
        return {"url": url, "error": "page_not_cached"}
    entries = listing.extract_listing_entries(url, html, task.parser_dialect)
    meta = listing.extract_pagination_meta(url, html, task.start_url)
    return {
        "url": url,
        "task": task.name,
        "entries": entries,
        "pagination": {
            "links": meta["links"],
            "next": meta.get("next"),
            "prev": meta.get("prev"),
        },
    }


def cache_start_action(spark: SparkSession, pages: DataFrame, task: TaskSpec,
                       cache_dir: str | None = None) -> dict:
    """ref _handle_cache_start_action (runner.py:385-457): fetch the start
    page into the cache. Here: project the page row out of the corpus and,
    when a cache_dir is given, write it as a one-row parquet cache shard."""
    if not task.start_url:
        raise SystemExit("start_url must be provided to fetch listing HTML")
    row = pages.where(F.col("url") == task.start_url).limit(1)
    cached = row.collect()
    if not cached:
        return {"url": task.start_url, "cached": False}
    if cache_dir:
        row.write.mode("overwrite").parquet(f"{cache_dir}/start_page")
    return {
        "url": task.start_url,
        "cached": True,
        "bytes": len(cached[0].html or b""),
    }


def build_structure_action(spark: SparkSession, pages: DataFrame, task: TaskSpec,
                           max_rounds: int = 50) -> dict:
    """ref _handle_build_structure_action (runner.py:459-494): walk the
    listing pagination and snapshot every entry + document. One bounded
    frontier crawl with entry parsing on."""
    if not task.start_url:
        raise SystemExit("start_url must be provided to dump listing structure")
    eng = CrawlEngine(
        spark, pages,
        CrawlConfig(start_url=task.start_url, task=task.name,
                    dialect=task.parser_dialect, max_rounds=max_rounds),
    )
    eng.run()
    snapshot = json.loads(state_export_json(eng.entries, eng.documents, eng.seen))
    snapshot["task"] = task.name
    snapshot["start_url"] = task.start_url
    snapshot["pages_visited"] = sum(m.pages_fetched for m in eng.metrics)
    return snapshot


def download_from_structure_action(spark: SparkSession, pages: DataFrame,
                                   task: TaskSpec, structure: dict) -> dict:
    """ref _handle_download_action (runner.py:497-531): take a structure
    snapshot's document URLs through the download stage and report the
    updated state."""
    from .crawl.downloads import run_download_stage
    from .crawl.state import merge_documents, merge_entries, merge_seen

    rows_e, rows_d, rows_s = [], [], []
    pos = 0
    for e in structure.get("entries", []):
        eid = None
        for d in e.get("documents", []):
            eid = eid or d.get("url")
        eid = eid or f"serial::{e.get('serial')}"
        rows_e.append((eid, task.name, e.get("serial"), e.get("title"), e.get("remark"), pos))
        for d in e.get("documents", []):
            rows_d.append((eid, d.get("url"), d.get("type"), d.get("title") or "", pos))
            rows_s.append((d.get("url"), eid, d.get("title") or "", d.get("type"),
                           bool(d.get("downloaded")), d.get("local_path"), pos))
            pos += 1
        pos += 1
    entries = merge_entries(None, spark.createDataFrame(
        rows_e, "entry_id string, task string, serial int, title string, remark string, _src_pos long"))
    documents = merge_documents(None, spark.createDataFrame(
        rows_d, "entry_id string, url string, doc_type string, title string, _src_pos long"))
    seen = merge_seen(None, spark.createDataFrame(
        rows_s, "url string, entry_id string, title string, doc_type string, "
                "downloaded boolean, local_path string, _src_pos long"))
    seen, documents, metrics = run_download_stage(
        spark, pages, seen, documents, allowed_types=task.allowed_types or None)
    counts = metrics()
    return {
        "task": task.name,
        "files_downloaded": counts["files_downloaded"],
        "files_reused": counts["files_reused"],
        "state": json.loads(state_export_json(entries, documents, seen)),
    }


def monitor_action(spark: SparkSession, pages: DataFrame, task: TaskSpec,
                   max_rounds: int = 1000, checkpoint_dir: str | None = None,
                   round_duration_s: float = 60.0) -> dict:
    """The default action (ref _run_task runner.py:546-747): continuous
    monitor rounds with per-host politeness from the task's HTTP options."""
    budget = task.http.host_budget(round_duration_s)
    eng = CrawlEngine(
        spark, pages,
        CrawlConfig(start_url=task.start_url, task=task.name,
                    dialect=task.parser_dialect, max_rounds=max_rounds,
                    host_budget=budget, download_docs=True,
                    allowed_types=task.allowed_types or None,
                    checkpoint_dir=checkpoint_dir),
    )
    metrics = eng.run()
    return {
        "task": task.name,
        "rounds": len(metrics),
        "pages_fetched": sum(m.pages_fetched for m in metrics),
        "files_downloaded": sum(m.files_downloaded for m in metrics),
        "entries": eng.entries.count() if eng.entries is not None else 0,
    }


def run_task(spark: SparkSession, pages: DataFrame, task: TaskSpec,
             args: argparse.Namespace) -> dict:
    """Action dispatch in the reference's precedence order
    (runner.py:632-681: preview → cache-start → build-structure →
    download-from-structure → monitor)."""
    if args.preview:
        return preview_action(pages, task, None if args.preview == "-" else args.preview)
    if args.cache_start_page:
        return cache_start_action(
            spark, pages, task,
            None if args.cache_start_page in ("-", "page.html") else args.cache_start_page,
        )
    if args.build_structure:
        out = build_structure_action(spark, pages, task)
        if args.build_structure != "-":
            with open(args.build_structure, "w", encoding="utf-8") as fh:
                json.dump(out, fh, ensure_ascii=False, indent=2)
        return out
    if args.download_from_structure:
        with open(args.download_from_structure, encoding="utf-8") as fh:
            structure = json.load(fh)
        return download_from_structure_action(spark, pages, task, structure)
    return monitor_action(spark, pages, task, checkpoint_dir=args.checkpoint_dir)


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="icrawler-spark", description=__doc__)
    p.add_argument("--config", help="pbc_config.json-shaped task config")
    p.add_argument("--task", help="run only the named configured task")
    p.add_argument("--start-url", help="ad-hoc task start URL (overrides config tasks)")
    p.add_argument("--pages", help="parquet path of the pages corpus (url, warc_ts, html, text, lang)")
    p.add_argument("--preview", metavar="URL", help="snapshot one cached page's structure")
    p.add_argument("--cache-start-page", metavar="PATH", help="cache the start page")
    p.add_argument("--build-structure", metavar="PATH", help="dump the listing structure snapshot")
    p.add_argument("--download-from-structure", metavar="PATH", help="download documents listed in a structure file")
    p.add_argument("--checkpoint-dir", help="resumable snapshot root for monitor runs")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    config: dict = {}
    if args.config:
        with open(args.config, encoding="utf-8") as fh:
            config = json.load(fh)
    tasks = build_tasks(config, args.task, args.start_url)
    if not tasks:
        print("no tasks configured", file=sys.stderr)
        return 2
    from .session import get_spark

    spark = get_spark()
    pages = spark.read.parquet(args.pages) if args.pages else None
    if pages is None:
        print("--pages is required (no live HTTP in this engine)", file=sys.stderr)
        return 2
    for task in tasks:
        result = run_task(spark, pages, task, args)
        print(json.dumps(result, ensure_ascii=False))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
