"""robots.txt rules as a joined predicate (north_rule requirement).

The reference has no robots handling (its politeness is delay/jitter only —
ref fetcher.py:28-30); the north_rule adds it. Design: robots.txt documents
are parsed (driver- or executor-side, they are tiny) into a small rules
table ``(netloc, path_prefix, allow, rule_len)`` that is BROADCAST-joined
against the frontier as a predicate — no per-row Python in the filter path.

Matching follows RFC 9309 longest-match: among all rules of the URL's host
whose prefix matches the path, the longest wins; ties prefer Allow. Hosts
with no rules are allowed. Only ``User-agent: *`` groups are consulted (the
engine crawls as a generic agent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import native

RULES_SCHEMA = "netloc string, path_prefix string, allow boolean, rule_len int"


def parse_robots_txt(netloc: str, text: str) -> list[tuple[str, str, bool, int]]:
    """robots.txt → rule rows for User-agent: * groups.

    Returns (netloc, path_prefix, allow, rule_len). Empty Disallow lines
    (allow-all) produce no rule. '*' wildcards are truncated at the first
    wildcard (prefix semantics only — conservative superset for Allow,
    subset for Disallow is avoided by keeping the pre-wildcard prefix)."""
    rules: list[tuple[str, str, bool, int]] = []
    applies = False
    saw_any_agent = False
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, value = line.split(":", 1)
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if saw_any_agent and applies and value != "*":
                # a new non-* group after our group ends it
                applies = False
            if value == "*":
                applies = True
            saw_any_agent = True
        elif field in ("allow", "disallow") and applies:
            if not value:
                continue
            prefix = value.split("*", 1)[0]
            if not prefix.startswith("/"):
                prefix = "/" + prefix
            rules.append((netloc.lower(), prefix, field == "allow", len(value)))
    return rules


def robots_rules_df(spark, robots_docs: dict[str, str]) -> DataFrame:
    """{netloc: robots.txt text} → broadcastable rules table."""
    rows = []
    for netloc, text in sorted(robots_docs.items()):
        rows.extend(parse_robots_txt(netloc, text))
    if not rows:
        return spark.createDataFrame([], RULES_SCHEMA)
    return spark.createDataFrame(rows, RULES_SCHEMA)


def apply_robots_filter(frontier: DataFrame, rules: DataFrame) -> DataFrame:
    """Drop frontier rows disallowed by the rules table.

    Join on netloc (broadcast — robots corpora are tiny relative to the
    frontier), prefix-match the path, longest rule wins, tie → Allow, no
    matching rule / no rules for host → allowed."""
    path = F.coalesce(F.try_parse_url(F.col("url"), F.lit("PATH")), F.lit("/"))
    fr = frontier.withColumn("_path", F.when(path == "", "/").otherwise(path))
    r = rules.select(
        F.col("netloc").alias("_rnetloc"),
        "path_prefix",
        "allow",
        "rule_len",
    )
    joined = fr.join(
        F.broadcast(r),
        (F.col("netloc") == F.col("_rnetloc"))
        & F.col("_path").startswith(F.col("path_prefix")),
        "left",
    )
    # frontier urls are unique (post-dedup), so url partitions the match set
    w = Window.partitionBy("url").orderBy(
        F.desc(F.coalesce(F.col("rule_len"), F.lit(-1))),
        F.desc(F.coalesce(F.col("allow").cast("int"), F.lit(1))),
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .where(F.coalesce(F.col("allow"), F.lit(True)))
        .select(*frontier.columns)
    )


def parse_crawl_delay(text: str) -> float | None:
    """``Crawl-delay`` seconds from the ``User-agent: *`` group, if any.

    The directive is a de-facto extension (honored by Bing/Yandex; RFC 9309
    leaves it out), so parsing is lenient: last value in our group wins,
    non-numeric / negative values are ignored."""
    applies = False
    delay: float | None = None
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, value = line.split(":", 1)
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            applies = value == "*"
        elif field == "crawl-delay" and applies:
            try:
                d = float(value)
            except ValueError:
                continue
            if d >= 0:
                delay = d
    return delay


BUDGETS_SCHEMA = "netloc string, host_budget bigint"


def robots_budgets_df(spark, robots_docs: dict[str, str], round_seconds: float = 60.0) -> DataFrame:
    """Crawl-delay → per-host per-round fetch budgets.

    The batch-iterative engine has no per-request sleep; a delay of ``d``
    seconds maps onto the round model as "at most ``round_seconds / d``
    fetches for this host per round" (min 1 — a delay longer than the round
    still makes progress, one fetch per round, which is the budget model's
    granularity floor). Hosts without a Crawl-delay get no row — the
    engine's global ``host_budget`` (or unlimited) applies."""
    rows = []
    for netloc, text in sorted(robots_docs.items()):
        d = parse_crawl_delay(text)
        if d is not None and d > 0:
            rows.append((netloc.lower(), max(1, int(round_seconds // d))))
    if not rows:
        return spark.createDataFrame([], BUDGETS_SCHEMA)
    return spark.createDataFrame(rows, BUDGETS_SCHEMA)


def robots_docs_from_pages(pages: DataFrame) -> dict[str, str]:
    """Derive the robots corpus from the pages table itself: rows whose url
    is exactly ``scheme://host/robots.txt`` become {netloc: text}. Closes
    the everything-from-the-corpus loop (a Common-Crawl dump archives
    robots.txt responses like any other fetch), so
    ``robots_rules_df(spark, robots_docs_from_pages(pages))`` and
    ``robots_budgets_df(...)`` need no side-channel input.

    Driver-side collect is host-count-sized by construction (one row per
    host), the same boundary the rules/budgets tables already accept.
    Multi-snapshot corpora: the newest ``warc_ts`` row per host wins."""
    cand = pages.where(
        F.col("url").rlike(r"^[^:/?#]+://[^/?#]+/robots\.txt$")
    ).select(
        native.url_netloc(F.col("url")).alias("netloc"),
        F.col("html").cast("string").alias("text"),
        *([F.col("warc_ts")] if "warc_ts" in pages.columns else [F.lit(None).alias("warc_ts")]),
    )
    w = Window.partitionBy("netloc").orderBy(F.desc_nulls_last("warc_ts"), F.desc("text"))
    rows = (
        cand.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (F.col("netloc") != ""))
        .select("netloc", "text")
        .collect()
    )
    return {r.netloc: r.text or "" for r in rows}
