"""The batch-iterative frontier loop (north_rule core).

Re-architecture of the reference's FIFO listing-page walk
(ref pbc_monitor.py:188-260 ``iterate_listing_pages`` + 814-869
``collect_new_files``): one *round* = one BFS level (plus politeness
deferrals), executed as a dataflow:

    pending ──rank(host cap)──▶ batch ──join pages──▶ fetched
       ▲      deferred = pending ⟂ batch                │
       │                                 page-parse UDF, pinned once
       │                                        ┌───links────┴───entries──▶ merge state
       └──deferred ∪ (new ⟂ visited ⟂ deferred)◀┘

Politeness: each host's pending urls are ranked (priority, then FIFO) and
the first ``cap`` go into the batch, where ``cap`` is the host's
``host_budgets_df`` row, else ``host_budget``, and NULL (neither) means
unlimited. The host key is ``native.url_netloc`` (lower-cased host, no
port or userinfo) for seeds, links and budget rows alike.

Each fetched page is decoded and parsed once per round: one Arrow-batched
UDF emits the page's pagination links and listing entries, and both the
link stream and the entries merge read its one pin.

Crawl-order determinism (SURVEY §4 hard-part (a)): FIFO order is carried AS
DATA — every frontier row has ``(discovered_round, discovery_pos)`` where
discovery_pos is the global append position: new links are ranked by
(parent discovery_pos, link position in page) exactly like the reference's
append loop (pbc_monitor.py:249-254, first-wins dedup). Processing order =
sort by (discovered_round, discovery_pos); never partition order. Small
rounds assign DENSE positions with one window; big rounds assign SPARSE
but order-exact positions with NO shuffle of the links at all
(``next_pos + prefix_offset[parent] + link_pos + 1`` — see
``_assign_positions``): every consumer sorts by position value, none
indexes by it, so density is the cheap thing to trade for the one
per-round all-links exchange that profiling showed is a pure serial term
on a shared memory bus.

Seen-set: an *incremental* Bloom filter (only each round's batch is added,
before the round's probe: its set words are aggregated in the JVM from the
batch's xxhash64 keys and OR-ed into the driver bitmap) routes the
definitely-new majority around the exact anti-join; "maybe seen" candidates
go through the exact anti-join against visited, which already holds the
round's delta, so Bloom false positives cannot drop URLs (§4 hard-part (f)).

Skew: the fetch batch is repartitioned by ``pmod(xxhash64(netloc, round), N)``
— the salt varies per round so a hot host never pins the same partition, and
AQE's skew-join splitting covers the join side.

Checkpoints: with ``checkpoint_dir`` every write of a round (state tables,
lineage, metrics, the sketch blob, the commit marker) goes through
``state.SnapshotStore``; without it the pins are ``localCheckpoint``s.
Actions that do not read each other run together (``_together``): the
parse pin with the seen filter's batch add; the ``pending``, ``entries``,
``documents`` and ``seen`` pins with the ``lineage`` write; then the
``metrics`` table with the sketch blob. The order that matters holds:
``visited`` first, the parse before anything that reads links, and the
commit marker last and alone, once every other write has returned.

Scale notes: each state table is merged once per round — the listing
deltas and the download stage's rows (attachments, marks) fold in one
window per table — and written as a full snapshot here (parquet stand-in);
on a cluster each merge is an Iceberg ``MERGE INTO`` commit and the pages
"fetch" join targets a url-bucketed table so only the batch side shuffles.
The driver only ever sees counts and partition offsets — no row data is
collected.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import native
from ..parsers import udfs
from . import bloom as bloom_mod
from .state import (
    SnapshotStore, merge_documents, merge_entries, merge_seen, resolve_entry_identity, seen_rows,
)


@dataclass
class CrawlConfig:
    start_url: str | None = None
    seed_urls: list[str] | None = None  # wide-frontier seeding (recrawl lists)
    task: str = "task"
    dialect: str = "default"
    max_rounds: int = 1000
    host_budget: int | None = None     # max pages fetched per netloc per round
    n_host_shards: int = 32            # salted-partition count for fetch batch
    use_bloom: bool = True
    bloom_capacity: int = 1_000_000
    parse_entries: bool = True         # off for pure-frontier benchmarks
    download_docs: bool = False        # run the document download stage per round
    collect_images: bool = False       # GreedyImageCrawler mode: harvest
                                       # img-src/image-href targets per round
                                       # (parsers/links.image_links) into the
                                       # engine's `images` table
    allowed_types: list[str] | None = None  # download-type filter (ref 588-590)
    checkpoint_dir: str | None = None  # None → in-memory (localCheckpoint)

    def seeds(self) -> list[str]:
        """The seed urls in order, each once: the first listing wins."""
        if self.seed_urls:
            return list(dict.fromkeys(self.seed_urls))
        if self.start_url:
            return [self.start_url]
        raise ValueError("CrawlConfig needs start_url or seed_urls")

    @property
    def scope_url(self) -> str:
        return self.start_url or self.seeds()[0]


@dataclass
class RoundMetrics:
    round: int
    pages_fetched: int
    pages_missing: int
    links_discovered: int
    links_new: int
    entries_seen: int
    documents_seen: int
    wall_s: float
    files_downloaded: int = 0
    files_reused: int = 0

    def as_tuple(self):
        return (
            self.round, self.pages_fetched, self.pages_missing, self.links_discovered,
            self.links_new, self.entries_seen, self.documents_seen, float(self.wall_s),
            self.files_downloaded, self.files_reused,
        )


def _obs_long(obs: Observation, key: str, fallback) -> int:
    """Observation metric with a count() fallback — never blocks.

    AQE's empty-relation propagation can prune a *deep* CollectMetrics node
    when an intermediate join result turns out empty at runtime — the
    observation then either never completes or completes with an empty,
    schema-less row (pyspark's blocking ``Observation.get`` would hang on
    the former and raise converting the latter). By construction the
    observed node's action has already run when this is called, so read the
    JVM side's NON-blocking ``getRowOrEmpty``: metric present → use it
    (steady-state hot path); empty/raising (pruned, i.e. drained rounds
    only) → immediate count() on an already-cached input. This replaced a
    bounded 60 s daemon-thread wait — a silent per-observation stall at
    1000-round scale."""
    try:
        opt = obs._jo.getRowOrEmpty()  # noqa: SLF001 — same accessors Observation.get uses
        if opt.isDefined():
            from pyspark.serializers import CPickleSerializer

            utils = getattr(obs._jvm, "org.apache.spark.sql.api.python.PythonSQLUtils")
            row = CPickleSerializer().loads(utils.toPyRow(opt.get()))
            m = row.asDict(recursive=False)
            if key in m:
                return int(m[key] or 0)
    except Exception:  # empty schema-less row, or connect-mode without _jo
        pass
    return int(fallback())


def _together(spark: SparkSession, *calls: Callable[[], object]) -> list:
    """Run independent round actions at once and return their results in
    order. A round is a chain of small 1–4-task stages, so one action at a
    time leaves most cores idle. Each call runs on its own thread wrapped in
    ``inheritable_thread_target``, so every job it starts carries the
    caller's job group, local properties and job tags. Each call is wrapped
    on its own: one wrapper hands every thread it wraps the same copy of
    the properties, so one query's ``spark.sql.execution.id`` (or a job
    group set inside a thread) would leak into the others. Every call
    finishes before the first failure (in call order) is re-raised: no
    write of the round is still running when the caller sees the error."""
    with ThreadPoolExecutor(max_workers=len(calls)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(c)) for c in calls]
    return [f.result() for f in futures]


# The per-round seen-filter blob. The name carries the filter kind AND the
# bit derivation (xxh64_km = Kirsch-Mitzenmacher positions split from the
# xxhash64 transport key) so a blob written with another derivation is never
# deserialized and probed — resume finds no blob under this name and
# rebuilds from visited.
_SKETCH_BLOB = "seen_sketch_bloom_xxh64_km.bin"

_METRICS_SCHEMA = (
    "round int, pages_fetched long, pages_missing long, links_discovered long, "
    "links_new long, entries_seen long, documents_seen long, wall_s double, "
    "files_downloaded long, files_reused long"
)


class CrawlEngine:
    """Drives rounds over a pages table until the frontier drains."""

    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        config: CrawlConfig,
        robots_rules: DataFrame | None = None,
        seeds_df: DataFrame | None = None,
        priority_df: DataFrame | None = None,
        host_budgets_df: DataFrame | None = None,
    ):
        """``seeds_df`` (url string, pos long — pos unique, FIFO order) seeds
        the frontier DISTRIBUTED: a 10^7+-URL recrawl list must come from a
        table scan, not a driver-side Python list serialized through
        ``createDataFrame`` (minutes of driver time and GBs of heap at 10M
        URLs). Positions need not be dense — only unique and order-true.

        ``priority_df`` (url string, priority long — higher first) turns the
        FIFO frontier into the north_star's PRIORITY frontier: under a
        per-host politeness budget, higher-priority urls are fetched first
        and lower ones deferred to later rounds (the classic importance-
        ordered crawl — feed it ``link_pagerank`` scores). Unscored urls
        default to priority 0; ties fall back to FIFO order, so with no
        priority_df the engine is exactly the reference's FIFO crawl.
        Completeness is unchanged — priority reorders rounds, never drops."""
        self.spark = spark
        self.pages = pages
        self.cfg = config
        self.robots_rules = robots_rules
        self._seeds_df = seeds_df
        # pin once: joined against pending every round. Aggregated to one row
        # per url first — a caller-supplied score table with duplicate urls
        # would otherwise fan pending rows out through the per-round left
        # join (duplicate batch/visited rows, one url eating several host-
        # budget slots), breaking the "reorders rounds, never drops/dups"
        # contract. max(priority) wins, matching the join's usefulness order.
        self._priority_df = (
            priority_df.select("url", F.col("priority").cast("long").alias("priority"))
            .groupBy("url")
            .agg(F.max("priority").alias("priority"))
            .localCheckpoint(eager=True)
            if priority_df is not None
            else None
        )
        # per-host budget overrides (netloc, host_budget) — the Crawl-delay
        # politeness channel (robots.robots_budgets_df maps delay seconds to
        # a per-round cap). Strictest row wins on duplicates; hosts absent
        # here fall back to cfg.host_budget (or unlimited). Pinned once,
        # broadcast into the politeness window every round.
        self._host_budgets_df = (
            host_budgets_df.select(
                F.lower(F.col("netloc")).alias("netloc"),
                F.col("host_budget").cast("long").alias("host_budget"),
            )
            .groupBy("netloc")
            .agg(F.min("host_budget").alias("_hb"))
            .localCheckpoint(eager=True)
            if host_budgets_df is not None
            else None
        )
        self.store = SnapshotStore(spark, config.checkpoint_dir) if config.checkpoint_dir else None
        self.metrics: list[RoundMetrics] = []
        # visited is append-only: pinned per-round deltas, unioned lazily —
        # re-checkpointing the whole history every round would make round
        # cost grow with crawl age
        self._visited_parts: list[DataFrame] = []
        self.visited: DataFrame | None = None
        self.pending: DataFrame | None = None
        self.seen: DataFrame | None = None
        self.entries: DataFrame | None = None
        self.documents: DataFrame | None = None
        self.images: DataFrame | None = None  # collect_images accumulator
        self._next_pos = 1
        self._round = 0
        self._n_pending = 0
        self._bloom: bloom_mod.BloomFilter | None = None
        self._bloom_bc = None  # this round's broadcast; destroyed next round
        self._force_compact = False  # set by invalidate_urls: persist the
                                     # shrunken visited with the next commit
        self._initialized = False    # resume_or_init runs once per engine
        self._corpus_urls: DataFrame | None = None  # pinned distinct corpus
                                                    # urls (collect_images)
        self._pos_span = None  # id-space consumed by a sparse big round
        self._last_big_round = False  # routing taken by the latest round (tests)

    # -- state plumbing --------------------------------------------------------

    def _pin(self, df: DataFrame | None, rnd: int, name: str) -> DataFrame | None:
        """Break lineage each round: snapshot to parquet (resumable) or
        localCheckpoint (in-memory). Without this the iterative loop builds
        an exponentially deep plan."""
        if df is None:
            return None
        return df.localCheckpoint(eager=True) if self.store is None else self.store.write(rnd, name, df)

    def _seed_frontier(self) -> DataFrame:
        """One frontier row per seed url, the first listing winning (the
        reference FIFO skips a url it already visited): ``seeds()`` for the
        list, the least ``pos`` for ``seeds_df``."""
        c = self.cfg
        if self._seeds_df is not None:
            seeds = self._seeds_df.groupBy("url").agg(F.min("pos").cast("long").alias("discovery_pos"))
        else:
            seeds = self.spark.createDataFrame(
                list(enumerate(c.seeds())), "discovery_pos bigint, url string"
            )
        return seeds.select(
            F.lit(c.task).alias("task"),
            "url",
            native.url_netloc(F.col("url")).alias("netloc"),
            F.lit(0).alias("discovered_round"),
            "discovery_pos",
        )

    def _union_visited(self) -> DataFrame | None:
        if not self._visited_parts:
            return None
        out = self._visited_parts[0]
        for p in self._visited_parts[1:]:
            out = out.unionByName(p)
        return out

    def _maybe_compact_visited(self, rnd: int) -> None:
        """Cap the visited-union fan-in: every ``_COMPACT_VISITED_EVERY``
        rounds, coalesce the per-round deltas into one pinned snapshot, so
        the seen-set anti-join reads one table instead of a crawl-age-deep
        union — a 1000-round crawl would otherwise pay a linearly growing
        plan every round. In
        checkpoint mode the snapshot lands as ``visited_full`` inside the
        round dir (before the commit marker) and resume prefers it."""
        if not self._force_compact and len(self._visited_parts) < self._COMPACT_VISITED_EVERY:
            return
        self._force_compact = False
        self._visited_parts = [self._pin(self._union_visited(), rnd, "visited_full")]

    @staticmethod
    def _sketch_keys(df: DataFrame, col: str = "url") -> DataFrame:
        """Sketch transport keys: the sketch is built over and probed with
        ``xxhash64(url)`` LONGS computed JVM-side, not the url strings. They
        are the only hash: the bloom derives its k bit positions from the
        key itself, the build aggregates them without leaving the JVM, and
        the probe's Arrow hop into the pandas UDF carries 8 bytes/row
        instead of a ~60-byte url (the prefilter over a 15M-candidate big
        round was profiled as part of the memory-bus-bound serial term). A
        64-bit collision only makes a never-seen url inherit "maybe seen"
        and take the exact anti-join — the routing contract already absorbs
        that; no false negative is possible because every seen url's key IS
        inserted."""
        return df.select(F.xxhash64(F.col(col)).alias("_sk"))

    def _build_sketch(self, df: DataFrame) -> bloom_mod.BloomFilter:
        """Bloom filter over ``df``'s url transport keys. Called through the
        module attribute so a test can swap ``bloom_mod.build_filter``."""
        return bloom_mod.build_filter(
            self._sketch_keys(df), "_sk", self.cfg.bloom_capacity
        )

    def _bloom_add_batch(self, batch: DataFrame) -> None:
        delta = self._build_sketch(batch)
        if self._bloom is None:
            self._bloom = delta
        else:
            self._bloom.merge(delta)

    def resume_or_init(self) -> int:
        """Resume from the last committed round, else initialize round 0.

        Idempotent within an engine's lifetime: once initialized, further
        calls (e.g. ``run()`` after ``invalidate_urls``) are no-ops — they
        must not re-seed a live frontier or roll back in-memory state to the
        last committed round."""
        if self._initialized:
            return self._round
        self._initialized = True
        if self.store is not None:
            self.store.drop_uncommitted()
            last = self.store.latest_committed_round()
            if last is not None:
                # visited = latest compacted snapshot (if any) + later deltas
                base = max(
                    (r for r in range(last + 1) if self.store.has_table(r, "visited_full")),
                    default=-1,
                )
                self._visited_parts = [self.store.read(base, "visited_full")] if base >= 0 else []
                self._visited_parts += [self.store.read(r, "visited") for r in range(base + 1, last + 1)]
                self.visited = self._union_visited()
                # older checkpoints carry a `depth` column the frontier no
                # longer has; drop it so pending's columns match the
                # new_frontier / requeue rows unioned into it
                self.pending = self.store.read(last, "pending").drop("depth")
                self.seen = self.store.read(last, "seen")
                self.entries = self.store.read(last, "entries")
                self.documents = self.store.read(last, "documents")
                self.images = self.store.read(last, "images")
                pmax = self.pending.agg(F.max("discovery_pos")).first()[0]
                vmax = self.visited.agg(F.max("global_pos")).first()[0]
                self._next_pos = max(pmax or 0, vmax or 0) + 1
                self._n_pending = self.pending.count()
                if self.cfg.use_bloom:
                    # prefer the checkpointed sketch blob (committed with the
                    # round); rebuild from visited only when absent (pre-blob
                    # checkpoints, or a run that had use_bloom off)
                    blob = self.store.read_bytes(last, _SKETCH_BLOB)
                    self._bloom = bloom_mod.BloomFilter.from_bytes(blob) if blob else self._build_sketch(self.visited)
                self._round = last + 1
                return self._round
        seeded = self._seed_frontier()
        if self.robots_rules is not None:
            from .robots import apply_robots_filter

            seeded = apply_robots_filter(seeded, self.robots_rules)
        self.pending = seeded
        if self._seeds_df is not None or self.robots_rules is not None:
            agg = self.pending.agg(
                F.count(F.lit(1)).alias("n"), F.max("discovery_pos").alias("m")
            ).collect()[0]
            self._n_pending = int(agg.n)
            self._next_pos = int(agg.m if agg.m is not None else -1) + 1
        else:
            self._n_pending = self._next_pos = len(self.cfg.seeds())
        self._round = 0
        return 0

    # -- helpers ---------------------------------------------------------------

    # rounds with more candidate links than this assign positions with the
    # distributed (shuffle-free) path instead of one global window
    _BIG_ROUND_THRESHOLD = 50_000
    # coalesce the per-round visited deltas into one snapshot every K rounds
    _COMPACT_VISITED_EVERY = 16
    # fetch-join batches up to this many URLs are broadcast; larger ones
    # take a shuffle-hash join with the batch as build side
    _BROADCAST_BATCH_THRESHOLD = 1_000_000
    # documents' _src_pos packs (discovery_pos, entry_pos, doc index) into
    # one long: (pos * _ENTRY_STRIDE + entry_pos) * _DOC_STRIDE + doc index
    _ENTRY_STRIDE = 100_000
    _DOC_STRIDE = 1000
    # sparse big-round positions fall back to the dense chunked window once
    # the id space reaches this ceiling, so the packed key of any position
    # below it stays under 2^62 — about 2x slack inside a signed long
    _POS_SPARSE_CEILING = (1 << 62) // (_ENTRY_STRIDE * _DOC_STRIDE)
    # broadcast the per-parent offset table only when provably small
    # (same posture as the fetch join's size gate)
    _POS_BROADCAST_PARENTS = 4_000_000

    def _assign_positions(self, links: DataFrame, big_round: bool) -> DataFrame:
        """Global FIFO positions ordered by (parent_pos, link_pos).

        Small rounds: one dense window (export/oracle-parity paths live
        here and keep exact dense positions). Big rounds: NO shuffle of
        the candidate links at all — the r4 chunked dense-rank still paid
        one full-links hash exchange, and the stage profile measured the
        positions stage at ~53 s/big-round REGARDLESS of core count
        (55.9 s @ 4c vs 52.5 s @ 16c at 1.28M pages): shuffle volume
        through one shared memory bus is a pure serial term, so the only
        move that transfers to a fleet is not shuffling.

        The order consumers (politeness window, FIFO batch rank, BFS
        export sort, resume's max()) compare position VALUES; none does
        index arithmetic over them — so big rounds trade density for a
        shuffle-free ORDER-EXACT embedding:

            discovery_pos = next_pos + offset[parent] + (link_pos + 1)

        where ``offset`` is the running sum of per-parent slot widths
        (``max(link_pos)+2``; +2 because redirect links carry link_pos
        = -1) over the P-row parent table — P = this round's fetched
        pages, 10-100x smaller than the links. The per-parent stats are
        one map-side-combined agg (P rows cross the wire), the prefix sum
        is a window over those P rows, and the offsets join back onto the
        links as a BROADCAST (size-gated) — the links side never moves.
        Positions are near-dense (gaps only where candidate links were
        deduped/seen), the round consumes ``span = Σ slots ≈ raw link
        count`` ids, and a ceiling guard falls back to the dense chunked
        window before sparse ids could overflow the packed documents
        ``_src_pos`` key.

        The candidate links are pinned BEFORE any of this: the stats agg
        would otherwise re-execute the whole parse → dedup-window → bloom
        → anti-join lineage (measured ~45 s/round at 400k pages — half
        the round wall)."""
        self._pos_span = None  # dense paths advance _next_pos by row count
        order = [F.asc("parent_pos"), F.asc("link_pos")]
        if not big_round:
            w = Window.orderBy(*order)
            return links.withColumn(
                "discovery_pos",
                (F.row_number().over(w) + F.lit(self._next_pos - 1)).cast("long"),
            )
        pinned = links.localCheckpoint(eager=True)
        # per-parent slot widths: map-side combine collapses the links to
        # P rows before the (only) exchange in this path
        pstats = pinned.groupBy("parent_pos").agg(
            (F.max("link_pos") + F.lit(2)).cast("long").alias("_slots")
        )
        wpar = (
            Window.orderBy(F.asc("parent_pos"))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        parents = pstats.select(
            "parent_pos",
            F.coalesce(F.sum("_slots").over(wpar), F.lit(0)).cast("long").alias("_off"),
            "_slots",
        ).localCheckpoint(eager=True)
        stats = parents.agg(
            F.count(F.lit(1)).alias("p"),
            F.max(F.col("_off") + F.col("_slots")).alias("span"),
        ).collect()[0]
        if not stats.p:
            # all candidates were deduped/seen — nothing to position
            w = Window.orderBy(*order)
            return pinned.withColumn(
                "discovery_pos",
                (F.row_number().over(w) + F.lit(self._next_pos - 1)).cast("long"),
            )
        span = int(stats.span)
        if self._next_pos + span >= self._POS_SPARSE_CEILING:
            return self._assign_positions_dense_chunked(pinned, order)
        self._pos_span = span
        right = (
            F.broadcast(parents)
            if int(stats.p) <= self._POS_BROADCAST_PARENTS
            else parents
        )
        return pinned.join(right, "parent_pos").select(
            *pinned.columns,
            (
                F.lit(self._next_pos).cast("long")
                + F.col("_off")
                + F.col("link_pos")
                + F.lit(1)
            ).cast("long").alias("discovery_pos"),
        )

    def _assign_positions_dense_chunked(self, pinned: DataFrame, order) -> DataFrame:
        """Dense distributed rank (the r4 path, kept as the id-ceiling
        fallback): ARITHMETIC chunk ids instead of repartitionByRange —
        ``parent_pos`` spans a range known from one cheap agg, so
        ``(parent_pos - min) div per_chunk`` is an order-monotone partition
        key computed map-side; the chunked window pays one hash exchange of
        the links (vs range-exchange + hash-exchange for a naive ranged
        window)."""
        parts = max(self.cfg.n_host_shards, 1)
        mn_row = pinned.agg(
            F.min("parent_pos").alias("mn"), F.max("parent_pos").alias("mx")
        ).collect()[0]
        if mn_row.mn is None:
            w = Window.orderBy(*order)
            return pinned.withColumn(
                "discovery_pos",
                (F.row_number().over(w) + F.lit(self._next_pos - 1)).cast("long"),
            )
        mn, mx = int(mn_row.mn), int(mn_row.mx)
        nchunks = min(max(parts * 8, 64), 256)
        per = max(1, -(-(mx - mn + 1) // nchunks))  # ceil division
        ck = F.expr(f"CAST((parent_pos - {mn}) DIV {per} AS LONG)")
        chunked = pinned.withColumn("_ck", ck)
        counts = {
            int(r._ck): r.cnt
            for r in chunked.groupBy("_ck").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        offsets, acc = {}, self._next_pos - 1
        for cid in sorted(counts):
            offsets[cid] = acc
            acc += counts[cid]
        # cast every literal: past 2^31 rows Python ints become LongType lits
        # while small ones stay IntegerType — create_map rejects the mix
        omap = F.create_map(*[F.lit(x).cast("long") for kv in offsets.items() for x in kv])
        wp = Window.partitionBy("_ck").orderBy(*order)
        return (
            chunked.withColumn(
                "discovery_pos",
                (F.row_number().over(wp) + omap[F.col("_ck")]).cast("long"),
            ).drop("_ck")
        )

    # -- one round -------------------------------------------------------------

    def run_round(self) -> RoundMetrics:
        """One frontier round. Per-round counters ride as ``observe()``
        metrics on actions the round must run anyway (the visited/pending/
        state pins) — the r1 design paid five extra count() jobs per round,
        a fixed cost that capped whole-job scaling efficiency."""
        cfg = self.cfg
        rnd = self._round
        t0 = time.time()
        pending = self.pending
        n_pending_before = self._n_pending
        batch, deferred = pending, None
        budgeted = cfg.host_budget is not None or self._host_budgets_df is not None
        if budgeted:
            # politeness: rank each host's pending urls and fetch the first
            # `cap` of them. The cap is the host's Crawl-delay row, else the
            # global budget; NULL (neither) = unlimited.
            ranked = pending
            order = [F.asc("discovered_round"), F.asc("discovery_pos")]
            if self._priority_df is not None:
                # priority frontier: importance-first within each host's
                # budget, FIFO tie-break. Left join (scores may be partial);
                # the score table is usually tiny vs the frontier — let AQE
                # pick broadcast; at 10^10 it would be url-bucketed alongside
                # the frontier table so neither side reshuffles.
                ranked = ranked.join(self._priority_df, "url", "left")
                order = [F.desc(F.coalesce(F.col("priority"), F.lit(0)))] + order
            w = Window.partitionBy("netloc").orderBy(*order)
            ranked = ranked.withColumn("_hrk", F.row_number().over(w))
            cap = F.lit(cfg.host_budget).cast("long")
            if self._host_budgets_df is not None:
                # the budgets table is host-count-sized → always broadcast,
                # no extra shuffle on the frontier side
                ranked = ranked.join(F.broadcast(self._host_budgets_df), "netloc", "left")
                cap = F.coalesce(F.col("_hb"), cap)
            batch = ranked.where(cap.isNull() | (F.col("_hrk") <= cap)).select(*pending.columns)

        # salted partitioning: hot hosts spread across shards, salt varies per round
        shard = F.pmod(F.xxhash64(F.col("netloc"), F.lit(rnd)), F.lit(cfg.n_host_shards))
        batch = batch.repartition(cfg.n_host_shards, shard).persist()

        # fetch join strategy: broadcast only a provably small batch — a
        # recrawl batch of 10^7+ URLs would serialize through the driver and
        # OOM building the broadcast relation. Above the threshold, hint
        # shuffle-hash with the batch as build side: on a real cluster the
        # pages table is url-bucketed (Iceberg) so only the batch shuffles.
        is_broadcast_batch = n_pending_before <= self._BROADCAST_BATCH_THRESHOLD
        if is_broadcast_batch:
            batch_side = F.broadcast(batch)
        else:
            batch_side = batch.hint("shuffle_hash")
        if budgeted:
            # the rest of the frontier waits for a later round: pending holds
            # one row per url, so it is pending ⟂ batch (read from the batch
            # cache — the ranking window runs once per round)
            batch_urls = batch.select("url")
            deferred = pending.join(
                F.broadcast(batch_urls) if is_broadcast_batch else batch_urls, "url", "left_anti"
            )
        fetch_cols = ["task", "url", "html", "discovered_round", "discovery_pos"]
        # a `redirect_to` column (3xx Location) on the pages table turns on
        # redirect following — see the link stream below
        follow_redirects = "redirect_to" in self.pages.columns
        if follow_redirects:
            fetch_cols.append("redirect_to")
        fetched = self.pages.join(batch_side, "url", "inner").select(*fetch_cols)
        # Cache the html payload IFF it has two consumers: the page parse
        # always reads it once, and the image harvest is the only other
        # reader. Otherwise cache only the fetched urls and stream html from
        # the corpus scan into the parse — a once-read payload cache writes
        # the whole round through the memory bus and measured 4x slower on a
        # 1.28M-URL round (BENCH/r4_ab_bisect.jsonl).
        if cfg.collect_images:
            fetched = fetched.persist()
            fetched_keys = fetched.select("url")
            fetch_cache = fetched
        else:
            fetched_keys = fetched.select("url").persist()
            fetch_cache = fetched_keys

        obs_visited = Observation(f"visited_r{rnd}")
        # status join on DISTINCT fetched urls: a multi-snapshot corpus
        # (several warc_ts rows per url) would otherwise fan out batch rows —
        # duplicate visited rows, inflated n_batch/n_fetched, negative
        # n_deferred. distinct() here shuffles url strings only, never html.
        batch_visited = batch.join(
            fetched_keys.distinct().withColumn("_st", F.lit("fetched")),
            "url",
            "left",
        ).select(
            "task",
            "url",
            F.lit(rnd).alias("round"),
            F.col("discovery_pos").alias("global_pos"),
            F.coalesce(F.col("_st"), F.lit("missing")).alias("status"),
        ).observe(
            obs_visited,
            F.count(F.lit(1)).alias("n_batch"),
            F.sum((F.col("status") == "fetched").cast("long")).alias("n_fetched"),
        )
        # pin the visited delta FIRST: this one action materializes the batch
        # and fetched caches and fires the batch/fetch counters
        self._visited_parts.append(self._pin(batch_visited, rnd, "visited"))
        self._maybe_compact_visited(rnd)
        self.visited = self._union_visited()
        n_batch = _obs_long(obs_visited, "n_batch", batch.count)
        n_fetched = _obs_long(
            obs_visited, "n_fetched", lambda: fetched_keys.distinct().count()
        )
        n_missing = n_batch - n_fetched
        n_deferred = n_pending_before - n_batch

        # GreedyImageCrawler mode: harvest this round's image targets from
        # the fetched html (columnar extractor — zero Python), first-wins per
        # image url within the round, deduped against the crawl-lifetime
        # images table, "downloaded" = binary present in the corpus (the
        # pages table doubles as the network, same as the fetch join). The
        # availability join moves url strings only, never payloads.
        if cfg.collect_images:
            from ..parsers.links import image_links as _image_links

            cand = _image_links(fetched.select("url", "html"))
            wimg = Window.partitionBy("url").orderBy(F.asc("page_url"), F.asc("link_pos"))
            cand = (
                cand.withColumn("_rn", F.row_number().over(wimg))
                .where(F.col("_rn") == 1)
                .select("url", "page_url", "kind")
            )
            if self.images is not None:
                cand = cand.join(self.images.select("url"), "url", "left_anti")
            # the distinct corpus-url set is crawl-invariant: compute the
            # corpus-wide shuffle ONCE on first use and pin it (like the
            # priority and host-budget tables) instead of re-shuffling the
            # whole url column every round
            if self._corpus_urls is None:
                self._corpus_urls = (
                    self.pages.select("url")
                    .distinct()
                    .withColumn("_ok", F.lit(True))
                    .localCheckpoint(eager=True)
                )
            delta = cand.join(self._corpus_urls, "url", "left").select(
                "url",
                "page_url",
                "kind",
                F.lit(rnd).alias("round"),
                F.when(F.col("_ok"), F.lit("downloaded"))
                .otherwise(F.lit("missing"))
                .alias("status"),
            )
            merged = delta if self.images is None else self.images.unionByName(delta)
            self.images = self._pin(merged, rnd, "images")

        # ONE parse per fetched page (Arrow-batched UDF): pagination links
        # always, listing entries when the round merges them. The output is
        # pinned once and both the link stream and the entries merge read
        # the pin, so no later pin re-runs the Python parse.
        # discovery_pos (and redirect_to) ride THROUGH the parse as carry
        # columns instead of a join back to fetched_keys. Multi-snapshot
        # corpora stay correct: the parse runs once per snapshot (S×), each
        # carrying the same pos, and first-wins link dedup below collapses
        # them. Full S→1 belongs at the source (sources.latest_snapshot_view).
        carry = ("discovery_pos",) + (("redirect_to",) if follow_redirects else ())
        page_inputs = fetched.select(
            "task", "url", "html", *carry, F.lit(cfg.scope_url).alias("start_url")
        )
        if cfg.parse_entries:
            page_inputs = page_inputs.withColumn("dialect", F.lit(cfg.dialect))
        n_link_rows = F.size("links")
        if follow_redirects:
            # empty-string Location values (malformed 3xx) are dropped like
            # NULL — they would otherwise enqueue a bogus "" frontier row
            has_redirect = F.col("redirect_to").isNotNull() & (F.col("redirect_to") != "")
            n_link_rows = n_link_rows + has_redirect.cast("int")
        obs_links = Observation(f"links_r{rnd}")
        # eager pin: the bloom split + dedup and the entries/documents/seen
        # pins all branch off the parse, so it must be cached either way —
        # checkpointing it NOW also fires obs_links, making the big-round
        # routing decision exact (the r2 design estimated this round's links
        # as n_fetched × last round's fanout; a fanout explosion — e.g.
        # default-estimate round 0 — could push a multi-million-link sort
        # through one partition)
        parse = udfs.parse_pages(page_inputs, carry=carry).observe(
            obs_links, F.sum(n_link_rows).alias("n_links")
        )
        # the seen filter takes this round's batch (read from its cache)
        # while the parse runs; a fresh crawl's first round does not probe
        probe = cfg.use_bloom and self._bloom is not None
        parsed_pages, _ = _together(
            self.spark,
            lambda: parse.localCheckpoint(eager=True),
            lambda: self._bloom_add_batch(batch) if cfg.use_bloom else None,
        )
        links = parsed_pages.select(
            "task", "discovery_pos", F.posexplode("links").alias("link_pos", "url")
        )
        if follow_redirects:
            # 3xx targets join the link stream at link_pos −1: a redirect is
            # known before any parsing, so FIFO order puts the target ahead
            # of the page's parsed links. Everything downstream (first-wins
            # dedup, seen filtering, politeness, positions) applies to
            # redirect targets exactly as to parsed links — no special path.
            links = links.unionByName(
                parsed_pages.where(has_redirect).select(
                    F.lit(cfg.task).alias("task"),
                    "discovery_pos",
                    F.lit(-1).alias("link_pos"),
                    F.col("redirect_to").alias("url"),
                )
            )
        links = links.select(
            "task",
            "url",
            F.lit(rnd + 1).alias("discovered_round"),
            F.col("discovery_pos").alias("parent_pos"),
            F.col("link_pos").cast("long"),
        )
        n_links = _obs_long(obs_links, "n_links", links.count)
        big_round = n_links > self._BIG_ROUND_THRESHOLD
        self._last_big_round = big_round

        # seen-set filtering FIRST, dedup-window SECOND. Order is semantics-
        # preserving: the bloom verdict and the anti-joins are url-level —
        # for any url either every candidate row survives or none does — so
        # the first-wins window picks the same winner among survivors. Order
        # matters for BYTES: in steady state nearly all candidate links point
        # at already-visited pages, so filtering first collapses the window's
        # shuffle input from all-candidates (12x pages) to the genuinely-new
        # frontier — one full-corpus-sized shuffle per round removed. (The r4
        # stage profile measured the link-pipeline materialization at ~50 s/
        # big-round at BOTH 4 and 16 cores: the box is memory-bandwidth-bound
        # there, so shuffled bytes, not core count, set the wall.)
        # visited already holds this round's delta (pinned above), so the
        # exact anti-join also drops links back into the batch; the filter
        # takes the batch BEFORE the probe, so it has no false negatives.
        # A fresh crawl's first round skips the probe: visited is the batch.
        if probe:
            # route definitely-new links around the exact anti-join
            bc = self.spark.sparkContext.broadcast(self._bloom.to_bytes())
            self._bloom_bc = bc
            # probe with the xxhash64 transport key (8 bytes/row through
            # Arrow instead of the url string — see _sketch_keys)
            keyed = links.withColumn("_sk", F.xxhash64(F.col("url")))
            # pinned lazily: both sides of the split read one probe, computed
            # by the first job that needs it. A persist() would do the same
            # work, but AQE runs a table-cache job for each of its two scans
            # (+2 jobs, stages and tasks per round)
            flagged = (
                bloom_mod.prefilter_unseen(keyed, "_sk", bc)
                .drop("_sk")
                .localCheckpoint(eager=False)
            )
            definitely_new = flagged.where(~F.col("_maybe_seen")).drop("_maybe_seen")
            maybe = flagged.where(F.col("_maybe_seen")).drop("_maybe_seen")
            survivors = maybe.join(self.visited.select("url"), "url", "left_anti")
            new_links = definitely_new.unionByName(survivors)
        else:
            new_links = links.join(self.visited.select("url"), "url", "left_anti")

        wdup = Window.partitionBy("url").orderBy(F.asc("parent_pos"), F.asc("link_pos"))
        new_links = (
            new_links.withColumn("_rn", F.row_number().over(wdup))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        if deferred is not None:
            new_links = new_links.join(deferred.select("url"), "url", "left_anti")

        if self.robots_rules is not None:
            from .robots import apply_robots_filter

            with_netloc = new_links.withColumn("netloc", native.url_netloc(F.col("url")))
            new_links = apply_robots_filter(with_netloc, self.robots_rules).drop("netloc")

        new_frontier = self._assign_positions(new_links, big_round).select(
            "task",
            "url",
            native.url_netloc(F.col("url")).alias("netloc"),
            "discovered_round",
            "discovery_pos",
        )

        # entries/documents/seen merge (the listing side of the round).
        # Counters observe the identity pin — no standalone count jobs.
        n_entries = n_docs = 0
        with_ids = None
        docs_new: list[DataFrame] = []
        seen_new: list[DataFrame] = []
        if cfg.parse_entries:
            parsed = parsed_pages.select(
                "task",
                "page_url",
                "discovery_pos",
                F.posexplode("entries").alias("entry_pos", "_e"),
            ).select(
                "task",
                "page_url",
                "entry_pos",
                "_e.*",
                (F.col("discovery_pos") * self._ENTRY_STRIDE + F.col("entry_pos")).alias("_src_pos"),
            )
            obs_entries = Observation(f"entries_r{rnd}")
            # pinned once: the entries, documents and seen merges all read it
            with_ids = (
                resolve_entry_identity(parsed, self.documents)
                .observe(obs_entries, F.count(F.lit(1)).alias("n"),
                         F.sum(F.size("documents")).alias("n_docs"))
                .localCheckpoint(eager=True)
            )
            batch_entries = with_ids.select("entry_id", "task", "serial", "title", "remark", "_src_pos")
            batch_docs = with_ids.select(
                "entry_id", "_src_pos", F.posexplode("documents").alias("_p", "_d")
            ).select(
                "entry_id",
                F.col("_d.url").alias("url"),
                F.col("_d.doc_type").alias("doc_type"),
                F.col("_d.title").alias("title"),
                (F.col("_src_pos") * self._DOC_STRIDE + F.col("_p")).alias("_src_pos"),
            )
            n_entries = _obs_long(obs_entries, "n", with_ids.count)
            n_docs = _obs_long(obs_entries, "n_docs", batch_docs.count)
            self.entries = merge_entries(self.entries, batch_entries)
            docs_new.append(batch_docs)
            seen_new.append(seen_rows(batch_docs))

        # document download stage (ref pbc_monitor.py:572-813 work-queue)
        # over the candidate view (seen with this round's listing documents
        # folded in). It returns rows; the one documents merge and the one
        # seen merge below fold them with the listing deltas. Its metrics are
        # observe()-carried, read after the pins: no count() jobs.
        cand_seen = merge_seen(self.seen, *seen_new) if seen_new else self.seen
        dl_metrics = None
        if cfg.download_docs and cand_seen is not None:
            from .downloads import download_rows

            atts, att_seen, marks, dl_metrics = download_rows(
                self.pages, cand_seen, allowed_types=cfg.allowed_types
            )
            docs_new.append(atts)
            seen_new += [att_seen, marks]
        if docs_new:
            self.documents = merge_documents(self.documents, *docs_new)
        if seen_new:
            self.seen = merge_seen(self.seen, *seen_new)

        # fold state (the visited delta was pinned up front, before the parse)
        self.pending = (
            new_frontier if deferred is None else deferred.unionByName(new_frontier)
        )
        obs_pending = Observation(f"pending_r{rnd}")
        self.pending = self.pending.observe(obs_pending, F.count(F.lit(1)).alias("n"))

        prev_pending = pending

        def pin_pending():
            if self.store is None and big_round:
                # memory mode, big round: the distributed positions path
                # already checkpointed the heavy lineage — a cache is enough,
                # skip the second materializing write; count() is the
                # materializing action and fires the pending/links observations
                cached = self.pending.persist()
                return cached, cached.count()
            pinned = self._pin(self.pending, rnd, "pending")
            return pinned, _obs_long(obs_pending, "n", pinned.count)

        def write_lineage():
            # per-partition lineage (north_rule): which salted shard carried
            # how many fetches this round — the skew audit trail. Checkpoint
            # mode only; reads the batch cache.
            if self.store is not None:
                lineage = batch.groupBy(shard.alias("shard")).agg(
                    F.count(F.lit(1)).alias("n_urls"), F.countDistinct("netloc").alias("n_hosts")
                )
                self.store.write(rnd, "lineage", lineage.withColumn("round", F.lit(rnd)))

        # the round's state pins and the lineage write read only pinned or
        # cached inputs and not each other: run them together
        (self.pending, self._n_pending), self.entries, self.documents, self.seen, _ = _together(
            self.spark,
            pin_pending,
            lambda: self._pin(self.entries, rnd, "entries"),
            lambda: self._pin(self.documents, rnd, "documents"),
            lambda: self._pin(self.seen, rnd, "seen"),
            write_lineage,
        )

        n_dl = n_reused = 0
        if dl_metrics is not None:
            dl = dl_metrics()
            n_dl, n_reused = dl["files_downloaded"], dl["files_reused"]
        n_new = self._n_pending - n_deferred
        # dense rounds consume exactly n_new ids; sparse big rounds consume
        # the span _assign_positions reserved (near-dense: ≈ raw link count)
        self._next_pos += n_new if self._pos_span is None else self._pos_span

        batch.unpersist()
        fetch_cache.unpersist()
        parsed_pages.unpersist()
        if with_ids is not None:
            with_ids.unpersist()
        if self.store is None and prev_pending is not None:
            prev_pending.unpersist()
        # the round's bloom broadcast (megabytes per round at real capacity)
        # is fully consumed once the pins ran — release the executor copies
        # instead of letting 1000 rounds of bitmaps accumulate. unpersist,
        # not destroy: a cache-evicted partition in memory mode may lazily
        # re-fetch the broadcast from the driver; the driver copy itself is
        # reclaimed by the ContextCleaner once this reference drops
        if self._bloom_bc is not None:
            try:
                self._bloom_bc.unpersist(blocking=False)
            except Exception:
                pass
            self._bloom_bc = None

        m = RoundMetrics(
            rnd,
            pages_fetched=n_fetched,
            pages_missing=n_missing,
            links_discovered=n_links,
            links_new=n_new,
            entries_seen=n_entries,
            documents_seen=n_docs,
            wall_s=time.time() - t0,
            files_downloaded=n_dl,
            files_reused=n_reused,
        )
        self.metrics.append(m)
        if self.store is not None:
            metrics_df = self.spark.createDataFrame([m.as_tuple()], _METRICS_SCHEMA)
            # seen-filter shard checkpoint (north_rule: "checkpoints frontier,
            # seen-filter shards, and per-partition lineage/metrics"): the
            # serialized sketch lands inside the round dir BEFORE the commit
            # marker, so resume loads it instead of re-scanning all of visited
            # to rebuild. One shard in this sandbox; at 10^10 each of the
            # pmod(hash, n_shards) shards writes its own blob the same way.
            _together(
                self.spark,
                lambda: self.store.write(rnd, "metrics", metrics_df),
                lambda: self.store.write_bytes(rnd, _SKETCH_BLOB, self._bloom.to_bytes())
                if cfg.use_bloom else None,
            )
            # the marker goes last, alone: every other write of the round is
            # on disk when it lands
            self.store.commit(rnd)
        self._round += 1
        return m

    # -- full crawl ------------------------------------------------------------

    def run(self) -> list[RoundMetrics]:
        self.resume_or_init()
        while self._round < self.cfg.max_rounds:
            if self.pending is None or self._n_pending == 0:
                break
            self.run_round()
        return self.metrics

    def invalidate_urls(self, urls_df: DataFrame) -> int:
        """Recrawl invalidation — the monitor loop's "this page changed,
        refetch it" (ref pbc_monitor.py:1137-1207) WITHOUT restarting the
        engine: forget the given URLs from the visited seen-set, drop them
        from the seen-filter sketch, and re-enqueue them at the frontier tail
        (FIFO, ordered by url for determinism). Subsequent ``run()`` rounds
        refetch exactly these pages; their outlinks still dedup against the
        (shrunken) visited set, so nothing else is re-crawled.

        Bloom cannot un-set bits, so the seen filter is rebuilt from the
        kept visited table (one distributed pass).

        Durability contract in checkpoint mode: the invalidation joins the
        NEXT round's atomic commit (a forced visited_full compaction rides
        that round, before its marker). A kill before that commit resumes
        pre-invalidation state — same all-or-nothing semantics as any other
        mid-round mutation. Returns the number of URLs actually invalidated
        (those present in visited; unknown URLs are ignored)."""
        merged = self._union_visited()
        if merged is None:
            return 0
        urls = urls_df.select("url").distinct()
        hit = (
            merged.join(urls, "url", "left_semi")
            .select("url")
            .distinct()
            .localCheckpoint(eager=True)
        )
        n = hit.count()
        if n == 0:
            return 0
        kept = merged.join(hit, "url", "left_anti").localCheckpoint(eager=True)
        self._visited_parts = [kept]
        self.visited = kept
        self._force_compact = True  # next committed round persists the removal

        # re-enqueue at the frontier tail, FIFO by url
        w = Window.orderBy("url")
        requeued = hit.select(
            F.lit(self.cfg.task).alias("task"),
            "url",
            native.url_netloc(F.col("url")).alias("netloc"),
            F.lit(self._round).alias("discovered_round"),
            (F.row_number().over(w) - 1 + F.lit(self._next_pos))
            .cast("long")
            .alias("discovery_pos"),
        )
        self._next_pos += n
        if self.pending is not None:
            pending = self.pending.join(hit, "url", "left_anti").unionByName(
                requeued.select(*self.pending.columns)
            )
        else:
            pending = requeued
        self.pending = pending.localCheckpoint(eager=True)
        self._n_pending = self.pending.count()

        if self.cfg.use_bloom and self._bloom is not None:
            self._bloom = self._build_sketch(self.visited)
        return n

    # -- results ---------------------------------------------------------------

    def crawl_order(self) -> list[str]:
        """URLs in reference-FIFO processing order (fetched + missing)."""
        if self.visited is None:
            return []
        return [
            r.url
            for r in self.visited.orderBy("round", "global_pos").select("url").collect()
        ]

    def seen_urls(self) -> set[str]:
        if self.seen is None:
            return set()
        return {r.url for r in self.seen.select("url").collect()}

