"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB target (AQE on, skew-join handling on,
Arrow-batched Python exchange) while remaining correct on local[N].
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _ship_package(spark: SparkSession) -> None:
    """Make ``icrawler_spark`` importable on executor Python workers.

    Pandas UDFs close over this package, so executors must be able to import
    it regardless of the driver's cwd — the programmatic equivalent of
    ``spark-submit --py-files engine.zip``. Idempotent per session.
    """
    if getattr(spark, "_icrawler_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(tempfile.gettempdir(), "icrawler_spark_pkg.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_STORED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join("icrawler_spark", os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
    spark._icrawler_pkg_shipped = True  # type: ignore[attr-defined]


def get_spark(
    app_name: str = "icrawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    - AQE enabled: runtime coalescing of shuffle partitions and skew-join
      splitting — critical for the hot-host skew called out in BASELINE.json.
    - Arrow enabled: every Python-side operator in this package is a
      vectorized pandas UDF / mapInPandas; Arrow is the transfer format.
    - Generated-code cache of 2000 classes: an iterative crawl replans the
      same queries every round, and one monitor cycle compiles about 470
      distinct classes, so the 100-entry default evicted each one before
      the next round reused it. Measured on the perfbench monitor site
      (4 cores): ~470 Janino compilations every cycle with the default,
      0–20 per cycle after the first with 2000 entries.
    - ``spark.sql.files.maxPartitionBytes`` left at default (128 MiB): at
      100 TB that yields ~800k input splits, which Spark handles; tune via
      extra_conf per deployment instead of hardcoding.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    if shuffle_partitions is None:
        # local[N] → N is a sensible shuffle width; cluster masters get 2x
        # default parallelism via AQE coalescing anyway.
        cpus = master[master.find("[") + 1 : master.find("]")] if "[" in master else "200"
        shuffle_partitions = 32 if cpus == "*" else max(8, int(cpus)) if cpus.isdigit() else 200

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # default 10k-row Arrow batches are ~75 MB for multi-KB page rows;
        # smaller batches pipeline JVM→Python better (measured 27% faster
        # parse at 32 cores) and cap per-worker memory spikes
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        # one monitor cycle compiles ~470 distinct classes; the 100-entry
        # default LRU evicts them all before the next round reuses them
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.ui.enabled", "false")
        # long iterative jobs: the ContextCleaner only reclaims unpersisted
        # RDD/broadcast/shuffle blocks after a DRIVER GC, and the default
        # periodic-GC interval is 30 min — a 1000-round crawl accumulates
        # every round's blocks meanwhile (measured: round wall doubles over
        # 50 rounds). One forced GC a minute keeps round cost flat.
        .config("spark.cleaner.periodicGC.interval", "60s")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Shuffle/spill scratch. On a single box every executor thread shares one
    # disk, so shuffle I/O serializes no matter how many cores run — the r4
    # stage profile measured the positions stage at ~53 s/big-round at BOTH
    # 4 and 16 cores for exactly this reason. A real fleet has per-executor
    # local disks (aggregate bandwidth scales with N); pointing local.dir at
    # tmpfs (e.g. SPARK_GRAFT_LOCAL_DIR=/dev/shm/spark-local) emulates that
    # for single-box scaling measurements. Opt-in only: tmpfs scratch is
    # bounded by RAM, wrong for jobs whose shuffle exceeds it.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        b = b.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    _ship_package(spark)
    return spark
