"""SparkSession construction with scale-aware defaults.

Sessions here are for tests/bench; the driver passes its own session into
``__spark_entry__.entry``/``queries()``, so every query function must also
work on a session it did not create. Runtime-settable confs that queries
depend on (session timezone, parquet nanos handling) are therefore applied
again in ``io.sources.load_table`` rather than only at build time.
"""

from __future__ import annotations

import os
import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

# Confs that are safe (and wanted) on any session, local or cluster.
# All of these are runtime-settable.
RUNTIME_CONFS: dict[str, str] = {
    # deterministic tz: fixtures carry naive timestamps; UTC makes Spark's
    # tz-aware types agree with DuckDB's naive ones byte-for-byte
    "spark.sql.session.timeZone": "UTC",
    # events.parquet uses INT64 TIMESTAMP(NANOS) which the vectorized
    # reader refuses by default; read as long, convert with `div 1000`
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # AQE: runtime shuffle-partition coalescing + skew-join splitting.
    # Essential at 100 TB, harmless at sf0.001.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


_PYFILES_SHIPPED: set[int] = set()


def ship_package_to_workers(spark: SparkSession) -> None:
    """Make `vector_ai_npm_spark` importable on Spark's Python workers.

    The driver imports __spark_entry__ by file path from an arbitrary
    cwd, so cloudpickled UDFs that reference this package would hit
    ModuleNotFoundError on the workers. addPyFile ships a zip of the
    package to every (current and future) executor — the same mechanism
    a real cluster submit would use (--py-files).
    """
    key = id(spark.sparkContext)
    if key in _PYFILES_SHIPPED:
        return
    import os
    import pathlib
    import tempfile
    import zipfile

    pkg_dir = pathlib.Path(__file__).resolve().parent
    # per-process zip (fresh content each run; avoids stale shared temp files)
    zpath = pathlib.Path(tempfile.gettempdir()) / (
        f"vector_ai_npm_spark_pyfiles_{os.getpid()}.zip"
    )
    if not zpath.exists():
        with zipfile.ZipFile(zpath, "w") as z:
            for p in sorted(pkg_dir.rglob("*.py")):
                z.write(p, f"{pkg_dir.name}/{p.relative_to(pkg_dir)}")
    try:
        spark.sparkContext.addPyFile(str(zpath))
    except Exception:
        pass  # already added (e.g. across registry reloads in one JVM)
    _PYFILES_SHIPPED.add(key)


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-owned session (driver's)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # a conf may be static on some builds; queries must still run
            pass
    ship_package_to_workers(spark)
    return spark


def enable_runtime_semijoin_reduction(spark: SparkSession,
                                      probe_scan_threshold: str = "0") -> None:
    """Turn on Catalyst's runtime bloom-filter join pruning.

    For a shuffle join with a selective build side, the optimizer injects
    ``bloom_filter_agg`` over the build keys and a ``might_contain``
    filter on the probe-side SCAN — the classic semi-join reduction: at
    100 TB it can drop most of the probe side's shuffle I/O before the
    join ever runs. Off by default here only because the probe-side
    size gate (``applicationSideScanSizeThreshold``, default 10 GB)
    never fires at fixture scale — on a cluster, leave the default gate
    in place and just call this with no override.
    """
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold":
            probe_scan_threshold,
    }
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


def get_spark(app_name: str = "vector-ai-npm-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build a local session sized from $SPARK_GRAFT_CPUS (default all)."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or 0
    master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32) if cpus else 32
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Arrow for pandas_udf / applyInPandas / toPandas hot paths
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Whole-stage-codegen class cache (STATIC conf, default 100
        # entries).  A session that runs many distinct queries — this
        # engine's registry is 400+, the bench alone cycles 102 —
        # thrashes the default: measured mid-bench (r13) the JVM had
        # UNLOADED 6,743 generated classes (40 s of classloader time,
        # full_count climbing), i.e. every repeat of every query paid
        # Janino recompile + cold interpreter/C1 re-execution of code
        # it had already compiled.  Sized so the bench's working set
        # (~102 queries x ~5-8 codegen units) fits with headroom; a
        # production driver serving a query mix wants the same.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "5000"),
        )
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # spark.sql.codegen.cache.maxEntries is a STATIC conf: when
    # getOrCreate attaches to a SparkContext that already exists in the
    # process, the builder's value is silently ignored and the
    # codegen-thrash fix (r13 Change 1) quietly does not apply.  Make
    # that visible instead of silent (r13 advice).
    wanted = os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "5000")
    try:
        actual = spark.conf.get("spark.sql.codegen.cache.maxEntries")
        if actual != wanted:
            import warnings

            warnings.warn(
                "get_spark attached to a pre-existing SparkContext: "
                f"spark.sql.codegen.cache.maxEntries is {actual}, not the "
                f"requested {wanted} (static conf — set it on the FIRST "
                "session of the process); expect codegen-cache thrashing "
                "on large query mixes",
                RuntimeWarning,
                stacklevel=2,
            )
    except Exception:
        pass  # conf not readable on this build: nothing to compare
    return spark


class FrameCache:
    """Frames derived once per (application, input dir) and reused.

    The key is (applicationId, realpath(sf_dir)).  applicationId, not
    id(spark): a Python id can be reused after the old session is
    garbage-collected, which would hand back a frame bound to a dead
    JVM.  realpath: equivalent spellings ('/x/sf0.1' vs '/x/sf0.1/',
    relative paths, symlinks) share one entry instead of pinning
    duplicate frames.

    Staleness contract: entries from a PRIOR application are evicted
    (best-effort unpersist) when a new application asks, so long-lived
    processes that cycle sessions neither hold dead references nor leak
    executor storage.  There is deliberately NO invalidation if the
    fixture files change under a live session: the driver runs a fresh
    session per round, and a production driver owns its input
    immutability the same way (the fixture dirs are write-once);
    re-deriving per call to defend against in-place mutation would
    forfeit the reuse for a failure mode the layout already rules out.

    Each cache holds its own lock while a missing frame is built, so
    racing first calls build once instead of each pinning a frame that
    only one entry tracks.  A build may read ANOTHER cache (the
    symmetric edge frame reads the edge frame), never its own."""

    def __init__(self) -> None:
        self.frames: dict[tuple[str, str], DataFrame] = {}
        self.lock = threading.Lock()

    def get(self, spark: SparkSession, sf_dir: str,
            build: Callable[[], DataFrame]) -> DataFrame:
        key = (spark.sparkContext.applicationId, os.path.realpath(sf_dir))
        with self.lock:
            for stale in [k for k in self.frames if k[0] != key[0]]:
                try:
                    self.frames.pop(stale).unpersist(blocking=False)
                except Exception:
                    pass  # dead JVM — the storage died with it
            frame = self.frames.get(key)
            if frame is None:
                frame = self.frames[key] = build()
            return frame
