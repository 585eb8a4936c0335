"""SparkSession factory tuned for this engine.

local[N] in-sandbox; the same settings are what we'd ship in
spark-submit --conf for a multi-executor cluster (AQE on, Arrow on,
shuffle partitions sized to parallelism, UTC session time).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = [
    "get_spark",
    "ship_package",
    "install_zip_stat_check",
    "DEFAULT_CPUS",
]

# SPARK_GRAFT_CPUS overrides; otherwise every core this process may run on
DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)

_PKG_ZIP: str | None = None
_SHIPPED_CONTEXTS: set[int] = set()


def _package_zip() -> str:
    """Zip this package once per process (the --py-files artifact)."""
    global _PKG_ZIP
    if _PKG_ZIP is None:
        import tempfile
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        fd, zpath = tempfile.mkstemp(prefix="go_muse_spark_", suffix=".zip")
        os.close(fd)
        with zipfile.ZipFile(zpath, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
        _PKG_ZIP = zpath
    return _PKG_ZIP


def ship_package(spark: SparkSession) -> None:
    """Make go_muse_spark importable on executor Python workers.

    Cluster deployment uses ``spark-submit --py-files go_muse_spark.zip``;
    this is the programmatic equivalent (sc.addPyFile) so the engine works
    no matter what cwd/PYTHONPATH the driver was launched with — UDF
    closures are pickled by reference and workers must import the module.
    """
    sc = spark.sparkContext
    if id(sc) in _SHIPPED_CONTEXTS:
        return
    sc.addPyFile(_package_zip())
    _SHIPPED_CONTEXTS.add(id(sc))


def install_zip_stat_check() -> None:
    """Re-read a zip archive on ``importlib.invalidate_caches()`` only
    when the archive changed on disk.

    Spark's Python worker calls ``importlib.invalidate_caches()`` before
    every task (``pyspark.worker_util.setup_spark_files``). On CPython
    3.11 and 3.12, ``zipimporter.invalidate_caches`` re-reads the
    archive's whole central directory each time. An engine worker holds
    about 20 zip importers on sys.path (``pyspark.zip``, the Spark core
    jar, py4j and the shipped package zip, several per archive), so each
    task paid 0.14-0.26 s re-reading archives that had not changed.

    The replacement stats the archive and keeps the directory it last
    read for that path while ``(st_ino, st_size, st_mtime_ns)`` is
    unchanged; a replaced, rewritten or new archive is still re-read, so
    ``invalidate_caches`` keeps its contract. An unchanged archive costs
    one ``stat``. CPython 3.13 made the invalidation lazy (it only drops
    the cached directory), so this does nothing there; delete it once
    the engine's floor is 3.13. Idempotent.
    """
    import sys
    import zipimport

    if sys.version_info >= (3, 13):
        return
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "stat_checked", False):
        return
    reread = cls.invalidate_caches
    # archive path -> (stat key at the last read, directory read)
    last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            last_read.pop(self.archive, None)
            reread(self)
            return
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
        seen = last_read.get(self.archive)
        if seen is not None and seen[0] == key:
            self._files = seen[1]
            zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        # stat before the read: a write racing the read leaves a stale
        # key, which forces one more read next time, never a stale dir
        reread(self)
        last_read[self.archive] = (key, self._files)

    invalidate_caches.stat_checked = True
    cls.invalidate_caches = invalidate_caches


def _host_driver_mem() -> str:
    """A quarter of this host's memory, between 1g and 8g."""
    with open("/proc/meminfo") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return f"{max(1, min(8, kb // (4 * 2**20)))}g"


def get_spark(
    cpus: int | None = None,
    app: str = "go-muse-spark",
    shuffle_partitions: int | None = None,
    driver_mem: str | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    # one BLAS thread per Python worker: Spark already runs one worker
    # per task slot, so a default-threaded OpenBLAS (32 threads each on
    # this host) oversubscribes cores 32x inside GEMM-heavy pandas UDFs
    # (matrix_profile). Workers fork from a daemon that inherits this
    # env; on a real cluster the same pair goes in spark.executorEnv.*.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        # shuffle partitions ~ parallelism, not the 200 default; AQE
        # coalesces down when partitions come out small
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's byte-based coalescing can't see Python/pandas-UDF CPU cost
        # and will collapse a small-but-compute-heavy stage (Gorilla encode,
        # xcorr scoring) to 1-2 partitions. A low floor keeps those stages
        # at full parallelism; at real scale partitions are big and this
        # floor is a no-op.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # local single-file fixtures: split scans finer so the read side
        # parallelizes (at cluster scale files are plentiful and this only
        # caps per-task input)
        .config("spark.sql.files.maxPartitionBytes", "16m")
    )
    # the driver heap is shared by every local[N] task thread; by default
    # it is sized to the host (a quarter of its memory, at most 8g)
    mem = driver_mem or os.environ.get("SPARK_DRIVER_MEM") or _host_driver_mem()
    builder = builder.config("spark.driver.memory", mem)
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
