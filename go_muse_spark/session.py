"""SparkSession factory tuned for this engine.

local[N] in-sandbox; the same settings are what we'd ship in
spark-submit --conf for a multi-executor cluster (AQE on, Arrow on,
shuffle partitions sized to parallelism, UTC session time).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "get_bench_spark", "ship_package", "DEFAULT_CPUS"]

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
    # sizing knobs are env/arg-only: library defaults stay conservative so
    # get_spark works on small hosts (an unconditional 56g heap fails JVM
    # startup there; an unconditional tmpfs spill dir risks ENOSPC). The
    # bench/tool entry points opt into the sandbox sizing via
    # get_bench_spark / SPARK_DRIVER_MEM / SPARK_GRAFT_LOCAL_DIR.
    mem = driver_mem or os.environ.get("SPARK_DRIVER_MEM")
    if mem:
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


def get_bench_spark(
    cpus: int | None = None,
    app: str = "go-muse-spark-bench",
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """get_spark + the bench-sandbox sizing (32-vCPU/128 GiB VM).

    One shared heap for all local[N] task threads: size it so 32
    concurrent shuffle/sort tasks never contend on young-gen space — an
    undersized heap showed up as a 3-19x executorRunTime inflation at 32
    threads (allocation stalls, not reported GC time). Shuffle spill goes
    to tmpfs to keep 32 concurrent shuffle writers off the single virtio
    disk. On a real cluster both are ordinary per-executor sizing /
    resource-manager-provided local disks — which is why they live here,
    not in the library defaults.
    """
    cfg = {
        "spark.local.dir": os.environ.get(
            "SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"
        )
    }
    cfg.update(extra or {})
    return get_spark(
        cpus=cpus,
        app=app,
        shuffle_partitions=shuffle_partitions,
        driver_mem=os.environ.get("SPARK_DRIVER_MEM", "56g"),
        extra=cfg,
    )
