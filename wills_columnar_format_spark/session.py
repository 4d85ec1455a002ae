"""SparkSession builder with the engine's standard configuration.

Tuned for the sandbox (single JVM, local[N]) but every knob is the one
you would set on a real cluster: AQE on for runtime coalesce/skew-split,
Arrow batches sized for the encode chunking, shuffle partitions matched
to parallelism (not the 200 default).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "wills_columnar_format_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """A local SparkSession sized from the machine unless told otherwise:
    ``cores`` from ``SPARK_GRAFT_CPUS``, else the CPUs this process may
    run on; ``driver_memory`` half of MemTotal (a heap ceiling, not a
    reservation)."""
    # glibc allocator tuning for the PYTHON WORKERS (they inherit this
    # environment through the JVM): numpy's large temporaries sit above
    # malloc's default mmap threshold, so every encode-kernel array is
    # mmap'd on alloc and munmap'd on free — a fresh page-fault storm
    # per task that measured up to 10s on a fresh worker vs ~1s once
    # glibc's dynamic threshold adapts. Pinning the threshold above the
    # kernel working set keeps freed pages in-process from the start.
    # (Setting the env var disables the dynamic adaptation; harmless on
    # non-glibc where it is simply ignored.)
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(64 << 20))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(256 << 20))
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or _usable_cpus())
    if driver_memory is None:
        driver_memory = _half_memtotal()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Small Arrow batches: token rows average ~180 int32 elements, so
        # 65536-row batches are ~47 MB — measured to inflate JVM CPU 8x at
        # high task concurrency (allocator/cache thrash in the Arrow
        # writer). 2048 rows ≈ 1.5 MB streams through caches; encode wall
        # time at 8 cores dropped 17s -> 7-9s with this alone.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # blobs can be tens of MB; keep task result / broadcast limits sane
        .config("spark.sql.files.maxPartitionBytes", "256m")
        .config("spark.ui.enabled", "false")
    )
    # shuffle/spill to tmpfs when available: the sandbox stand-in for a
    # cluster's local NVMe; avoids charging rootfs I/O to shuffle stages.
    # Gated on capacity — tmpfs is RAM-backed and often tiny (Docker
    # defaults /dev/shm to 64 MB), where any real spill would ENOSPC.
    # SPARK_GRAFT_TMPFS_SHUFFLE=0/1 overrides the heuristic either way.
    use_tmpfs = os.environ.get("SPARK_GRAFT_TMPFS_SHUFFLE")
    if use_tmpfs is None and os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            use_tmpfs = "1" if st.f_bavail * st.f_frsize >= 8 << 30 else "0"
        except OSError:
            use_tmpfs = "0"
    if use_tmpfs == "1" and os.path.isdir("/dev/shm"):
        builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
    # the package zip must be in spark.submit.pyFiles BEFORE the context
    # starts: driver-side Python PLANNER processes (the Python DataSource
    # streaming-source runner, Spark 4.1) receive only the files known at
    # launch — a later addPyFile reaches executors but not them, and the
    # stream reader unpickles there (measured: ModuleNotFoundError from
    # python_streaming_source_runner without this)
    zip_path = build_package_zip()
    builder = builder.config("spark.submit.pyFiles", zip_path)
    # …and on PYTHONPATH before the JVM launches: driver-side Python
    # PLANNER runners (spawned by the JVM) inherit this environment,
    # which is the only channel that reliably reaches them in local
    # mode. On a real cluster spark-submit --py-files does both.
    if zip_path not in os.environ.get("PYTHONPATH", ""):
        os.environ["PYTHONPATH"] = (
            zip_path + os.pathsep + os.environ["PYTHONPATH"]
            if os.environ.get("PYTHONPATH") else zip_path)
    spark = builder.getOrCreate()
    # getOrCreate silently ignores every config above when a session
    # already exists — including spark.submit.pyFiles, so the driver-side
    # streaming planner would fail with a bare ModuleNotFoundError with
    # no pointer to the cause. Detect the reuse and name the limitation.
    launched = spark.conf.get("spark.submit.pyFiles", "")
    if zip_path not in launched:
        import warnings

        warnings.warn(
            "get_spark() reused an existing SparkSession whose "
            "spark.submit.pyFiles does not include "
            f"{zip_path!r}: batch reads/writes work (addPyFile covers "
            "executors), but the wcfs STREAMING source plans in a "
            "driver-side Python runner that only sees files known at "
            "JVM launch — readStream.format('wcfs') will raise "
            "ModuleNotFoundError on this session. Stop the existing "
            "session first (spark.stop()) and call get_spark() again.",
            RuntimeWarning,
            stacklevel=2,
        )
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def _usable_cpus() -> int:
    """CPUs this process may run on (its affinity mask, which a
    container's cpuset narrows), not the host's count."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def _half_memtotal() -> str:
    """Half of ``/proc/meminfo`` MemTotal as a JVM size string; "4g"
    where there is no /proc."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{int(line.split()[1]) // 2048}m"
    except OSError:
        pass
    return "4g"


def build_package_zip() -> str:
    """Build (once per package content) and return the package zip
    path — the artifact ``spark-submit --py-files`` would ship. Pure
    filesystem work so it can run BEFORE the SparkContext exists
    (``spark.submit.pyFiles`` must be set at launch for driver-side
    Python planner processes to see it).

    The file name carries a digest of every ``.py`` file's relative
    path and contents, so an edited package or a second checkout never
    reuses a zip of other code (workers would run it while the driver
    runs this one). The zip is written to a temp file and renamed into
    place, so a concurrent reader never sees a partial zip."""
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    sources = []
    for root, dirs, files in os.walk(pkg_dir):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                sources.append(
                    (os.path.join(pkg_name, os.path.relpath(full, pkg_dir)),
                     full))
    digest = hashlib.blake2b(digest_size=8)
    for rel, full in sources:
        with open(full, "rb") as fh:
            data = fh.read()
        for part in (rel.encode(), len(data).to_bytes(8, "little"), data):
            digest.update(part)
    out_dir = os.environ.get("TMPDIR", "/tmp")
    zip_path = os.path.join(out_dir, f"{pkg_name}-{digest.hexdigest()}.zip")
    if not os.path.exists(zip_path):
        fd, tmp = tempfile.mkstemp(prefix=f".{pkg_name}-", suffix=".zip",
                                   dir=out_dir)
        os.close(fd)
        try:
            with zipfile.ZipFile(tmp, "w") as zf:
                for rel, full in sources:
                    zf.write(full, rel)
            os.replace(tmp, zip_path)
        except BaseException:
            os.unlink(tmp)
            raise
    return zip_path


def ship_package(spark: SparkSession) -> str:
    """Ship this package to executors as a zip (the ``spark-submit
    --py-files`` deployment path, per the north rule). Required whenever
    the driver's cwd is not the repo root — Python workers unpickle the
    encode/decode closures and must import this package.
    """
    zip_path = build_package_zip()
    spark.sparkContext.addPyFile(zip_path)
    return zip_path
