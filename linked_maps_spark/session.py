"""SparkSession factory with the engine's scale-oriented defaults.

Local sandbox runs on ``local[$SPARK_GRAFT_CPUS]``; the same configuration
(AQE, skew-join handling, Arrow batches, shuffle partitions scaled to cores)
is what a multi-executor ``spark-submit --py-files`` deployment would use —
nothing here assumes single-JVM execution.

PySpark's DataFrame-origin capture is off by default here.  With it on,
every ``functions.*`` call and ``Column`` method also reads the active
session and a conf value, then sets and clears a JVM-side origin: 13 py4j
round trips for ``F.col("x")`` instead of 3, which doubled the driver's
plan-build cost of an ingest epoch and a read.  It only adds the Python
call site to analysis-error text (the error itself is raised either way);
to debug with it, pass
``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``.
PySpark reads the setting once per process, at the first such call made
while a session is active, so set it on the process's first session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "linked-maps-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    executors: int | None = None,
    executor_mem_mb: int = 8192,
) -> SparkSession:
    """``executors=None`` → ``local[cores]`` (single shared JVM).

    ``executors=E`` → ``local-cluster[E, cores, mem]``: E real executor JVMs
    with separate heaps — the faithful sandbox analog of an E-executor
    cluster (each executor gets ``cores`` cores), used for the N-vs-4N
    scaling evidence where a shared heap would conflate GC contention with
    scaling behavior.

    A read of more than ``parallelPartitionDiscovery.threshold`` paths (32
    by default) lists them in a Spark job; lake reads take every path from
    the manifest, so the threshold is out of reach and no read lists."""
    cores = str(cores or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if executors is not None:
        master = f"local-cluster[{executors},{cores},{executor_mem_mb}]"
        total_cores = executors * int(cores)
    else:
        master = f"local[{cores}]"
        total_cores = int(cores)
    # 4× cores: the fold's per-key work is uneven (lattices grow with
    # edition count), finer partitions stop stragglers from serializing the
    # stage (measured: 32 cores / 128 parts = 106s vs / 64 parts = 160s)
    shuffle = str(shuffle_partitions or max(4 * total_cores, 8))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # runtime re-planning: keep AQE for join selection + skew splitting,
        # but disable byte-based partition coalescing: the fold stage is
        # python-heavy and byte-light, and coalescing collapses it onto a
        # handful of tasks (measured 3 partitions / 42s vs 64 / 17s)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        # no per-call DataFrame-origin capture: 4 py4j round trips for
        # F.col("x").alias("y") instead of 24 (see the module docstring;
        # extra_conf turns it back on)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.shuffle.partitions", shuffle)
        # Arrow transfer for every pandas UDF / applyInPandas boundary
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # keep scans splittable at target scale
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                str(2**31 - 1))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    # OPT-IN heap pre-touch (SPARK_PRETOUCH=1).  An earlier default-on
    # -Xms24g -XX:+AlwaysPreTouch was justified by heap-growth stalls
    # measured inside a hypervisor-steal window (BENCH/BASELINE.md
    # addendum); interleaved A/B on an idle box showed the opposite
    # steady-state effect — single-core ingest dropped from ~1800 to
    # 1440-1618 ev/s with one 885 ev/s outlier (24 GB resident guest
    # pages are hostage to host paging, and a full-size pre-touched
    # eden turns every allocation into a cold-page DRAM miss).  The
    # lazily-grown heap is both faster and more stable here; keep the
    # pre-touch available for bare-metal deployments where it belongs.
    if os.environ.get("SPARK_PRETOUCH", "") == "1":
        driver_mem = os.environ.get("SPARK_DRIVER_MEM", "24g")
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mem} -XX:+AlwaysPreTouch",
        )
    if executors is not None:
        builder = builder.config("spark.executor.memory", f"{executor_mem_mb}m")
        # executors are separate JVMs + python workers: ship the package the
        # spark-submit --py-files way (north_rule deployment story)
        builder = builder.config("spark.submit.pyFiles", _package_zip())
    # shuffle spill to tmpfs when available — the sandbox disk writes at
    # ~25 MB/s, which would I/O-bind every shuffle; a real cluster has
    # NVMe/object storage here
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        local_dir = os.path.join(shm, "lms-spark-local")
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _package_zip() -> str:
    """Zip linked_maps_spark into a tempdir for --py-files-style shipping."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), "linked_maps_spark_pyfiles.zip"
    )
    with zipfile.ZipFile(out, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "linked_maps_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    return out
