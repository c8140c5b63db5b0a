"""SparkSession factory — the single place execution config is decided.

Every entry point (tests, bench, ``__spark_entry__``) builds its session
here so the N-vs-4N scaling bench is literally a parameter change
(SURVEY.md §7.1 step 0).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_dir() -> str:
    """tmpfs scratch when available (see spark.local.dir comment below)."""
    shm = "/dev/shm/verum_spark_local"
    try:
        os.makedirs(shm, exist_ok=True)
        return shm
    except OSError:
        return "/tmp"


def _available_bytes() -> int:
    """Memory this process can still claim: ``MemAvailable``, lowered to the
    cgroup limit (v2 ``memory.max`` or v1 ``memory.limit_in_bytes``) when
    one is set."""
    avail = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                avail = int(line.split()[1]) * 1024
    for path in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            with open(path) as fh:
                avail = min(avail, int(fh.read()))
        except (OSError, ValueError):  # no such cgroup file, or "max"
            pass
    return avail


def _heap_gib(cores: int) -> int:
    """Driver heap in GiB: 4 GiB per core, capped at 64 and at half of the
    memory available when the session starts, so the pre-touched heap
    always fits beside whatever else is running (another JVM included)."""
    return max(1, min(64, 4 * cores, _available_bytes() // (2 << 30)))


def get_spark(
    parallelism: int | None = None,
    app_name: str = "verum-spark",
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the engine.

    Parameters
    ----------
    parallelism:
        Number of local cores, i.e. ``local[parallelism]``. ``None`` means
        ``local[*]``. On a real cluster the same code ships via
        ``spark-submit --py-files engine.zip`` and ``master`` is simply not
        overridden (see bench/SCALING.md).
    shuffle_partitions:
        Defaults to ``2 * parallelism`` (or 32) — small enough that the
        per-iteration fixed cost stays low at test scale, large enough that
        AQE can coalesce rather than starve. At 100 TB scale this is set to
        O(total-input-bytes / 128MB) instead; AQE coalescing makes the
        over-provisioned value cheap.
    """
    master = f"local[{parallelism}]" if parallelism else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = 2 * parallelism if parallelism else 32
    cores = parallelism or (os.cpu_count() or 16)
    heap = os.environ.get("SPARK_DRIVER_MEM")
    if heap is None:
        heap = f"{_heap_gib(cores)}g"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Arrow everywhere: pandas UDFs and toPandas go through Arrow batches.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Content strings are fat (up to ~3 KB); keep Arrow batches modest so
        # a batch stays comfortably in the Python worker's memory.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "5000")
        # AQE: runtime partition coalescing + skew-join splitting are the
        # first line of defense for join skew; groupBy hot keys are split by
        # map-side partial aggregation (the PageRank gather's sum).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        # Iterative DataFrame algorithms re-plan every iteration; keep the
        # UI/retained-stage bookkeeping light.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Codegen cache sized for one scoring pass: PageRank, CC, LPA,
        # derive and triangles together compile several hundred classes,
        # and at Spark's default of 100 entries each layer evicts the
        # others', so every warm call recompiled its whole loop.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Measured on this (virtualized) host (r1/r2):
        # - Lazily-committed heap pages turn young GCs into page-fault
        #   storms (r1) — ``-Xms=heap -XX:+AlwaysPreTouch`` is mandatory
        #   with EITHER collector (G1 without pretouch: 527s of sys time
        #   in a 6-iteration run).
        # - Heap scales with parallelism (4 GiB/core, cap 64g, at most
        #   half the memory available at start, see _heap_gib): cluster
        #   memory scales with cluster size, and a fixed heap mis-measures
        #   both ends — 16g at 32 threads throttles allocation, 16g at 2
        #   pinned cores gives 2 GC threads a huge young gen (8-35s pauses,
        #   event-log data). Heap and GC threads must scale TOGETHER.
        # - G1 vs ParallelGC, both pre-touched, 41M-edge loop at 32g:
        #   G1 8.3s total GC vs ParallelGC 39.7s (old-gen churn from
        #   per-iteration cached state is G1's home turf). G1 kept.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GC_OPTS",
                f"-XX:+UseG1GC -Xms{heap} -XX:+AlwaysPreTouch",
            ),
        )
        .config("spark.driver.memory", heap)
        # Shuffle files / spills / block-manager disk store. This VM's /tmp
        # sits on a virtualized disk (virtio) with erratic latency — the
        # r2 24M-row runs showed identical iterations swinging 7s..28s from
        # IO weather alone. A real cluster node serves spark.local.dir from
        # local NVMe; tmpfs is the local-mode analogue (and the shuffle
        # volume per iteration is bounded: one exchange, ~4 bytes/edge).
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", _local_dir()))
        # Bucketed tables (graph.save_edges_bucketed) need a warehouse;
        # keep it out of the repo tree.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/verum_spark_warehouse"),
        )
    )
    if extra:
        for k, v in extra.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
