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


_PAGE_TOUCH_GIB_S: float | None = None


def _page_touch_gib_s() -> float:
    """Anonymous-page first-touch bandwidth of this host, in GiB/s.

    ``-Xms<heap> -XX:+AlwaysPreTouch`` makes the JVM fault in and zero the
    whole heap at startup. On healthy metal that streams at multiple GiB/s
    and a 64 GiB pre-touch is seconds; under hypervisor ballooning this VM
    has measured as low as ~0.17 GiB/s (64 GiB pre-touch = 380 s of dead
    startup against a ~350 s bench — all of it kernel time in the page
    supply path, so neither THP nor more GC threads help). The probe
    first-touches one byte per 4 KiB page of a fresh 256 MiB mmap — the
    same fault+zero path the JVM pre-touch exercises. Caveat, measured on
    this host: the probe tends to OVERESTIMATE what a fresh JVM heap will
    see — a balloon driver with free-page reporting hands freed guest pages
    straight back to the hypervisor, so the probe (whose mmap can recycle
    pages the process just released) streams at ~1.4 GiB/s while a fresh
    34 GiB -Xms pre-touch crawled at ~0.12 GiB/s in the same minute. The
    consumer (_adaptive_heap_gib) therefore applies a 4x safety factor.
    Cached per process.
    """
    global _PAGE_TOUCH_GIB_S
    if _PAGE_TOUCH_GIB_S is None:
        import mmap
        import time

        import numpy as np

        n = 1 << 28  # 256 MiB: big enough to defeat pre-zeroed free pages
        m = mmap.mmap(-1, n)
        a = np.frombuffer(memoryview(m), dtype=np.uint8)
        t0 = time.perf_counter()
        a[::4096] = 1
        dt = max(time.perf_counter() - t0, 1e-6)
        del a
        m.close()
        _PAGE_TOUCH_GIB_S = (n / float(1 << 30)) / dt
    return _PAGE_TOUCH_GIB_S


def _adaptive_heap_gib(cores: int) -> int:
    """Driver heap sized to both the core count AND the host's page supply.

    Target is 4 GiB/core (cap 64) — heap and GC threads must scale together
    (see the GC discussion in get_spark). But the pre-touched heap must also
    be CREATABLE in bounded time: the heap that fits the startup budget is
    ``probe_bandwidth x ~30 s / 4`` (4x = the measured recycled-vs-fresh
    page gap, see _page_touch_gib_s), floored at 16 GiB (r1's fixed-16g
    config — known to run every bench workload, just with more frequent
    young GCs). Healthy host (probe >= ~8 GiB/s) => the 4 GiB/core target;
    ballooned host => the floor, because a 64 GiB pre-touch measured 380 s
    against a ~350 s total bench wall — the GC headroom is not worth
    doubling the run.
    """
    cap = min(64, max(4, 4 * cores))
    fits_budget = int(_page_touch_gib_s() * 30.0 / 4.0)
    return max(min(cap, fits_budget), min(cap, 16))


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
        gib = _adaptive_heap_gib(cores)
        heap = f"{gib}g"
        cap = min(64, max(4, 4 * cores))
        if gib < cap:
            import sys

            print(
                f"[engine.session] page-touch {_page_touch_gib_s():.2f} GiB/s"
                f" -> driver heap {heap} (4 GiB/core target {cap}g deferred;"
                " hypervisor page supply would stall -Xms pre-touch)",
                file=sys.stderr,
                flush=True,
            )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Arrow everywhere: pandas UDFs and toPandas go through Arrow batches.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Content strings are fat (up to ~3 KB); keep Arrow batches modest so
        # a batch stays comfortably in the Python worker's memory.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "5000")
        # AQE: runtime partition coalescing + skew-join splitting are the
        # first line of defense for skew; explicit salting (graph.py) covers
        # the groupBy hot keys AQE cannot touch.
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
        # - Heap scales with parallelism (4 GiB/core, cap 64g): cluster
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


def stop_all() -> None:
    """Stop the active session if any (used between N-vs-4N bench runs)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
