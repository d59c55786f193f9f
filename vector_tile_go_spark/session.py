"""SparkSession factory with the engine's scale-oriented defaults.

Tuned for correctness at local[N] and designed for multi-executor clusters:
AQE (runtime re-plan + skew-join splitting), Arrow for every pandas UDF
boundary, shuffle partitions sized to parallelism rather than the 200
default. On a real cluster the same code runs unchanged via
``spark-submit --py-files vector_tile_go_spark.zip job.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Arrow IPC allocator: pyarrow's bundled jemalloc pool defaults to
# decay_ms=0 — every freed batch buffer is purged to the OS immediately and
# re-faulted on the next batch. Under multi-executor concurrency on a shared
# kernel those anon faults serialize (measured here: 4x8-core executors ran
# identity UDFs at 0.15-0.25x fair share with 22-56% kernel time; see
# BASELINE.md round 3 and tools/boundary_probe.py). Routing Arrow through
# the system allocator with high mmap/trim thresholds keeps pages resident:
# same fleet at ~0.9x fair share, sys 1.8%. Must be in the process env
# BEFORE the JVM forks the python-worker daemon, hence module scope here;
# on a real cluster ship the same three vars via spark.executorEnv.* (the
# builder below does) or spark-env.sh.
_ARROW_POOL_ENV = {
    "ARROW_DEFAULT_MEMORY_POOL": os.environ.get("SPARK_GRAFT_ARROW_POOL",
                                                "system"),
    "MALLOC_MMAP_THRESHOLD_": "268435456",
    "MALLOC_TRIM_THRESHOLD_": "268435456",
}
for _k, _v in _ARROW_POOL_ENV.items():
    os.environ.setdefault(_k, _v)


def get_spark(app_name: str = "vector_tile_go_spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # every encode shuffle is an un-numbered repartition on the tile
        # key (udfs._encode_plan), so AQE sizes its Python stage by bytes:
        # polygon_roundtrip's encode_geojson_tiles 34 -> 12 tasks and its
        # decode_tiles 16 -> 5 per pass, pass_s 1.30 -> 0.91 s (median of
        # 20 alternating pairs, 4 CPUs; BASELINE.md "Encode shuffle
        # sizing"). Two settings make that hold:
        # - a persisted plan may change its output partitioning; at the
        #   default (false) AQE leaves a cached encode at all
        #   shuffle.partitions, and polygon_roundtrip, bench.py and the
        #   fused-count tests all persist their encode output
        # - a 64 KB coalesce floor, not the default 1 MB: the default is
        #   sized for JVM tasks and folds the 10k-polygon layer into ONE
        #   Python task, so the decode after it runs on 2 of 4 cores; at
        #   64 KB that layer keeps 4 tasks
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                "64k")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark sets -Xms = -Xmx = driver.memory: size it to the core budget
        # so several executor JVMs co-exist without over-committing the box
        # (4 x 48g heaps on 125 GB RAM = reclaim storms, measured 3x
        # slowdown). Lean heaps beat fat ones twice over here: G1 cycles
        # eden allocation across the whole committed heap, so a 12 g heap
        # keeps first-touch-faulting fresh pages for minutes while a 4 g
        # heap wraps and reuses warm pages (measured round 3: 4x8-core
        # shard pipelines 63 s -> 31-39 s from this alone); and smaller
        # heaps leave headroom for the python workers' resident sets.
        # 0.5 GB/core, floor 4 GB — the common production executor shape
        # (4-8 cores, 2-4 GB/core) divides the same way.
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM", f"{max(4, cores // 2)}g"))
        # fault the whole heap once at JVM start instead of letting G1
        # first-touch fresh eden regions for the life of the job — a
        # long-lived cluster executor reaches this state anyway; on this
        # host it is decisive (lone 32-core pipeline 58.5 s -> 21.9 s,
        # JVM kernel time 652 -> 148 CPU-s; BASELINE.md round 3)
        .config("spark.driver.extraJavaOptions", "-XX:+AlwaysPreTouch")
        .config("spark.executor.extraJavaOptions", "-XX:+AlwaysPreTouch")
        # fork python workers from a daemon that has ALREADY imported
        # numpy/pandas/pyarrow + the codec: ~100 MB/worker of import pages
        # become copy-on-write shared instead of private re-faults, and
        # worker spawn is near-instant. The daemon also makes the
        # importlib.invalidate_caches() pyspark runs before EVERY task a
        # stat per zip archive instead of re-parsing pyspark.zip 14 times
        # (~170 ms/task on CPython 3.11 -> ~0.1 ms; an empty 1-task python
        # job 0.28 s -> 0.09 s on 4 CPUs). daemon_preload.py; ships in
        # the --py-files zip for real clusters
        .config("spark.python.daemon.module",
                "vector_tile_go_spark.daemon_preload")
        # executor<->worker traffic over unix domain sockets instead of
        # loopback TCP: ~5% faster at the Arrow boundary here, and at
        # cluster scale it sidesteps per-connection TCP state and loopback
        # softirq entirely (worker sockets never leave the machine)
        .config("spark.python.unix.domain.socket.enabled",
                os.environ.get("SPARK_GRAFT_UDS", "true"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "10000"))
        # shuffle/spill on tmpfs: this sandbox's virtio disk writes ~120MB/s
        # and dirty-page writeback throttling stalls concurrent shuffles in
        # the kernel (measured: sys 30%, idle 33% with 4 pinned JVMs);
        # cluster nodes put spark.local.dir on local NVMe, tmpfs is the
        # sandbox equivalent
        .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR",
                                                  "/dev/shm/spark-local"))
    )
    # propagate the allocator fix to real-cluster executors (no-op locally,
    # where workers inherit this process's env set at module scope above)
    for k, v in _ARROW_POOL_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", os.environ.get(k, v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
