"""The allocator fixes behind the round-3 scaling work must stay wired:
pyarrow's bundled jemalloc (decay_ms=0, purge-on-free) must NOT own the
Arrow IPC buffers in python workers, and the same env must be declared for
real-cluster executors via spark.executorEnv.* (see session.py and
BASELINE.md round 3 for the measured 4-JVM fleet collapse this prevents).
"""

import os


def test_module_scope_env_set():
    # importing the session module must have pinned the pool env in this
    # process (the JVM and its forked python-worker daemon inherit it)
    import vector_tile_go_spark.session  # noqa: F401
    assert os.environ.get("ARROW_DEFAULT_MEMORY_POOL")
    assert int(os.environ.get("MALLOC_MMAP_THRESHOLD_", "0")) >= 1 << 20
    assert int(os.environ.get("MALLOC_TRIM_THRESHOLD_", "0")) >= 1 << 20


def test_executor_env_declared(spark):
    conf = spark.sparkContext.getConf()
    pool = os.environ["ARROW_DEFAULT_MEMORY_POOL"]
    assert conf.get("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL") == pool
    assert conf.get("spark.executorEnv.MALLOC_MMAP_THRESHOLD_")
    assert conf.get("spark.executorEnv.MALLOC_TRIM_THRESHOLD_")


def test_worker_pool_is_not_purging_jemalloc(spark):
    # inside an actual python worker the default pool must be whatever the
    # env selected (system unless overridden) — not the purge-on-free
    # bundled jemalloc default
    expected = os.environ["ARROW_DEFAULT_MEMORY_POOL"]

    def probe(batches):
        import pyarrow as pa
        import pandas as pd
        yield pd.DataFrame(
            {"pool": [pa.default_memory_pool().backend_name]})

    rows = (spark.range(1, numPartitions=1)
            .mapInPandas(probe, "pool string").collect())
    assert rows[0]["pool"] == expected


def test_heap_sized_lean():
    # 0.5 GB/core with a 4 GB floor — fat Xms=Xmx heaps make G1 first-touch
    # fresh pages for the whole job (BASELINE.md round 3)
    from vector_tile_go_spark.session import get_spark  # noqa: F401
    import inspect
    src = inspect.getsource(get_spark)
    assert "cores // 2" in src


def test_aqe_sizes_cached_encode_shuffles(spark):
    # the encode shuffles are coalesced by bytes, on persisted plans too,
    # down to a floor sized for Python tasks (session.py)
    assert spark.conf.get(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true"
    assert spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize") == "64k"
