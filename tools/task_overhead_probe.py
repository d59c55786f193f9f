"""Fixed per-task overhead probe: wall time of empty Spark jobs.

Usage:  python tools/task_overhead_probe.py

Runs, under the engine's ``get_spark`` session, jobs that do no work:

  rdd_map_{1,16}task_s         RDD ``map`` + ``count`` (Python worker)
  map_in_pandas_{1,16}task_s   ``mapInPandas`` identity, noop sink (Arrow
                               boundary, Python worker)
  jvm_16task_s                 ``range`` into the noop sink (JVM only)

and prints one JSON line with the median wall time of each over
``SAMPLES`` runs (after untimed warm-up runs that start the workers),
plus ``worker_invalidate_caches_ms``: the median time of one
``importlib.invalidate_caches()`` inside a Python worker, which pyspark
calls before every task. The gap between the Python and JVM-only jobs is
the fixed per-task cost the engine's codec operators pay on top of their
kernels; keep it visible when the host or the interpreter changes.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the JVM starts the worker daemon from this checkout's package, in any cwd
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

WARMUP = 3
SAMPLES = 9


def _worker_probe(_):
    import importlib
    import zipimport
    times = []
    for _ in range(5):
        t = time.perf_counter()
        importlib.invalidate_caches()
        times.append(time.perf_counter() - t)
    zips = [f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)]
    stat_checked = sum(type(f).invalidate_caches.__name__
                       == "_stat_checked_invalidate_caches" for f in zips)
    return {"ms": statistics.median(times) * 1e3, "zipimporters": len(zips),
            "stat_checked": stat_checked}


def main() -> dict:
    from vector_tile_go_spark.session import get_spark
    spark = get_spark("task_overhead_probe")
    sc = spark.sparkContext

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def identity(batches):
        yield from batches

    jobs = {}
    for n in (1, 16):
        jobs[f"rdd_map_{n}task_s"] = (
            lambda n=n: sc.parallelize(range(n), n).map(lambda x: x).count())
        jobs[f"map_in_pandas_{n}task_s"] = (
            lambda n=n: noop(spark.range(0, n, 1, n)
                             .mapInPandas(identity, "id long")))
    jobs["jvm_16task_s"] = lambda: noop(spark.range(0, 16, 1, 16))

    out = {}
    for name, job in jobs.items():
        for _ in range(WARMUP):
            job()
        times = []
        for _ in range(SAMPLES):
            t = time.perf_counter()
            job()
            times.append(time.perf_counter() - t)
        out[name] = round(statistics.median(times), 4)
    probes = sc.parallelize(range(SAMPLES), 1).map(_worker_probe).collect()
    out["worker_invalidate_caches_ms"] = round(
        statistics.median(p["ms"] for p in probes), 3)
    out["worker_zipimporters"] = probes[-1]["zipimporters"]
    out["worker_stat_checked_zipimporters"] = probes[-1]["stat_checked"]
    out.update(cores=sc.defaultParallelism, samples=SAMPLES,
               python=sys.version.split()[0])
    spark.stop()
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main()
