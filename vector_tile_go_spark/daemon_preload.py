"""Python worker daemon that preloads the heavy scientific stack and makes
zip-archive cache invalidation cheap before forking workers.

Stock pyspark forks workers from a daemon that has imported only pyspark:
every worker then imports numpy + pandas + pyarrow + the codec privately,
paying ~100 MB of private anon pages and ~0.5 s of import time per worker.
Preloading in the daemon makes those pages copy-on-write shared across all
workers of the executor: measured here (BASELINE.md round 3), per-worker
private RSS drops ~150 MB -> ~35 MB and a 4x8-core fleet faults ~6 GB less
fresh memory inside the timed stages.

Workers are reused across tasks, but every task still paid a fixed cost:
pyspark's ``setup_spark_files`` calls ``importlib.invalidate_caches()``
before each task, and on CPython < 3.13 ``zipimporter.invalidate_caches``
re-parses the whole archive directory. A worker holds ~16 zipimporters in
``sys.path_importer_cache`` (14 over pyspark.zip, 1,328 entries, one per
package prefix; one over the py4j zip), so every task re-read them:
~170 ms per task on a 4-CPU host with Python 3.11, 90% of an empty task's
profile. The daemon therefore replaces ``zipimporter.invalidate_caches``
with one that costs a ``stat`` unless the archive changed; forked workers
inherit it, including for zips shipped later with
``--py-files``/``addPyFile``. Measured on that host
(``tools/task_overhead_probe.py``, medians of 3 runs, BASELINE.md
"Stat-checked zip importers"): the in-worker ``invalidate_caches()``
172 ms -> 0.13 ms; an empty 1-task / 16-task Python job 0.28 s / 1.24 s
-> 0.09 s / 0.31 s, against 0.06 s for a 16-task JVM-only job;
polygon_roundtrip ``pass_s`` 4.77 s -> 2.51 s.

On a real cluster this module ships in the --py-files zip and is enabled by
``spark.python.daemon.module=vector_tile_go_spark.daemon_preload``
(session.py sets it). The daemon protocol is unchanged — after preparing
the process we hand control to pyspark's own manager loop.
"""

import importlib
import os
import sys
import zipimport

_PRELOAD = (
    "numpy",
    "pandas",
    "pyarrow",
    "pyarrow.pandas_compat",  # lazy-imported by serializers
    "vector_tile_go_spark.codec.decode",
    "vector_tile_go_spark.codec.encode",
    "vector_tile_go_spark.codec.encode_fast",
    "vector_tile_go_spark.codec.splice",
    "vector_tile_go_spark.spatial.bbox",
    "vector_tile_go_spark.spatial.hexgrid",
    "vector_tile_go_spark.spatial.pip",
)


def _preload() -> None:
    for name in _PRELOAD:
        try:
            importlib.import_module(name)
        except Exception as e:
            # never block worker startup on a preload failure — workers
            # import lazily as stock pyspark does; stderr goes to the
            # executor log (stdout carries the daemon protocol)
            print(f"daemon_preload: preloading {name} failed "
                  f"({type(e).__name__}: {e}); workers import it lazily",
                  file=sys.stderr, flush=True)


_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _stat_checked_invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that re-reads the archive directory
    only when the archive's (mtime_ns, size, inode) changed since this
    importer last read it, so a rewritten archive is still picked up. If the
    archive cannot be stat'ed it does the stock re-read, which then behaves
    exactly as the stdlib importer does."""
    try:
        st = os.stat(self.archive)
        key = st.st_mtime_ns, st.st_size, st.st_ino
    except OSError:
        key = None
    if key is None or key != getattr(self, "_key", None):
        # stat before reading: a write racing the read leaves an older key
        # behind, so the next call reads again
        _stock_invalidate_caches(self)
    self._key = key


def install_stat_checked_zip_importers() -> None:
    """Make every zipimporter in this process (and in processes forked from
    it) stat-checked, the ones already in ``sys.path_importer_cache`` and
    the ones created later alike, by replacing the method on the stdlib
    class."""
    if sys.version_info >= (3, 13):
        return  # CPython 3.13 invalidates zip directories lazily itself
    zipimport.zipimporter.invalidate_caches = _stat_checked_invalidate_caches
    # one last full read per importer records the stat keys, so forked
    # workers start with nothing to re-read
    importlib.invalidate_caches()


def main() -> None:
    _preload()
    install_stat_checked_zip_importers()
    from pyspark.daemon import manager
    manager()


if __name__ == "__main__":
    main()
