"""crawler_spark — a PySpark-native crawl-then-filter analytics engine.

A from-scratch re-expression of the capabilities of ``eyjs/crawler``
(reference at /root/reference, studied for behavior only) as an idiomatic
Spark engine:

* a distributed URL frontier held in versioned tables (Iceberg-style
  commit semantics over parquet via :mod:`crawler_spark.tableio`),
* a partitioned Bloom-filter URL-seen set keyed by
  ``xxhash64(canonical_url)`` (:mod:`crawler_spark.operators.seen`),
* per-host politeness (robots rules + crawl-delay budget) enforced through
  a salted groupBy (:mod:`crawler_spark.operators.politeness`),
* a priority queue realized as a Window rank over ``(host, depth, score)``
  (:mod:`crawler_spark.operators.frontier`),
* vectorized pandas/Arrow UDF content extraction + quality gates
  (:mod:`crawler_spark.functions`), and
* training-data pipeline operators (dedup, similarity search, text
  analysis, multimodal plumbing) in :mod:`crawler_spark.operators`.

Everything per-row is Arrow-batched; no per-row Python UDFs anywhere.
"""

import sys

__version__ = "0.1.0"


def _guard_zip_directory_rereads() -> None:
    """Skip re-reading an unchanged zip archive's directory.

    PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
    start of every task. On Python < 3.12 that makes every cached
    ``zipimporter`` re-read its whole archive directory, one read per
    imported pyspark subpackage, all of the same ``pyspark.zip``: about
    0.3 s of CPU per task on a 4-core host, paid even by a task over an
    empty partition, and more than most of this engine's tasks spend on
    data. An archive whose size and mtime are unchanged keeps the
    directory already read; a changed archive is re-read as before (an
    archive rewritten in place with the same size and mtime, to the
    nanosecond, would keep its stale directory). Relies on the private
    ``zipimport._zip_directory_cache`` and ``zipimporter._files``;
    ``tests/test_zip_guard.py`` pins both."""
    import os
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_crawler_spark_guard", False):
        return
    stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        stamps[self.archive] = stamp

    invalidate_caches._crawler_spark_guard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


# Only inside a PySpark Python worker (the process that has loaded
# pyspark.worker_util, whose per-task setup makes the call), where the
# first engine UDF unpickled imports this package; the driver and any
# application embedding the package keep the stdlib behaviour.
if sys.version_info < (3, 12) and "pyspark.worker_util" in sys.modules:
    _guard_zip_directory_rereads()
