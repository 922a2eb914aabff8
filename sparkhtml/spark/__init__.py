"""Spark layer: batching, schemas, partitioning, planning.

All per-document HTML work happens in Arrow (``mapInArrow``) workers from
:mod:`sparkhtml.spark.pipeline`; everything cross-document is plain
DataFrame API so Catalyst owns pushdown/pruning/AQE (SURVEY.md §4.2).

Importing this package also makes unchanged zip archives on ``sys.path``
skip their re-read in ``importlib.invalidate_caches()`` (see
:func:`_skip_unchanged_zip_rereads`). Unpickling any worker function of
this package imports it, so every Python worker gets the skip.
"""

import os
import sys
import zipimport

from pyspark.sql import DataFrame

_CACHED_ATTR = "_sparkhtml_cached_deps"


def _skip_unchanged_zip_rereads() -> None:
    """Stop ``zipimporter.invalidate_caches`` from re-reading an archive
    that has not changed since its last read.

    A PySpark worker calls ``importlib.invalidate_caches()`` before every
    task (``pyspark/worker_util.py`` ``setup_spark_files``). Before Python
    3.13 that makes every ``zipimporter`` re-read its archive's central
    directory — ``pyspark.zip`` alone has 12 importers — which cost
    0.14–0.25 s of CPU per task (SCALE.md §6). The replacement stats the
    archive first; when ``(st_ino, st_size, st_mtime_ns)`` equals the stamp
    of the archive's last read, it reuses that read. A rewritten or
    replaced archive changes the stamp and is re-read. The stat comes
    before the read, so an archive rewritten during a read is re-read next
    time. Python 3.13 reads lazily, so there it is left alone.
    """
    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(original, "zip_reads"):
        return
    zip_reads: dict[str, tuple[tuple[int, int, int], dict]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:  # gone: the original drops its cached directory
            zip_reads.pop(self.archive, None)
            return original(self)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        last = zip_reads.get(self.archive)
        if last is not None and last[0] == stamp:
            self._files = last[1]
            zipimport._zip_directory_cache[self.archive] = last[1]
            return
        original(self)
        zip_reads[self.archive] = (stamp, self._files)

    invalidate_caches.zip_reads = zip_reads
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_skip_unchanged_zip_rereads()


def _register_cached(out: DataFrame, *deps: DataFrame) -> DataFrame:
    """Record cached intermediates on a result DataFrame so long-lived
    sessions can release them once the result is consumed."""
    setattr(out, _CACHED_ATTR, list(deps))
    return out


def release_cached(df: DataFrame) -> int:
    """Unpersist the cached intermediates a dedup/similarity operator
    registered on ``df`` (no-op for other DataFrames). Returns the number
    of entries released. Per-job pipelines can ignore this — the cache
    dies with the session — but long-lived sessions should call it after
    consuming the result."""
    deps = getattr(df, _CACHED_ATTR, None) or []
    for d in deps:
        d.unpersist()
    setattr(df, _CACHED_ATTR, [])
    return len(deps)
