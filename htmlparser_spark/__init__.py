"""htmlparser_spark — PySpark-native main-content extraction engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference HTML parser (mylogin/htmlparser): an HTML5-style tokenizer +
DOM builder + CSS-selector query engine + text/attribute extraction,
packaged as vectorized Arrow-batch kernels over DataFrames of
multi-turn transcripts, with salted repartitioning, stable turn
ordering, checkpoint lineage + idempotent resume, and a suite of
training-data pipeline operators (dedup, similarity search, text
stats, multimodal plumbing).

Layout:
    htmldom/    pure-Python parse/select/serialize kernel (no Spark)
    kernel.py   Arrow-batch kernels + Spark schemas
    operators/  extraction pipeline, selectors-as-DataFrames, dedup, ANN
    sources/    transcripts synthesizers (test-scale + distributed)
    functions/  column-level helpers (JVM-side expressions)
    streaming/  Structured Streaming variant of the extraction pipeline
    plans/      plan-inspection helpers (pushdown/codegen assertions)
"""

__version__ = "0.1.0"


def _reread_zip_archives_only_on_change() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive's (st_mtime_ns, st_size) stamp
    differs from the one taken at its last read; otherwise it is a
    no-op that re-syncs the importer with the shared directory cache.

    pyspark's ``worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` at the start of every Python
    task. CPython 3.11/3.12 re-read the whole zip directory there,
    once per zipimporter: a worker holds ~16 of them over
    ``$SPARK_HOME/python/lib/pyspark.zip`` (1328 entries), a fixed
    ~0.2 core-seconds per task before any batch is read. 3.13 only
    drops the cache and re-reads lazily, so nothing is installed there.
    The stamp is taken before the read: a rewrite during the read
    leaves a stale stamp and the next call reads again. A replaced or
    rewritten archive is re-read as before. Archives cached before the
    install are read once more here, so every stamp matches a read."""
    import sys
    import zipimport
    if sys.version_info >= (3, 13):
        return
    if getattr(zipimport.zipimporter.invalidate_caches, "stamped", False):
        return
    import os
    stamps = {}

    def read(archive):
        cache = zipimport._zip_directory_cache
        try:
            st = os.stat(archive)
            cache[archive] = zipimport._read_directory(archive)
        except (OSError, zipimport.ZipImportError):
            cache.pop(archive, None)
            stamps.pop(archive, None)
            return {}
        stamps[archive] = (st.st_mtime_ns, st.st_size)
        return cache[archive]

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            fresh = stamps.get(self.archive) == (st.st_mtime_ns, st.st_size)
        except OSError:
            fresh = False
        files = zipimport._zip_directory_cache.get(self.archive)
        self._files = (files if fresh and files is not None
                       else read(self.archive))

    invalidate_caches.stamped = True
    for archive in list(zipimport._zip_directory_cache):
        read(archive)
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_reread_zip_archives_only_on_change()
