"""Zip import archives are re-read only when they change.

pyspark calls ``importlib.invalidate_caches()`` at the start of every
Python task; importing ``htmlparser_spark`` makes that a no-op for zip
archives whose (mtime, size) stamp has not moved since their last
read, while a rewritten archive is still re-read."""

import collections
import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql.types import IntegerType, StructField

import htmlparser_spark
from htmlparser_spark.htmldom import parse
from htmlparser_spark.kernel import extract_text, row_map


@pytest.fixture
def reads(monkeypatch):
    """Directory reads per archive path while the test runs."""
    counts = collections.Counter()
    stock = zipimport._read_directory

    def counted(archive):
        counts[archive] += 1
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return counts


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding one module, on sys.path; cleaned out afterwards."""
    path = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zipreread_a.py", "VALUE = 'a'\n")
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zipreread_a", "zipreread_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(archive, reads):
    import zipreread_a
    assert zipreread_a.VALUE == "a"
    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    assert reads[archive] == 0
    # installing again (a re-import of the package) changes nothing
    stamped = zipimport.zipimporter.invalidate_caches
    htmlparser_spark._reread_zip_archives_only_on_change()
    assert zipimport.zipimporter.invalidate_caches is stamped


def test_rewritten_archive_is_reread(archive, reads):
    import zipreread_a  # noqa: F401
    importlib.invalidate_caches()
    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("zipreread_b.py", "VALUE = 'b'\n")
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    reads.clear()
    importlib.invalidate_caches()
    import zipreread_b
    assert zipreread_b.VALUE == "b"
    assert reads[archive] == 1


def test_python_tasks_skip_archive_rereads(spark):
    # after a warm job, every task of a second job finds each worker's
    # zip archives (pyspark.zip on the workers' path) already stamped:
    # the row function's own invalidate_caches() reads nothing. The
    # row function references the package, like every package kernel,
    # so unpickling it imports htmlparser_spark in the worker.
    cores = spark.sparkContext.defaultParallelism
    warm = spark.range(0, cores * 4, 1, cores) \
        .selectExpr("concat('<p>', id, '</p>') AS text")
    extract_text(warm).write.format("noop").mode("overwrite").save()

    def rereads(s):
        import importlib
        import sys
        import zipimport
        assert parse(s) is not None
        n = 0
        stock = zipimport._read_directory

        def counted(archive):
            nonlocal n
            n += 1
            return stock(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        return n, zips

    tasks = spark.range(0, cores * 2, 1, cores * 2) \
        .selectExpr("'<p>x</p>' AS text")
    fields = [StructField("rereads", IntegerType(), False),
              StructField("zip_importers", IntegerType(), False)]
    rows = row_map(tasks, "text", fields, rereads, (0, 0)).collect()
    assert len(rows) == cores * 2
    assert all(r.zip_importers > 0 for r in rows)
    assert [r.rereads for r in rows] == [0] * len(rows)
