"""The per-task floor of a Python worker: ``importlib.invalidate_caches()``
re-reads a zip archive on ``sys.path`` only when the archive changed."""

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

import sparkhtml.spark  # noqa: F401  (installs the skip)
from datagen.interleaved import make_corpus
from sparkhtml.spark import schemas
from sparkhtml.spark.pipeline import extract_spans_df

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python 3.13 reads zip directories lazily; no skip is installed")


def _zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _counting_reads(monkeypatch):
    reads = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_zip_not_reread(tmp_path, monkeypatch):
    """Once an archive's stamp is recorded, invalidate_caches() reads it 0
    times; after os.replace with a new archive it is re-read and its new
    module imports."""
    archive = str(tmp_path / "mods.zip")
    _zip(archive, {"m1": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("m1").X == 1
        importlib.invalidate_caches()  # the first call records the stamp
        reads = _counting_reads(monkeypatch)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []
        _zip(archive + ".new", {"m1": "X = 1\n", "m2": "Y = 2\n"})
        os.replace(archive + ".new", archive)
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("m2").Y == 2
    finally:
        for name in ("m1", "m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_workers_skip_zip_rereads(spark):
    """After an extraction, every Python worker of an 8-partition probe has
    the skip installed, holds zip importers (pyspark.zip) and re-reads none
    of them in a second invalidate_caches()."""
    docs = spark.createDataFrame(list(make_corpus(64)),
                                 schema=schemas.DOCUMENTS_INTERLEAVED)
    extract_spans_df(docs.repartition(16)).write.format("noop") \
        .mode("overwrite").save()

    def probe(batches):
        for _ in batches:
            pass
        importlib.invalidate_caches()
        read = zipimport._read_directory
        reads = []
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "installed": [hasattr(zipimport.zipimporter.invalidate_caches,
                                  "zip_reads")],
            "zip_importers": [sum(isinstance(f, zipimport.zipimporter)
                                  for f in sys.path_importer_cache.values())],
            "reads": [len(reads)],
        })

    rows = spark.range(0, 8, 1, 8).mapInArrow(
        probe, "pid long, installed boolean, zip_importers long, reads long"
    ).collect()
    assert len(rows) == 8
    assert all(r.installed for r in rows), rows
    assert all(r.zip_importers > 0 for r in rows), rows
    assert all(r.reads == 0 for r in rows), rows
