"""The zip-directory cache guard (streamchange_spark/_pyworker.py): an
unchanged archive is not re-read by ``importlib.invalidate_caches()``, a
rewritten one is, and Spark workers running engine code carry the guard."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import streamchange_spark
from streamchange_spark import _pyworker

needs_guard = pytest.mark.skipif(
    not _pyworker.install(),
    reason="no per-call zip re-read to guard (Python < 3.10 or >= 3.12)",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "guarded.zip")
    _write_zip(archive, {"pyworker_zmod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in ("pyworker_zmod_a", "pyworker_zmod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def _count_reads(monkeypatch):
    reads = []
    original = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@needs_guard
def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(zip_on_path, monkeypatch):
    import pyworker_zmod_a

    assert pyworker_zmod_a.X == 1
    importlib.invalidate_caches()  # first call after install reads each archive
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads == []

    # a rewrite changes (st_mtime_ns, st_size): re-read, new module imports
    _write_zip(
        zip_on_path,
        {"pyworker_zmod_a": "X = 1\n", "pyworker_zmod_b": "Y = 2\n"},
    )
    importlib.invalidate_caches()
    assert reads == [zip_on_path]
    import pyworker_zmod_b

    assert pyworker_zmod_b.Y == 2

    # a same-size rewrite is caught by its mtime alone
    _write_zip(
        zip_on_path,
        {"pyworker_zmod_a": "X = 1\n", "pyworker_zmod_b": "Y = 3\n"},
    )
    st = os.stat(zip_on_path)
    os.utime(zip_on_path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    importlib.invalidate_caches()
    assert reads == [zip_on_path] * 2


@needs_guard
def test_missing_archive_falls_back_and_install_is_idempotent(zip_on_path):
    import pyworker_zmod_a  # noqa: F401

    guarded = zipimport.zipimporter.invalidate_caches
    assert _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is guarded
    os.remove(zip_on_path)
    importlib.invalidate_caches()  # the stock method: directory dropped
    assert zip_on_path not in zipimport._zip_directory_cache
    assert sys.path_importer_cache[zip_on_path]._files == {}


def _worker_zip_probe(batches):
    """In a Spark worker: zip-directory reads of a repeated
    invalidate_caches() under the guard, and what the stock method reads."""
    assert streamchange_spark.__version__  # an engine global, as in UDFs
    importers = [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter)
    ]
    reads = [0]
    original = zipimport._read_directory

    def counting(archive):
        reads[0] += 1
        return original(archive)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
        reads[0] = 0
        importlib.invalidate_caches()
        guarded = reads[0]
        reads[0] = 0
        original_method = getattr(
            zipimport.zipimporter.invalidate_caches, "__wrapped__", None
        )
        for f in importers:
            (original_method or zipimport.zipimporter.invalidate_caches)(f)
        unguarded = reads[0]
    finally:
        zipimport._read_directory = original
    for _ in batches:
        pass
    yield pd.DataFrame({
        "importers": [len(importers)],
        "guarded": [guarded],
        "stock": [unguarded],
        "installed": [original_method is not None],
    })


@needs_guard
def test_spark_worker_does_not_reread_pyspark_zip(spark):
    row = (
        spark.range(0, 1, numPartitions=1)
        .mapInPandas(
            _worker_zip_probe,
            "importers long, guarded long, stock long, installed boolean",
        )
        .collect()[0]
    )
    if row["importers"] == 0:
        pytest.skip("workers import pyspark without a zipimporter")
    assert row["installed"]
    # without the guard every zipimporter re-reads its archive per call
    assert row["stock"] == row["importers"]
    assert row["guarded"] == 0


def test_shingle_stage_imports_the_engine_in_the_worker(spark, monkeypatch):
    """Unpickling ``shingle_rows_local``'s stage function in a fresh
    interpreter (what a new Python worker does) imports the engine package,
    so the guard is installed there before the stage's first task."""
    import subprocess

    from pyspark import cloudpickle

    from streamchange_spark.operators.dedup import shingle_rows_local

    docs = spark.createDataFrame([(1, "a b c d")], "id long, text string")
    stages = []
    monkeypatch.setattr(
        type(docs), "mapInPandas", lambda self, fn, schema: stages.append(fn) or self
    )
    shingle_rows_local(docs, "id", "text")
    probe = (
        "import pickle, sys\n"
        "pickle.loads(sys.stdin.buffer.read())\n"
        "print('streamchange_spark._pyworker' in sys.modules)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], input=cloudpickle.dumps(stages[0]),
        capture_output=True, check=True, env=os.environ,
    )
    assert out.stdout.decode().strip() == "True"
