"""Importing blink_spark makes ``zipimporter.invalidate_caches`` lazy.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task; before CPython 3.13 each zipimporter then re-parses its whole
archive directory. The package makes that re-read happen only when the
archive changed. These tests pin the semantics in-process and in a reused
Spark Python worker.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

import blink_spark  # noqa: F401  (installs the lazy invalidation)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 zipimport is lazy itself"
)


def _write_zip(path: str, text: str) -> None:
    # a fresh file swapped in, as a rebuilt --py-files archive would be
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr("zmod.py", text)
    os.replace(tmp, path)


@pytest.fixture
def counted_reads(monkeypatch):
    n = [0]
    real = zipimport._read_directory

    def counting(archive):
        n[0] += 1
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return n


def test_invalidate_rereads_only_a_changed_archive(tmp_path, counted_reads):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, "VALUE = 1\n")
    saved_path = list(sys.path)
    saved_importers = dict(sys.path_importer_cache)
    sys.path.insert(0, path)
    try:
        import zmod

        assert zmod.VALUE == 1
        importlib.invalidate_caches()  # takes the archive's first stamp
        counted_reads[0] = 0
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert counted_reads[0] == 0

        _write_zip(path, "VALUE = 'two'\n")
        importlib.invalidate_caches()
        assert counted_reads[0] == 1
        del sys.modules["zmod"]
        import zmod

        assert zmod.VALUE == "two"
        assert counted_reads[0] == 1
    finally:
        sys.path[:] = saved_path
        sys.modules.pop("zmod", None)
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_importers)
        zipimport._zip_directory_cache.pop(path, None)


def test_reused_worker_skips_the_reread(spark, fixture_paths):
    """A worker that ran a blink_spark UDF re-reads no archive on later
    tasks: the reads are counted inside the Python worker process."""
    from blink_spark.operators.scoring import prepare_records

    m = spark.read.parquet(fixture_paths["mentions"]).repartition(2)
    prep = prepare_records(m, "mention_id", "mention", with_emb=True)
    assert prep.select("emb_n").collect()

    def reads(batches):
        import importlib
        import sys
        import zipimport

        ran_blink_task = "blink_spark" in sys.modules
        n = [0]
        real = zipimport._read_directory

        def counting(archive):
            n[0] += 1
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist(
            [{"ran_blink_task": ran_blink_task, "reads": n[0]}]
        )

    rows = m.mapInArrow(reads, "ran_blink_task boolean, reads long").collect()
    reused = [r.reads for r in rows if r.ran_blink_task]
    assert reused and reused == [0] * len(reused), rows
