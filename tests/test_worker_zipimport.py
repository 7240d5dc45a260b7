"""The stat-checked ``zipimporter.invalidate_caches`` guard
(``binlog_spark.worker_zipimport``): an unchanged archive is not re-read,
a changed one is, and a reused PySpark worker re-reads nothing before a
task."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from binlog_spark import worker_zipimport

pytestmark = pytest.mark.skipif(
    not (3, 10) <= sys.version_info[:2] <= (3, 11),
    reason="the guard acts on Python 3.10-3.11 only")


def _count_reads(monkeypatch):
    reads = []
    inner = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return inner(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def test_unchanged_archive_is_not_reread_changed_one_is(tmp_path,
                                                        monkeypatch):
    assert worker_zipimport.installed()
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipguard_mod_a.py", "VALUE = 'a'\n")
    monkeypatch.syspath_prepend(archive)
    for name in ("zipguard_mod_a", "zipguard_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zipguard_mod_a").VALUE == "a"

    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads

    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("zipguard_mod_b.py", "VALUE = 'b'\n")
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zipguard_mod_b").VALUE == "b"


def _probe(batches):
    import importlib
    import os
    import sys
    import zipimport

    import pyarrow as pa

    from binlog_spark import worker_zipimport

    reads = []
    inner = zipimport._read_directory
    zipimport._read_directory = lambda a: (reads.append(a), inner(a))[1]
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = inner
    n_zip = sum(isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values())
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({
        "pid": [os.getpid()], "installed": [worker_zipimport.installed()],
        "zipimporters": [n_zip], "reads": [len(reads)]})


def test_reused_worker_rereads_no_archive(spark):
    """The first run imports ``binlog_spark`` (so installs the guard) in
    every worker; on the second run the same workers' task-start
    ``invalidate_caches`` has read each archive through the guard, and the
    task's own call reads none."""
    df = spark.range(0, 400, numPartitions=4)
    schema = "pid long, installed boolean, zipimporters long, reads long"
    df.mapInArrow(_probe, schema).collect()
    rows = df.mapInArrow(_probe, schema).collect()
    assert len(rows) == 4
    for r in rows:
        assert r["installed"] and r["zipimporters"] > 0, r
        assert r["reads"] == 0, r
