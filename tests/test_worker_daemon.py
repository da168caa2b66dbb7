"""The Python worker daemon's zip import: an archive's directory is re-read
only when the archive file changed, so a reused worker stops paying the
pyspark.zip directory read on every task.  (a) the wrapper called directly
on a zipimporter over a temp zip; (b) inside a task of a ``get_spark``
session, ``importlib.invalidate_caches()`` leaves every zipimporter's
directory object in place."""

from __future__ import annotations

import importlib.util
import os
import zipfile
import zipimport

from go_pulsar_elasticsearch_spark.daemon import invalidate_caches


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _import(importer: zipimport.zipimporter, name: str):
    spec = importer.find_spec(name)
    assert spec is not None, name
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_unchanged_archive_keeps_directory_changed_one_rereads(tmp_path):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"first": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    invalidate_caches(imp)  # records the archive's state at this read
    files = imp._files
    invalidate_caches(imp)
    assert imp._files is files
    # a second importer over the same archive shares that read
    other = zipimport.zipimporter(archive)
    invalidate_caches(other)
    assert other._files is files

    _write_zip(archive, {"first": "X = 1\n", "added": "Y = 2\n"})
    invalidate_caches(imp)
    assert imp._files is not files
    assert _import(imp, "added").Y == 2
    assert _import(imp, "first").X == 1

    os.remove(archive)  # stat fails: the stdlib method runs, as before
    invalidate_caches(imp)
    assert imp._files == {}


def test_task_invalidate_caches_keeps_zip_directories(spark):
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        zips = {
            path: f
            for path, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)
        }
        before = {path: id(f._files) for path, f in zips.items()}
        importlib.invalidate_caches()
        changed = [path for path, f in zips.items() if id(f._files) != before[path]]
        yield pa.RecordBatch.from_pydict(
            {"n_zip": [len(zips)], "changed": [changed]}
        )

    (row,) = (
        spark.range(1, numPartitions=1)
        .mapInArrow(probe, "n_zip bigint, changed array<string>")
        .collect()
    )
    assert row.n_zip > 0  # the worker imports pyspark from pyspark.zip
    assert row.changed == []
