"""Zip archives on ``sys.path`` are re-read only when they change.

``importlib.invalidate_caches()`` runs at the start of every PySpark
Python task; on CPython 3.11 it re-reads the directory of every zip
archive on ``sys.path`` unless ``tsaug_spark`` has stamped the reads
(``session.skip_unchanged_zip_rereads``).
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

import tsaug_spark  # noqa: F401  (installs the stamped re-reads)
from tsaug_spark.session import get_spark

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ re-reads zip directories lazily itself",
)


def _write_zip(path, modules) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for m in modules:
            z.writestr(f"{m}.py", f"NAME = {m!r}\n")


def _count_reads(monkeypatch) -> list:
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_invalidate_caches_rereads_only_a_changed_archive(
    tmp_path, monkeypatch
):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["zipreads_m1"])
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zipreads_m1").NAME == "zipreads_m1"
        calls = _count_reads(monkeypatch)

        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert str(archive) not in calls

        _write_zip(archive, ["zipreads_m1", "zipreads_m2"])
        importlib.invalidate_caches()
        assert calls.count(str(archive)) == 1
        assert importlib.import_module("zipreads_m2").NAME == "zipreads_m2"
        importlib.invalidate_caches()
        assert calls.count(str(archive)) == 1
    finally:
        for m in ("zipreads_m1", "zipreads_m2"):
            sys.modules.pop(m, None)


def test_worker_tasks_reread_no_unchanged_archive(spark):
    # nested, so cloudpickle ships it by value
    def _probe(batches, _kernel=get_spark):
        """Runs in a Python worker: unpickling it (``_kernel``)
        imports ``tsaug_spark``.  Puts a fresh zip on ``sys.path``,
        imports from it so a zipimporter exists, and counts directory
        reads across one ``importlib.invalidate_caches()``."""
        import os
        import shutil
        import tempfile
        import uuid

        for _ in batches:
            pass
        d = tempfile.mkdtemp()
        path = os.path.join(d, "probe.zip")
        name = f"zipreads_{uuid.uuid4().hex}"
        with zipfile.ZipFile(path, "w") as z:
            z.writestr(f"{name}.py", "X = 1\n")
        sys.path.insert(0, path)
        calls = []
        read = zipimport._read_directory
        try:
            importlib.import_module(name)
            zipimport._read_directory = lambda a: calls.append(a) or read(a)
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = read
            zips = sum(
                isinstance(i, zipimport.zipimporter)
                for i in sys.path_importer_cache.values()
            )
        finally:
            sys.path.remove(path)
            sys.path_importer_cache.pop(path, None)
            sys.modules.pop(name, None)
            shutil.rmtree(d)
        yield pa.RecordBatch.from_pydict(
            {"reads": [len(calls)], "zips": [zips]}
        )

    for _ in range(2):  # the second job runs in reused workers
        rows = (
            spark.range(4, numPartitions=4)
            .mapInArrow(_probe, "reads long, zips long")
            .collect()
        )
        assert len(rows) == 4
        assert all(r["zips"] >= 1 for r in rows)
        assert [r["reads"] for r in rows] == [0, 0, 0, 0]
