"""The Python-worker daemon's zip-cache patch (``pyworker``): an unchanged
archive is not re-read on ``importlib.invalidate_caches()``, a changed or
missing one is handled exactly as by ``zipimport`` itself, and Spark's
workers run with the patch."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from openedx_event_sink_clickhouse_spark import pyworker

PYWORKER = "openedx_event_sink_clickhouse_spark.pyworker"
MODULES = ("zmod_a", "zmod_b", "zpkg", "zpkg.sub")

# the tests read zipimporter internals that CPython 3.13 replaced
needs_patch = pytest.mark.skipif(sys.version_info >= (3, 13),
                                 reason="CPython 3.13+ re-reads zips lazily; no patch")


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in files.items():
            zf.writestr(name, source)


FILES = {"zmod_a.py": "VALUE = 'a'\n", "zpkg/__init__.py": "",
         "zpkg/sub.py": "VALUE = 'sub'\n"}


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip on ``sys.path`` whose ``zmod_a`` and ``zpkg.sub`` are imported
    (so two ``zipimporter``s for it are cached, one with a ``zpkg/``
    prefix), with the patch installed and a list of the original method's
    calls for this archive."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, FILES)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pyworker._invalidate_caches)
    calls = []
    original = pyworker._original_invalidate_caches

    def counting(self):
        if self.archive == archive:
            calls.append(self.prefix)
        return original(self)

    monkeypatch.setattr(pyworker, "_original_invalidate_caches", counting)
    monkeypatch.syspath_prepend(archive)
    for name in MODULES:
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.import_module("zmod_a")
    importlib.import_module("zpkg.sub")
    importers = [v for v in sys.path_importer_cache.values()
                 if isinstance(v, zipimport.zipimporter) and v.archive == archive]
    assert sorted(i.prefix for i in importers) == ["", "zpkg/"]
    calls.clear()
    yield archive, importers, calls
    for name in MODULES:
        sys.modules.pop(name, None)
    for key in [k for k, v in sys.path_importer_cache.items()
                if getattr(v, "archive", None) == archive]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)
    pyworker._last_read.pop(archive, None)


@needs_patch
def test_unchanged_archive_is_read_once(zip_on_path):
    archive, importers, calls = zip_on_path
    for _ in range(3):
        importlib.invalidate_caches()
    # one read records the signature; every later call by either importer
    # finds the archive unchanged
    assert len(calls) == 1
    files = zipimport._zip_directory_cache[archive]
    assert all(i._files is files for i in importers)
    assert "zpkg/sub.py" in files


@needs_patch
def test_rewritten_archive_is_reread(zip_on_path):
    archive, importers, calls = zip_on_path
    importlib.invalidate_caches()
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zmod_b")
    _write_zip(archive, {**FILES, "zmod_b.py": "VALUE = 'b'\n"})
    importlib.invalidate_caches()
    assert len(calls) == 2
    assert importlib.import_module("zmod_b").VALUE == "b"


@needs_patch
def test_deleted_archive_behaves_like_original(zip_on_path, tmp_path):
    archive, (importer, _), calls = zip_on_path
    importlib.invalidate_caches()
    twin = zipimport.zipimporter(archive)
    (tmp_path / "mods.zip").unlink()
    importer.invalidate_caches()
    assert calls[-1] == importer.prefix
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache
    assert archive not in pyworker._last_read
    pyworker._original_invalidate_caches(twin)
    assert twin._files == {}
    assert archive not in zipimport._zip_directory_cache
    # a missing archive is never taken for an unchanged one
    importer.invalidate_caches()
    assert len(calls) == 4


def test_install_patches_below_313(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pyworker._original_invalidate_caches)
    pyworker.install()
    patched = zipimport.zipimporter.invalidate_caches is pyworker._invalidate_caches
    assert patched == (sys.version_info < (3, 13))


@needs_patch
def test_spark_workers_do_not_reread_unchanged_archives(spark):
    def _worker_reads(_):
        """Per worker process: count ``zipimport._read_directory`` calls
        per archive from this worker's first task on, and the tasks it ran.
        Nested so the task pickles it by value; the counting wrapper stays
        in the worker, and it only counts."""
        import collections
        import os
        import zipimport

        state = getattr(zipimport, "_pyworker_test_state", None)
        if state is None:
            counts = collections.Counter()
            read_directory = zipimport._read_directory

            def counting(archive):
                counts[archive] += 1
                return read_directory(archive)

            zipimport._read_directory = counting
            state = zipimport._pyworker_test_state = {"counts": counts, "tasks": 0}
        state["tasks"] += 1
        yield (os.getpid(), state["tasks"], dict(state["counts"]),
               zipimport.zipimporter.invalidate_caches.__module__)

    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == PYWORKER
    latest = {}
    for _ in range(6):
        # range() partitions are generated in the worker and fully consumed,
        # so Spark returns each worker to its pool for the next task
        for pid, tasks, counts, module in sc.parallelize(range(4), 4) \
                .mapPartitions(_worker_reads).collect():
            assert module == PYWORKER
            if tasks > latest.get(pid, (0,))[0]:
                latest[pid] = (tasks, counts)
    # the check needs workers that ran several tasks
    assert max(tasks for tasks, _ in latest.values()) >= 3
    for pid, (tasks, counts) in latest.items():
        assert all(n <= 1 for n in counts.values()), (pid, tasks, counts)
