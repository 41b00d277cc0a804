"""osmquadtree_spark/pyworker.py: a reused Python worker stops re-reading
unchanged zip archives before each task and stops re-scanning the heap it
held when the package was imported after each task."""

import gc
import importlib
import os
import sys
import zipfile
import zipimport

import pytest

lazy_zip_invalidation = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="Python 3.12 invalidates zipimporter caches lazily; the zip shim is not installed",
)


class _CountReads:
    """Counts ``zipimport._read_directory`` calls while entered."""

    def __enter__(self):
        self.n = 0
        self._orig = zipimport._read_directory

        def counting(archive):
            self.n += 1
            return self._orig(archive)

        zipimport._read_directory = counting
        return self

    def __exit__(self, *exc):
        zipimport._read_directory = self._orig


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)
    os.replace(tmp, path)


@lazy_zip_invalidation
def test_changed_zip_is_reread_unchanged_zip_is_not(tmp_path):
    import osmquadtree_spark  # noqa: F401  (installs the shim)

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_mod_a": "VALUE = 1\n"})
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zc_mod_a").VALUE == 1
        _write_zip(archive, {"zc_mod_a": "VALUE = 1\n", "zc_mod_b": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("zc_mod_b").VALUE == 2
        with _CountReads() as reads:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        assert reads.n == 0
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        for m in ("zc_mod_a", "zc_mod_b"):
            sys.modules.pop(m, None)


def _per_task(spark, fn, schema):
    rows = spark.range(0, 64, 1, numPartitions=16).mapInPandas(fn, schema).collect()
    assert len(rows) == 16
    return rows


@lazy_zip_invalidation
def test_reused_worker_stops_rereading_zips(spark):
    """Per task: (worker pid, zip directory reads the worker has made since
    the counter was installed in it).  A reused worker makes none after
    its first task; without the shim each task's set-up re-reads every
    zip on the worker's path (pyspark.zip and py4j's)."""

    def reads_per_task(batches):
        import os
        import zipimport

        import osmquadtree_spark  # noqa: F401  (what a program UDF imports)
        import pandas as pd

        if not hasattr(zipimport, "_pyworker_test_reads"):
            orig = zipimport._read_directory
            zipimport._pyworker_test_reads = 0

            def counting(archive):
                zipimport._pyworker_test_reads += 1
                return orig(archive)

            zipimport._read_directory = counting
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "reads": [zipimport._pyworker_test_reads]})

    by_pid: dict[int, list[int]] = {}
    for r in _per_task(spark, reads_per_task, "pid long, reads long"):
        by_pid.setdefault(r["pid"], []).append(r["reads"])
    assert max(len(v) for v in by_pid.values()) >= 2, "no worker ran two tasks"
    # every task a worker ran reports the count of its first one
    assert {pid: sorted(set(v)) for pid, v in by_pid.items()} == {
        pid: [min(v)] for pid, v in by_pid.items()
    }


def test_worker_heap_is_frozen_driver_heap_is_not(spark):
    import osmquadtree_spark  # noqa: F401

    assert gc.get_freeze_count() == 0

    def frozen(batches):
        import gc

        import osmquadtree_spark  # noqa: F401
        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"frozen": [gc.get_freeze_count()]})

    assert all(r["frozen"] > 0 for r in _per_task(spark, frozen, "frozen long"))
