"""Python workers keep an unchanged zip archive's directory across
`importlib.invalidate_caches()` (`geoproc_spark/_worker.py`): PySpark calls
it at the start of every task, and on CPython < 3.13 each zipimporter
re-reads its whole archive there."""

import importlib
import sys
import zipfile
import zipimport

import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 zipimport re-reads lazily; nothing is installed",
)


def _write_zip(path, *modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_zip_keeps_directory_and_rewritten_zip_rereads(tmp_path):
    from geoproc_spark import _worker

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "gp_zip_first")
    original = zipimport.zipimporter.invalidate_caches
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("gp_zip_first").NAME == "gp_zip_first"
        _worker.install()
        wrapper = zipimport.zipimporter.invalidate_caches
        assert wrapper is not original
        _worker.install()  # idempotent: no wrapper around the wrapper
        assert zipimport.zipimporter.invalidate_caches is wrapper

        files = zipimport._zip_directory_cache[archive]
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[archive] is files

        _write_zip(archive, "gp_zip_first", "gp_zip_second")
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[archive] is not files
        assert importlib.import_module("gp_zip_second").NAME == "gp_zip_second"
    finally:
        zipimport.zipimporter.invalidate_caches = original
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("gp_zip_first", "gp_zip_second"):
            sys.modules.pop(name, None)


def test_worker_tasks_keep_the_pyspark_zip_directory(spark):
    """Every task of a library UDF finds the wrapper installed, and a task's
    `importlib.invalidate_caches()` leaves pyspark.zip's directory object
    in place (at the parent each call replaced it with a fresh read)."""

    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        import geoproc_spark  # noqa: F401  (what every library UDF imports)

        cache = zipimport._zip_directory_cache
        before = {a: d for a, d in cache.items() if a.endswith("pyspark.zip")}
        importlib.invalidate_caches()
        kept = all(cache.get(a) is d for a, d in before.items())
        wrapped = zipimport.zipimporter.invalidate_caches.__module__ == "geoproc_spark._worker"
        for pdf in batches:
            n = len(pdf)
            yield pd.DataFrame({"zips": [len(before)] * n, "kept": [kept] * n, "wrapped": [wrapped] * n})

    rows = (
        spark.range(0, 8, 1, numPartitions=8)
        .mapInPandas(probe, "zips int, kept boolean, wrapped boolean")
        .collect()
    )
    assert len(rows) == 8
    if not any(r.zips for r in rows):
        pytest.skip("the Python workers do not import pyspark from pyspark.zip")
    assert all(r.zips and r.kept and r.wrapped for r in rows), rows


def test_driver_process_stays_unpatched(spark):
    """The package's install guard holds on the driver, with a live session:
    importing it again leaves the pytest process's zipimport as it is."""
    from pyspark import TaskContext

    import geoproc_spark
    from geoproc_spark import _worker

    assert TaskContext.get() is None
    importlib.reload(geoproc_spark)
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    assert _worker.install.__module__ == "geoproc_spark._worker"
