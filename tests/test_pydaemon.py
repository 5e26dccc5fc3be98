"""The engine's Python worker daemon: a stat-checked zipimporter cache
invalidation, and every Python task of a get_spark session running
under it."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from simplemapreduceframework_spark import _pydaemon

DAEMON = "simplemapreduceframework_spark._pydaemon"


def _write_archive(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_stat_checked_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_archive(archive, {"smrf_zip_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("smrf_zip_a", "smrf_zip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("smrf_zip_a").X == 1
    importer = sys.path_importer_cache[str(archive)]

    # The stock invalidation re-reads an unchanged archive every call.
    files = importer._files
    importlib.invalidate_caches()
    assert importer._files is not files

    monkeypatch.setattr(_pydaemon, "_read", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _pydaemon._stat_checked_invalidate
    )
    importlib.invalidate_caches()  # first call reads and records the stamp
    files = importer._files
    importlib.invalidate_caches()
    assert importer._files is files  # unchanged: not re-read

    _write_archive(archive, {"smrf_zip_a": "X = 1\n", "smrf_zip_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importer._files is not files
    assert importlib.import_module("smrf_zip_b").Y == 2


def test_python_tasks_run_under_the_engine_daemon(spark):
    """A silent fallback to pyspark's stock daemon would bring back the
    per-task archive re-reads; check from inside a worker."""

    def probe(_):
        import sys
        import zipimport

        invalidate = zipimport.zipimporter.invalidate_caches
        return (
            sys.modules["__main__"].__spec__.name,
            sys.modules[invalidate.__module__].__spec__.name,
        )

    (daemon, invalidate_from), = spark.sparkContext.parallelize([0], 1).map(probe).collect()
    assert daemon == DAEMON
    assert invalidate_from == (DAEMON if sys.version_info < (3, 12) else "zipimport")
