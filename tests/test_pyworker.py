"""Python workers re-read a zip archive's directory only when it changed."""

import importlib
import sys
import zipfile
import zipimport

from maxx_spark import pyworker


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def _reads_during_invalidate(archive=None):
    """``_read_directory`` calls made by one ``importlib.invalidate_caches()``."""
    real = zipimport._read_directory
    seen = []

    def counting(path):
        seen.append(path)
        return real(path)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    return len([p for p in seen if archive is None or p == archive])


def test_install_is_idempotent():
    wrapped = zipimport.zipimporter.invalidate_caches
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped


def test_unchanged_archive_is_not_reread(tmp_path):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["_pyworker_m1"])
    sys.path.insert(0, archive)
    try:
        import _pyworker_m1

        assert _pyworker_m1.NAME == "_pyworker_m1"
        importlib.invalidate_caches()  # first sight in this process: read and stamped
        assert _reads_during_invalidate(archive) == 0

        _write_zip(archive, ["_pyworker_m1", "_pyworker_m2"])
        assert _reads_during_invalidate(archive) >= 1
        import _pyworker_m2

        assert _pyworker_m2.NAME == "_pyworker_m2"
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        sys.modules.pop("_pyworker_m1", None)
        sys.modules.pop("_pyworker_m2", None)


def test_worker_tasks_do_not_reread_archives(spark):
    def count_reads(batches):
        import importlib
        import zipimport

        import pandas as pd

        import maxx_spark  # noqa: F401  (installs the fix, as any engine UDF does)

        for _ in batches:
            pass
        # a worker spawned for this very task installs the fix only now, so
        # its first call reads each archive once and records its stamp
        importlib.invalidate_caches()
        real = zipimport._read_directory
        reads = []
        zipimport._read_directory = lambda path: reads.append(path) or real(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pd.DataFrame({"reads": [len(reads)]})

    rows = spark.range(8).repartition(4).mapInPandas(count_reads, "reads long").collect()
    assert len(rows) == 4
    assert [r.reads for r in rows] == [0, 0, 0, 0]
