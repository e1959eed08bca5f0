"""The executor Python-worker daemon (``mura_spark/worker_daemon.py``):
stamped zip importers re-read an archive only when it changed, and
``get_spark`` sessions run their Python tasks under that daemon."""

import importlib
import sys
import zipfile
import zipimport

from mura_spark.worker_daemon import StampedZipImporter


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


def test_stamped_importer_rereads_only_a_changed_archive(tmp_path):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wd_one": "X = 1\n"})
    saved_path = list(sys.path)
    saved_cache = dict(sys.path_importer_cache)
    try:
        importer = StampedZipImporter(archive)
        sys.path_importer_cache[archive] = importer
        sys.path.insert(0, archive)
        assert importlib.import_module("wd_one").X == 1
        importlib.invalidate_caches()
        files = importer._files
        importlib.invalidate_caches()
        assert importer._files is files  # unchanged archive: not re-read

        _write_zip(archive, {"wd_one": "X = 1\n", "wd_two": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importer._files is not files
        assert importlib.import_module("wd_two").Y == 2
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("wd_one", "wd_two"):
            sys.modules.pop(name, None)


def test_python_tasks_run_under_the_worker_daemon(spark):
    # defined here so that cloudpickle ships it by value
    def probe(batches):
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        main = sys.modules["__main__"]
        zips = [type(f).__name__ for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pylist([{
            "daemon": main.__spec__.name if main.__spec__ else None,
            "zip_classes": sorted(set(zips)), "zips": len(zips)}])

    row = spark.range(1, numPartitions=1).mapInArrow(
        probe, "daemon string, zip_classes array<string>, zips long"
    ).collect()[0]
    assert row.daemon == "mura_spark.worker_daemon"
    assert row.zips > 0  # the worker imports pyspark from pyspark.zip
    assert row.zip_classes == ["StampedZipImporter"]
