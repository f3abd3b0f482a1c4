"""Once-per-worker set-up. Sealed zip finders: ``importlib.invalidate_caches()``
must not re-read an archive's directory, and imports from the archive must
keep working. The import heap is frozen inside a Spark task only."""

import gc
import importlib
import sys
import zipfile
import zipimport

from safe_zone_spark._worker import SealedZipImporter, seal_archive_finders, seal_in_spark_task


def test_sealed_finders_skip_directory_rereads(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("szs_seal_pkg/__init__.py", "")
        z.writestr("szs_seal_pkg/first.py", "VALUE = 1\n")
        z.writestr("szs_seal_pkg/second.py", "VALUE = 2\n")
    # seal copies of the process-wide import state, restored after the test
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.syspath_prepend(str(archive))
    for name in ("szs_seal_pkg", "szs_seal_pkg.first", "szs_seal_pkg.second"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    assert importlib.import_module("szs_seal_pkg.first").VALUE == 1
    zip_keys = [k for k, f in sys.path_importer_cache.items()
                if type(f) is zipimport.zipimporter and k.startswith(str(archive))]
    assert zip_keys  # the archive and its package each got a plain finder

    # sealing retypes finders in place: have monkeypatch restore every
    # plain zipimporter of this process, not only the ones in the archive
    for finder in sys.path_importer_cache.values():
        if type(finder) is zipimport.zipimporter:
            monkeypatch.setattr(finder, "__class__", zipimport.zipimporter)

    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    assert len(reads) >= len(zip_keys)  # unsealed: one re-read per finder

    seal_archive_finders()
    assert all(type(sys.path_importer_cache[k]) is SealedZipImporter for k in zip_keys)
    assert zipimport.zipimporter not in sys.path_hooks
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    assert importlib.import_module("szs_seal_pkg.second").VALUE == 2


def test_seal_is_a_no_op_outside_a_spark_task(monkeypatch):
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    before = list(sys.path_hooks)
    seal_in_spark_task()
    assert sys.path_hooks == before


def test_import_heap_is_frozen_in_a_task_and_not_on_the_driver(spark):
    """The package import inside a task freezes the heap, so the daemon's
    per-task ``gc.collect()`` skips it; the driver's heap is left alone."""

    def freeze_count(_):
        import safe_zone_spark  # noqa: F401  (a worker's first import freezes)

        yield gc.get_freeze_count()

    counts = spark.sparkContext.parallelize(range(2), 2).mapPartitions(freeze_count).collect()
    assert len(counts) == 2 and min(counts) > 0
    assert gc.get_freeze_count() == 0
