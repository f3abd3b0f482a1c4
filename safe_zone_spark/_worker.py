"""Python-worker set-up that runs once per worker process.

Spark starts every Python task with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython that makes each
cached ``zipimport.zipimporter`` re-read its archive's whole central
directory: one finder per package imported from a zip, so a worker holding
pyspark.zip, py4j's zip and the spark-core jar re-reads thousands of entries
per task, over a second of CPU per pass summed over a job's tasks. Spark's
jar and zips do not change while a worker lives (``addPyFile`` ships a path
only once; later additions of it are ignored), so a worker can keep the
directories it has read.

After every task pyspark's daemon runs ``gc.collect()`` in the worker (with
worker reuse on). A full collection walks every tracked object: with pandas
and pyarrow imported that is ~73k objects and ~25 ms of CPU per task on a
4-core x86 VM, nearly all of it import-time state that lives as long as the
worker. Collecting once and then freezing it (``gc.freeze()``) takes that
state out of the collector's reach, so the per-task collections walk only
what later tasks allocate.

:func:`seal_in_spark_task` is called from the package ``__init__``, so it
runs when a task first unpickles a function that references the package. On
the driver, and in any process where no Spark task is running, it does
nothing.
"""

from __future__ import annotations

import gc
import sys
import zipimport


class SealedZipImporter(zipimport.zipimporter):
    """A zipimporter that keeps the archive directory it already holds:
    ``invalidate_caches()`` does not re-read it."""

    def invalidate_caches(self):
        pass


def seal_archive_finders() -> None:
    """Turn the plain zipimporters in ``sys.path_importer_cache`` into
    :class:`SealedZipImporter` and put it in place of the zipimporter path
    hook, so later ``importlib.invalidate_caches()`` calls leave zip
    directories alone and finders created afterwards (new packages, new
    zips) are sealed too."""
    for finder in sys.path_importer_cache.values():
        if type(finder) is zipimport.zipimporter:
            finder.__class__ = SealedZipImporter
    sys.path_hooks[:] = [
        SealedZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]


def freeze_import_heap() -> None:
    """Load pandas and pyarrow (every crossing of this package needs them),
    collect once, and freeze what survives, so later collections skip it."""
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    gc.collect()
    gc.freeze()


def seal_in_spark_task() -> None:
    """Seal the archive finders and freeze the import heap when called
    inside a Spark Python task."""
    # a worker imports pyspark.taskcontext before any task; the driver may
    # not have it loaded, and importing the package must not load pyspark
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is not None and taskcontext.TaskContext.get() is not None:
        seal_archive_finders()
        freeze_import_heap()
