"""Shared load-don't-train plumbing for the embedded model tables.

Four modules persist deterministic, code-derived models next to the
package (langid NB centroids, the quality-NB discriminator, the byte-
trigram LM pair, the BPE merge ranks) so worker imports LOAD a small
parquet instead of retraining (VERDICT r3 #3). The mechanics are
identical everywhere and live here ONCE:

- ``read_model_table``: importlib.resources read (works whether the
  package is a filesystem dir or a spark-submit --py-files zip) + a
  ``train_key`` schema-metadata gate, so a table whose training code has
  since changed is rejected and retrained rather than silently reused.
- ``persist_model_files``: write-to-tmp then ``os.replace`` per file —
  concurrent importing workers must never read a half-written parquet.
  Best-effort: read-only/zip installs just retrain per process.
- ``model_table_path``: the on-disk path of a persisted table for the
  DuckDB referee, which must score the same model the engine loaded.
"""

from __future__ import annotations

import os

_MODELS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "models")


def read_model_table(model_file: str, expected_train_key: str):
    """models/<model_file> as a pyarrow Table, or None when the file is
    absent, unreadable, or carries a different ``train_key``."""
    try:
        from importlib import resources

        import pyarrow as pa
        import pyarrow.parquet as pq

        data = (
            resources.files("safe_zone_spark")
            .joinpath("models", model_file)
            .read_bytes()
        )
        t = pq.read_table(pa.BufferReader(data))
        meta = t.schema.metadata or {}
        if meta.get(b"train_key", b"").decode() != expected_train_key:
            return None
        return t
    except Exception:
        return None


def model_table_path(model_file: str, expected_train_key: str) -> str:
    """Absolute path of models/<model_file>, checked to hold the model the
    importing module loaded or trained. Raises ``FileNotFoundError`` when the
    table is absent (e.g. the best-effort persist failed) and ``ValueError``
    when its ``train_key`` differs — a SQL twin must never score a
    different model than the engine."""
    import pyarrow.parquet as pq

    path = os.path.abspath(os.path.join(_MODELS_DIR, model_file))
    if not os.path.exists(path):
        raise FileNotFoundError(f"model table {path} is missing")
    meta = pq.read_schema(path).metadata or {}
    found = meta.get(b"train_key", b"").decode()
    if found != expected_train_key:
        raise ValueError(
            f"model table {path} has train_key {found!r}, "
            f"the loaded model has {expected_train_key!r}"
        )
    return path


def persist_model_files(files: "list[str]", write_fn) -> None:
    """Atomically publish model table(s) next to the package:
    ``write_fn(*tmp_paths)`` writes every file, then each tmp is renamed
    over its target. Any failure (read-only install, zip) is swallowed —
    the caller keeps its in-memory model and the next process retrains."""
    tmps: list[str] = []
    try:
        os.makedirs(_MODELS_DIR, exist_ok=True)  # gitignored — absent on fresh clones
        pid = os.getpid()
        tmps = [os.path.join(_MODELS_DIR, f".{f}.{pid}.tmp") for f in files]
        write_fn(*tmps)
        for tmp, f in zip(tmps, files):
            os.replace(tmp, os.path.join(_MODELS_DIR, f))
    except Exception:
        pass
    finally:
        # a partial write_fn failure must not strand .<file>.<pid>.tmp
        # orphans (one per pid) in the package models/ dir
        for tmp in tmps:
            try:
                os.remove(tmp)
            except OSError:
                pass
