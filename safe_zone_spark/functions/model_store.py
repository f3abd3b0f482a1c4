"""The one mechanism that loads, retrains and publishes the embedded model
tables.

Four modules carry deterministic, code-derived models next to the package
(langid NB centroids, the perplexity trigram LM pair, the BPE merge ranks,
the quality NB with its calibrated gate), so a worker import LOADS a small
parquet instead of retraining. Each module declares one :class:`ModelSpec`
(its files, the sources its train key hashes, how to train it, model →
tables and tables → model) and keeps only that format and that training.

- :func:`load_or_train`: reads every file of the spec through
  importlib.resources (a filesystem package and a spark-submit
  ``--py-files`` zip alike), checks its ``train_key`` schema metadata and
  decodes the tables. Any failure (absent, stale key, unreadable or
  undecodable) trains the model, publishes its tables atomically (tmp
  file, then ``os.replace``: concurrent workers never read a half-written
  parquet) and logs ONE warning naming the file and the reason, and a
  failed publish (a zip, a read-only install) in the same line. No path
  raises at import.
- :func:`model_table_path`: the paths of a spec's tables for the DuckDB
  twins, which must score the model the engine loaded.
- :func:`write_tables`: the one parquet writer; the modules' public
  ``write_*_parquet`` writers (the model swap path) go through it.

Nothing else reads or writes ``models/`` (``tests/test_model_store.py``).
"""

from __future__ import annotations

import hashlib
import inspect
import logging
import os
from dataclasses import dataclass
from functools import cached_property
from importlib import import_module, resources
from typing import Any, Callable

_log = logging.getLogger(__name__)
# a pathlib.Path for a filesystem package, a zipfile.Path inside a zip
_MODELS_DIR = resources.files("safe_zone_spark").joinpath("models")


@dataclass(frozen=True)
class ModelSpec:
    files: tuple[str, ...]
    # the train key is md5 of langid_data's source, then each of these
    # functions' source, then key_extra (the training constants)
    key_sources: tuple[Callable, ...]
    key_extra: bytes
    train: Callable[[], Any]
    encode: Callable[[Any], list]  # model → one pyarrow Table per file
    decode: Callable[[list], Any]  # tables in file order → model; raises if bad

    @cached_property
    def train_key(self) -> str:
        from . import langid_data

        h = hashlib.md5(inspect.getsource(langid_data).encode())
        for fn in self.key_sources:
            h.update(inspect.getsource(fn).encode())
        h.update(self.key_extra)
        return h.hexdigest()


def all_specs() -> "list[ModelSpec]":
    """Every embedded model's spec; importing its module loads the model."""
    return [import_module(f"{__package__}.{m}").SPEC
            for m in ("bpe", "langid", "perplexity", "quality_model")]


class _StaleKey(ValueError):
    pass


def _read(file: str, train_key: str):
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(pa.BufferReader(_MODELS_DIR.joinpath(file).read_bytes()))
    found = (t.schema.metadata or {}).get(b"train_key", b"").decode()
    if found != train_key:
        raise _StaleKey(f"stale train_key {found!r}")
    return t


def load_or_train(spec: ModelSpec):
    """The spec's model from its persisted tables, or freshly trained and
    published when they cannot be used (see the module docstring)."""
    tables: list = []
    try:
        for f in spec.files:
            tables.append(_read(f, spec.train_key))
        return spec.decode(tables)
    except FileNotFoundError:
        why = "absent"
    except _StaleKey as exc:
        why = str(exc)
    except Exception as exc:  # any bad table retrains, loudly
        why = f"unreadable ({type(exc).__name__}: {exc})"
    # a failed read names its file; a failed decode, all of them
    failing = (spec.files[len(tables)] if len(tables) < len(spec.files)
               else ", ".join(spec.files))
    model = spec.train()
    try:
        _publish(spec, model)
        published = "published"
    except Exception as exc:  # the model still serves this process
        published = f"NOT published ({type(exc).__name__}: {exc})"
    _log.warning("model table %s: %s; retrained under train_key %s, %s",
                 failing, why, spec.train_key, published)
    return model


def _publish(spec: ModelSpec, model) -> None:
    directory = os.fspath(_MODELS_DIR)  # TypeError inside a zip
    os.makedirs(directory, exist_ok=True)  # gitignored: absent on a fresh clone
    tmps = [os.path.join(directory, f".{f}.{os.getpid()}.tmp") for f in spec.files]
    try:
        write_tables(spec.encode(model), tmps, spec.train_key)
        for tmp, f in zip(tmps, spec.files):
            os.replace(tmp, os.path.join(directory, f))
    finally:
        for tmp in tmps:  # a failed write must not strand tmp orphans
            if os.path.exists(tmp):
                os.remove(tmp)


def write_tables(tables: list, paths: "list[str]", train_key: str | None = None) -> None:
    """Write each table to its path, stamped with ``train_key`` (when
    given) in its schema metadata."""
    import pyarrow.parquet as pq

    for t, path in zip(tables, paths, strict=True):
        if train_key is not None:
            t = t.replace_schema_metadata(
                {**(t.schema.metadata or {}), b"train_key": train_key.encode()})
        pq.write_table(t, path)


def model_table_path(spec: ModelSpec) -> "tuple[str, ...]":
    """Absolute paths of the spec's tables, in file order, checked to hold
    the model its module loaded or trained. Raises ``FileNotFoundError``
    when a table is absent (e.g. its publish failed) and ``ValueError``
    when its ``train_key`` differs: a SQL twin must never score a
    different model than the engine."""
    for f in spec.files:
        _read(f, spec.train_key)
    return tuple(os.path.realpath(os.fspath(_MODELS_DIR.joinpath(f))) for f in spec.files)
