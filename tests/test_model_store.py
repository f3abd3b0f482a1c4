"""The one model-table mechanism (``functions/model_store.py``): every
embedded model loads its persisted tables under a train-key gate, retrains
once, warns and republishes when it cannot, and no other module reads or
writes the ``models/`` directory."""

from __future__ import annotations

import ast
import dataclasses
import logging
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from safe_zone_spark.functions import model_store
from safe_zone_spark.functions.model_store import all_specs, load_or_train

ROOT = Path(__file__).resolve().parents[1]
SPECS = all_specs()
SPEC_IDS = [spec.files[0].removesuffix(".parquet") for spec in SPECS]


def _train_key(path: Path) -> str:
    return (pq.read_schema(path).metadata or {}).get(b"train_key", b"").decode()


def _foreign_key(models: Path, spec) -> str:
    for f in spec.files:
        t = pq.read_table(models / f)
        pq.write_table(t.replace_schema_metadata(
            {**t.schema.metadata, b"train_key": b"foreign"}), models / f)
    return "stale train_key 'foreign'"


def _undecodable(models: Path, spec) -> str:
    """Key-valid, but not the model's columns."""
    t = pa.table({"x": [1]}).replace_schema_metadata({b"train_key": spec.train_key.encode()})
    pq.write_table(t, models / spec.files[0])
    return "unreadable"


def _not_parquet(models: Path, spec) -> str:
    (models / spec.files[-1]).write_bytes(b"PAR1 not a parquet footer")
    return "unreadable"


def _absent(models: Path, spec) -> str:
    (models / spec.files[-1]).unlink()
    return "absent"


@pytest.fixture
def models(tmp_path, monkeypatch) -> Path:
    """A copy of the persisted tables that the mechanism reads and writes."""
    models = tmp_path / "models"
    shutil.copytree(model_store._MODELS_DIR, models)
    monkeypatch.setattr(model_store, "_MODELS_DIR", models)
    return models


@pytest.mark.parametrize("spoil", [_foreign_key, _undecodable, _not_parquet, _absent])
@pytest.mark.parametrize("spec", SPECS, ids=SPEC_IDS)
def test_unusable_table_retrains_once_warns_and_republishes(spec, spoil, models, caplog):
    want = [pq.read_table(models / f) for f in spec.files]
    reason = spoil(models, spec)
    trained = []
    counted = dataclasses.replace(spec, train=lambda: trained.append(1) or spec.train())
    with caplog.at_level(logging.WARNING, logger=model_store.__name__):
        model = load_or_train(counted)
    assert trained == [1]
    [warning] = caplog.records
    assert reason in warning.getMessage() and "published" in warning.getMessage()
    assert any(f in warning.getMessage() for f in spec.files)
    assert all(_train_key(models / f) == spec.train_key for f in spec.files)
    assert all(t.equals(w) for t, w in zip(spec.encode(model), want, strict=True))
    assert not [f for f in os.listdir(models) if f.startswith(".")]  # no tmp orphans

    caplog.clear()  # the republished tables load: no training, no warning
    reloaded = load_or_train(counted)
    assert trained == [1] and not caplog.records
    assert all(t.equals(w) for t, w in zip(spec.encode(reloaded), want, strict=True))


def test_tables_load_from_a_zip_that_cannot_take_a_publish(models, tmp_path, monkeypatch, caplog):
    """A spark-submit zip: its tables load, and a table it lacks retrains
    in memory with a warning that the publish failed, not an error."""
    from safe_zone_spark.functions import langid, perplexity

    archive = tmp_path / "pkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        for f in langid.SPEC.files + perplexity.SPEC.files[:1]:
            z.write(models / f, f"models/{f}")
    zipped = zipfile.Path(zipfile.ZipFile(archive), "models/")
    monkeypatch.setattr(model_store, "_MODELS_DIR", zipped)
    with caplog.at_level(logging.WARNING, logger=model_store.__name__):
        cent, langs = load_or_train(langid.SPEC)
        assert not caplog.records
        lm = load_or_train(perplexity.SPEC)
    assert (cent == langid._CENTROIDS_INT).all() and langs == langid._CENTROID_LANGS
    assert (lm.rows == perplexity._LM.rows).all()
    [warning] = caplog.records
    assert "trigram_ctx_logp.parquet: absent" in warning.getMessage()
    assert "NOT published" in warning.getMessage()


def _code_strings(tree: ast.AST):
    """String constants that are not docstrings."""
    docs = {
        id(node.body[0].value) for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and node.body and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str) and id(node) not in docs:
            yield node


def test_only_model_store_names_the_models_dir():
    """Tables are read and written in one place: no other module of the
    package, the jobs, the scripts or the entry module spells a path into
    ``models/``, and the entry module asks ``model_store`` for the paths."""
    files = [p for d in ("safe_zone_spark", "jobs", "scripts") for p in (ROOT / d).rglob("*.py")]
    offenders = []
    for path in files + list(ROOT.glob("*.py")):
        if path == ROOT / "safe_zone_spark" / "functions" / "model_store.py":
            continue
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        offenders += [
            f"{path.relative_to(ROOT)}:{node.lineno}" for node in _code_strings(tree)
            if "models" in re.split(r"[/\\]", node.value)
        ]
    assert not offenders, "read model tables through model_store: " + ", ".join(offenders)

    entry = ast.parse((ROOT / "__spark_entry__.py").read_text(encoding="utf-8"))
    private = {"_train_key", "_MODEL_FILE", "_TRI_FILE", "_CTX_FILE"}
    named = {getattr(n, "id", None) or getattr(n, "attr", None) for n in ast.walk(entry)}
    assert not private & named


def test_spark_submit_zip_carries_every_model_table(tmp_path):
    out = subprocess.run([sys.executable, str(ROOT / "scripts" / "package.py")],
                         cwd=tmp_path, capture_output=True, text=True, check=True)
    with zipfile.ZipFile(out.stdout.strip()) as z:
        names = set(z.namelist())
    want = {f"safe_zone_spark/models/{f}" for spec in SPECS for f in spec.files}
    assert len(want) == 5 and want <= names
