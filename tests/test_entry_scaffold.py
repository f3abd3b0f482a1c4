"""``__spark_entry__`` is a registry: queries, the driver contract and a few
named fixtures. The streaming-twin scaffold it uses (streaming/twins.py)
fails loudly instead of silently picking another path, and leaves no
session state behind."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest

import __spark_entry__ as entry
from safe_zone_spark.streaming import twins

CONTRACT = {"entry", "queries", "variant_queries", "oracle_sql", "variant_oracle_sql"}
FIXTURES = {"_ensure_shipped", "_docs", "_aug", "_pattern_or_sql", "_hits_union_sql"}


def test_entry_module_is_a_registry():
    """Every top-level function is a registered ``q_*`` query, a contract
    function or a named driver fixture — mechanisms live in the package."""
    tree = ast.parse(Path(entry.__file__).read_text(encoding="utf-8"))
    funcs = [n.name for n in tree.body
             if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
    stray = [f for f in funcs
             if not f.startswith("q_") and f not in CONTRACT | FIXTURES]
    assert not stray, f"not queries, contract or fixtures: {stray}"
    registered = {fn.__name__ for fn in
                  {**entry.queries(), **entry.variant_queries()}.values()}
    assert {f for f in funcs if f.startswith("q_")} == registered


def test_parquet_sink_rejects_non_append_modes():
    """The file sink supports append only; a complete/update request must
    not quietly fall through to the memory sink."""
    for mode in ("complete", "update"):
        with pytest.raises(ValueError, match="output_mode='append'"):
            twins.run_streams(None, {"x": None}, output_mode=mode, sink="parquet")


def test_events_is_big_counts_nested_data_files(tmp_path):
    """Partitioned tables keep their data below partition dirs; Spark's
    ``_``/``.`` names (markers, checksums, staging dirs) are not data."""
    table = tmp_path / "events.parquet"
    part = table / "day=2026-01-01"
    part.mkdir(parents=True)
    (part / "part-0.parquet").write_bytes(b"x" * 100)
    (part / ".part-0.parquet.crc").write_bytes(b"x" * 1000)
    (table / "_SUCCESS").write_bytes(b"x" * 1000)
    (table / "_temporary").mkdir()
    (table / "_temporary" / "part-9.parquet").write_bytes(b"x" * 1000)
    assert twins.events_is_big(str(tmp_path), threshold=99)
    assert not twins.events_is_big(str(tmp_path), threshold=100)


def test_events_is_big_single_file_and_missing(tmp_path):
    (tmp_path / "events.parquet").write_bytes(b"x" * 10)
    assert twins.events_is_big(str(tmp_path), threshold=9)
    assert not twins.events_is_big(str(tmp_path), threshold=10)
    assert not twins.events_is_big(str(tmp_path / "absent"))


def test_events_is_big_raises_on_unreadable_dirs(tmp_path, monkeypatch):
    """Only a missing table reads as small; an unreadable one raises
    rather than silently choosing the small-input path."""
    (tmp_path / "events.parquet" / "day=1").mkdir(parents=True)

    def denied(path):
        raise PermissionError(13, "Permission denied", path)

    with monkeypatch.context() as m:
        m.setattr(os, "scandir", denied)
        with pytest.raises(PermissionError):
            twins.events_is_big(str(tmp_path))
    # a parent dir that cannot be searched fails the table's own stat
    monkeypatch.setattr(os, "stat", denied)
    with pytest.raises(PermissionError):
        twins.events_is_big(str(tmp_path))


def test_memory_sink_views_are_dropped(spark, tmp_path):
    """Each memory-sink run used to leave its uniquely named temp view in
    the session; the returned DataFrames must keep every row without it."""
    src = str(tmp_path / "src")
    spark.range(1000).write.parquet(src)

    def stream():
        return spark.readStream.schema("id long").parquet(src)

    def views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = views()
    one = twins.run_streams(spark, {"a": stream()})["a"]
    two = twins.run_streams(spark, {"b": stream(), "c": stream()})
    assert views() == before
    for df in (one, two["b"], two["c"]):
        assert sorted(r.id for r in df.collect()) == list(range(1000))
