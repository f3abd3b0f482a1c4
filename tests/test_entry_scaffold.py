"""The streaming-twin scaffold in ``__spark_entry__``: its size gate and sink
choice fail loudly instead of silently picking another path."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entry


def test_parquet_sink_rejects_non_append_modes():
    """The file sink supports append only; a complete/update request must
    not quietly fall through to the memory sink."""
    for mode in ("complete", "update"):
        with pytest.raises(ValueError, match="output_mode='append'"):
            entry._run_stream_to_memory(None, None, "x", output_mode=mode, sink="parquet")


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
    assert entry._events_is_big(str(tmp_path), threshold=99)
    assert not entry._events_is_big(str(tmp_path), threshold=100)


def test_events_is_big_single_file_and_missing(tmp_path):
    (tmp_path / "events.parquet").write_bytes(b"x" * 10)
    assert entry._events_is_big(str(tmp_path), threshold=9)
    assert not entry._events_is_big(str(tmp_path), threshold=10)
    assert not entry._events_is_big(str(tmp_path / "absent"))


def test_events_is_big_raises_on_unreadable_dirs(tmp_path, monkeypatch):
    """Only a missing table reads as small; an unreadable one raises
    rather than silently choosing the small-input path."""
    (tmp_path / "events.parquet" / "day=1").mkdir(parents=True)

    def denied(path):
        raise PermissionError(13, "Permission denied", path)

    with monkeypatch.context() as m:
        m.setattr(os, "scandir", denied)
        with pytest.raises(PermissionError):
            entry._events_is_big(str(tmp_path))
    # a parent dir that cannot be searched fails the table's own stat
    monkeypatch.setattr(os, "stat", denied)
    with pytest.raises(PermissionError):
        entry._events_is_big(str(tmp_path))
