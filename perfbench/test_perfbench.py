"""Tests of the benchmark's own helpers: ``python -m pytest perfbench -q``."""

import json
import os

import pytest

from perfbench.corpus import BLOCKLIST, OVERLAPPING, generate_long_corpus, long_doc_row
from perfbench.layers import StatusStore, crossing_and_io, parse_metric
from perfbench.run import E2E_UNITS, ROOT, unit_of
from perfbench.workloads import fingerprint
from safe_zone_spark.oracle import (
    blocklist_candidates,
    detect,
    pattern_candidates,
    resolve_overlaps,
)
from safe_zone_spark.rules import default_rules


def test_long_doc_rows_repeat_per_seed():
    assert [long_doc_row(7, i) for i in range(50)] == [long_doc_row(7, i) for i in range(50)]
    assert [long_doc_row(7, i)["text"] for i in range(50)] != [
        long_doc_row(8, i)["text"] for i in range(50)]


def test_long_corpus_is_independent_of_partitioning(spark):
    def rows(seed, parts):
        df = generate_long_corpus(spark, 40, seed, parts)
        return sorted(tuple(r) for r in df.collect())

    assert rows(7, 1) == rows(7, 3)
    assert rows(7, 1) != rows(8, 1)


def test_long_docs_are_dense_in_detections():
    rules = default_rules(blocklist=BLOCKLIST)
    docs = [long_doc_row(42, i)["text"] for i in range(200)]
    counts = [len(detect(t, rules).detections) for t in docs]
    assert sum(counts) / len(docs) >= 4
    assert sum(c > 0 for c in counts) / len(docs) >= 0.99

    overlapped = 0
    for t in docs:
        data = t.encode()
        cands = blocklist_candidates(data, rules.blocklist)
        cands += pattern_candidates(data, rules, "", "type")
        overlapped += len(cands) > len(resolve_overlaps(cands))
    assert overlapped / len(docs) >= 0.5


@pytest.mark.parametrize("value", OVERLAPPING)
def test_overlapping_values_raise_competing_candidates(value):
    data = f"see {value} here".encode()
    cands = pattern_candidates(data, default_rules(), "", "type")
    assert len(cands) >= 2
    assert len(resolve_overlaps(cands)) == 1


def test_fingerprint_ignores_row_order_and_partitioning(spark):
    rows = [(f"u{i}", i % 3 == 0, f"text {i}") for i in range(100)]
    schema = "url string, final_keep boolean, scrubbed_text string"
    df = spark.createDataFrame(rows, schema)
    fp = fingerprint(df)
    assert fp.startswith("100:")
    assert fingerprint(spark.createDataFrame(rows[::-1], schema).repartition(3)) == fp
    changed = rows[:-1] + [("u99", False, "text 99 [EMAIL]")]
    assert fingerprint(spark.createDataFrame(changed, schema)) != fp


def test_status_store_reads_python_metrics_of_a_map_in_pandas(spark):
    def double(batches):
        for pdf in batches:
            yield pdf.assign(y=pdf["id"] * 2)

    store = StatusStore(spark)
    marker = store.last_id()
    (spark.range(0, 20_000, 1, 2).mapInPandas(double, "id long, y long")
     .write.format("noop").mode("overwrite").save())
    layer = crossing_and_io(store, store.executions_since(marker))
    assert layer["crossing.python_run_s"] > 0
    assert layer["crossing.to_python_mib"] > 0
    assert layer["crossing.from_python_mib"] > layer["crossing.to_python_mib"]
    assert layer["crossing.tasks"] == 2
    assert layer["plans.pipeline.salted"] == 0


@pytest.mark.parametrize("text,kind,value", [
    ("1,234", "sum", 1234.0),
    ("total (min, med, max (stageId: taskId))\n8.6 s (2.1 s, 2.2 s, 2.2 s (stage 2.0: task 8))",
     "timing", 8.6),
    ("890 ms", "timing", 0.89),
    ("total (min, med, max (stageId: taskId))\n1565.1 KiB (389.6 KiB, 390.3 KiB, "
     "395.1 KiB (stage 2.0: task 11))", "size", 1565.1 * 1024),
    ("0.0 B", "size", 0.0),
    ("1.5 m", "nsTiming", 90.0),
])
def test_parse_metric(text, kind, value):
    assert parse_metric(text, kind) == pytest.approx(value)


def test_printed_units_match_the_benchmark_definition():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    for m in spec["per_layer"]:
        assert unit_of(m["name"]) == m["unit"], m["name"]
