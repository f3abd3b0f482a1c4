"""Streaming e2e pipeline: batch-parity, sinks, manifests, checkpoint resume."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from safe_zone_spark.rules import default_rules
from safe_zone_spark.sources.corpus import corpus_schema, generate_corpus
from safe_zone_spark.plans.pipeline import read_manifest
from safe_zone_spark.streaming.pipeline import (
    STREAM_MANIFEST_SCHEMA,
    append_batch_manifest,
    run_pipeline,
    transform,
    write_batch_sinks,
)

RULES = default_rules(blocklist=frozenset({"PROJECT-X"}))


def in_first_file():
    """The staged source's first file: about half the urls, by hash."""
    return F.pmod(F.xxhash64("url"), F.lit(2)) == 0


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("stream_src")
    corpus = generate_corpus(spark, 200, seed=11)
    # two non-empty source files → two micro-batches with maxFilesPerTrigger=1
    corpus.filter(in_first_file()).coalesce(1).write.mode("overwrite").parquet(str(tmp / "src"))
    corpus.filter(~in_first_file()).coalesce(1).write.mode("append").parquet(str(tmp / "src"))
    return str(tmp / "src"), corpus


def test_stream_pipeline_matches_batch(spark, staged, tmp_path):
    src, corpus = staged
    out = str(tmp_path / "out")
    run_pipeline(
        spark, src, out, schema=corpus_schema(), rules=RULES,
        run_id="r1", max_files_per_trigger=1,
    )
    kept = spark.read.parquet(f"{out}/kept_docs")
    # batch twin over the same rows
    batch = transform(spark.read.parquet(src), RULES).filter(F.col("final_keep"))
    assert kept.count() == batch.count()
    joined = kept.select("url", "scrubbed_text").join(
        batch.select("url", F.col("scrubbed_text").alias("expected")), "url"
    )
    assert joined.filter(F.col("scrubbed_text") != F.col("expected")).count() == 0

    # security events: one per kept detection
    ev = spark.read.parquet(f"{out}/security_events")
    n_det = batch.select(F.sum(F.size("detections"))).head()[0] or 0
    total_det = (
        transform(spark.read.parquet(src), RULES)
        .select(F.sum(F.size("detections")))
        .head()[0]
    )
    assert ev.count() == total_det  # events cover all scanned docs
    assert ev.count() >= n_det > 0

    # manifests: one row per micro-batch, fingerprints partition the input
    man = spark.read.parquet(f"{out}/manifests")
    rows = man.collect()
    known = spark.createDataFrame([], STREAM_MANIFEST_SCHEMA).schema
    assert [(f.name, f.dataType) for f in man.schema] == [(f.name, f.dataType) for f in known]
    assert len(rows) == 2  # two files → two batches
    assert all(r["n_docs"] > 0 for r in rows)
    assert sum(r["n_docs"] for r in rows) == 200
    assert {r["batch_id"] for r in rows} == {0, 1}
    # each batch's lineage recomputes from its source file's urls and final_keep
    full = transform(spark.read.parquet(src), RULES)
    recomputed = {
        tuple(full.filter(in_file).agg(
            F.count(F.lit(1)), F.sum(F.col("final_keep").cast("long")),
            F.bit_xor(F.xxhash64("url")),
        ).first())
        for in_file in (in_first_file(), ~in_first_file())
    }
    assert {(r["n_docs"], r["n_kept"], r["input_fingerprint"]) for r in rows} == recomputed

    # restart with same checkpoint: nothing new → no extra output
    run_pipeline(
        spark, src, out, schema=corpus_schema(), rules=RULES,
        run_id="r1", max_files_per_trigger=1,
    )
    assert spark.read.parquet(f"{out}/manifests").count() == 2
    assert spark.read.parquet(f"{out}/kept_docs").count() == batch.count()

    # new file arrives → exactly one more batch processes only the delta
    extra = generate_corpus(spark, 40, seed=99)
    extra.coalesce(1).write.mode("append").parquet(src)
    run_pipeline(
        spark, src, out, schema=corpus_schema(), rules=RULES,
        run_id="r1", max_files_per_trigger=1,
    )
    man2 = spark.read.parquet(f"{out}/manifests").collect()
    assert len(man2) == 3
    assert all(r["n_docs"] > 0 for r in man2)
    assert sum(r["n_docs"] for r in man2) == 240


def test_warm_batch_manifest_appends_compile_no_classes(spark, tmp_path):
    """Micro-batch appends after the first reuse their generated code:
    ``batch_id`` and ``committed_at`` are data, not literals in the code.
    The written manifest has the schema ``read_manifest`` reads it with, so
    the read runs no Spark job."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    batch = spark.range(50).selectExpr(
        "concat('u', id) AS url", "id % 2 = 0 AS final_keep").persist()
    batch.count()
    man_path = str(tmp_path / "manifests")
    append_batch_manifest(batch, man_path, "r1", 0)
    compiled = codegen.METRIC_COMPILATION_TIME().getCount()
    append_batch_manifest(batch, man_path, "r1", 1)
    append_batch_manifest(batch, man_path, "r1", 2)
    assert codegen.METRIC_COMPILATION_TIME().getCount() == compiled
    batch.unpersist()

    tracker = spark.sparkContext.statusTracker()
    last_job = max(tracker.getJobIdsForGroup(None), default=-1)
    man = read_manifest(spark, man_path, STREAM_MANIFEST_SCHEMA)
    assert max(tracker.getJobIdsForGroup(None), default=-1) == last_job
    inferred = spark.read.parquet(man_path).schema
    assert [(f.name, f.dataType) for f in man.schema] == [(f.name, f.dataType) for f in inferred]
    rows = man.collect()
    assert sorted(r["batch_id"] for r in rows) == [0, 1, 2]
    assert {(r["n_docs"], r["n_kept"], r["run_id"]) for r in rows} == {(50, 25, "r1")}
    assert len({r["committed_at"] for r in rows}) == 3


def test_warm_batch_sink_writes_compile_no_classes(spark, tmp_path):
    """Micro-batches after the first write their kept documents and
    security events with the code the first one generated: ``batch_id`` is
    data from ``commit_stamp``, not a literal in the code."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    batch = transform(generate_corpus(spark, 60, seed=3), RULES).persist()
    batch.count()
    out = str(tmp_path / "out")
    write_batch_sinks(batch, out, "r1", 0)
    compiled = codegen.METRIC_COMPILATION_TIME().getCount()
    write_batch_sinks(batch, out, "r1", 1)
    write_batch_sinks(batch, out, "r1", 2)
    assert codegen.METRIC_COMPILATION_TIME().getCount() == compiled
    n_kept = batch.filter("final_keep").count()
    n_events = batch.select(F.sum(F.size("detections"))).first()[0]
    batch.unpersist()
    for sink, n in (("kept_docs", n_kept), ("security_events", n_events)):
        rows = spark.read.parquet(f"{out}/{sink}").groupBy("run_id", "batch_id").count()
        assert sorted(map(tuple, rows.collect())) == [("r1", b, n) for b in (0, 1, 2)], sink


def test_output_partitioned_by_warc_date(spark, staged, tmp_path):
    src, corpus = staged
    out = str(tmp_path / "out2")
    run_pipeline(spark, src, out, schema=corpus_schema(), rules=RULES, run_id="r2")
    import os

    runs = [p for p in os.listdir(f"{out}/kept_docs") if p.startswith("run_id=")]
    assert runs  # (run_id, batch_id) is the idempotence (dynamic-overwrite) key
    batches = [
        p for p in os.listdir(f"{out}/kept_docs/{runs[0]}")
        if p.startswith("batch_id=")
    ]
    assert batches
    parts = [
        p
        for p in os.listdir(f"{out}/kept_docs/{runs[0]}/{batches[0]}")
        if p.startswith("warc_date=")
    ]
    assert len(parts) > 5  # 30-day window → many date partitions


def test_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once — a replayed batch id must not duplicate
    sink rows. Single source file → batch 0 is deterministic across runs."""
    import shutil

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    corpus = generate_corpus(spark, 120, seed=23)
    corpus.coalesce(1).write.mode("overwrite").parquet(src)

    run_pipeline(spark, src, out, schema=corpus_schema(), rules=RULES, run_id="rr")
    kept0 = spark.read.parquet(f"{out}/kept_docs").count()
    ev0 = spark.read.parquet(f"{out}/security_events").count()
    assert spark.read.parquet(f"{out}/manifests").count() == 1

    # Replay of a COMMITTED batch (manifest marker present): lose the
    # checkpoint, re-run → batch 0 re-delivered → skipped whole.
    shutil.rmtree(f"{out}/checkpoint")
    run_pipeline(spark, src, out, schema=corpus_schema(), rules=RULES, run_id="rr")
    assert spark.read.parquet(f"{out}/kept_docs").count() == kept0
    assert spark.read.parquet(f"{out}/security_events").count() == ev0
    assert spark.read.parquet(f"{out}/manifests").count() == 1

    # Replay of an UNCOMMITTED batch (crash before the manifest write):
    # kept/events partitions exist but no marker → dynamic partition
    # overwrite replaces batch 0's own partitions, no duplication.
    shutil.rmtree(f"{out}/checkpoint")
    shutil.rmtree(f"{out}/manifests")
    run_pipeline(spark, src, out, schema=corpus_schema(), rules=RULES, run_id="rr")
    assert spark.read.parquet(f"{out}/kept_docs").count() == kept0
    assert spark.read.parquet(f"{out}/security_events").count() == ev0
    assert spark.read.parquet(f"{out}/manifests").count() == 1


def test_unreadable_manifest_fails_the_batch(spark, tmp_path):
    """A manifest that exists but cannot be read must not pass for "batch
    not committed": the batch would re-run and append a duplicate marker."""
    src = str(tmp_path / "src")
    out = tmp_path / "out"
    generate_corpus(spark, 20, seed=5).coalesce(1).write.parquet(src)
    (out / "manifests").mkdir(parents=True)
    (out / "manifests" / "part-0.parquet").write_bytes(b"PAR1 not a parquet footer")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        run_pipeline(spark, src, str(out), schema=corpus_schema(), rules=RULES,
                     run_id="bad")
    assert not (out / "kept_docs").exists()
