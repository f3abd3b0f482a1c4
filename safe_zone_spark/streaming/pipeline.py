"""End-to-end streaming corpus pipeline (SURVEY §7.1 step 8).

``readStream`` over arriving WARC-derived parquet → extract → quality exprs
→ detect/scrub → ``foreachBatch``: per micro-batch, atomically append

* kept scrubbed documents, partitioned by ``warc_date`` (the parquet
  fallback of Iceberg's hidden ``days(warc_ts)`` partitioning — swap the
  writer for ``.writeTo(table)`` when an Iceberg catalog is configured),
* one security-event row per kept detection (E1),
* one lineage-manifest row per micro-batch (L1): doc counts, kept counts,
  input fingerprint — the streaming twin of plans/run_with_manifest, with
  ``batch_id`` as the work unit.

foreachBatch is **at-least-once**: Spark may replay a batch id after a
crash between the three sink writes. The sink makes replays idempotent:

* the manifest row is written **last** and is the batch's commit marker —
  a replayed batch whose id is already in the manifest is skipped whole;
* kept_docs and security_events are partitioned by ``(run_id, batch_id)``
  and written with *dynamic partition overwrite*, so an uncommitted replay
  clobbers exactly its own partial partitions and nothing else — and a
  different run into the same directory can never touch this run's
  partitions.

Net effect: exactly-once per (run, batch). Resume = Structured Streaming
checkpointing; the manifest table lets an auditor verify which inputs
reached the sink (BASELINE.json north_rule). The Iceberg path gets the
same guarantee row-level: DELETE this (run, batch)'s rows, then append —
one logical replace per replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.quality import gopher_quality_columns
from ..operators.scan import extract_and_scan
from ..plans.pipeline import manifest_aggs, read_manifest
from ..rules import RuleSet, default_rules

# The streaming manifest's columns, in write order (one row per micro-batch).
STREAM_MANIFEST_SCHEMA = ("n_docs bigint, n_kept bigint, input_fingerprint bigint, "
                          "run_id string, batch_id int, committed_at timestamp")


def build_stream(spark: SparkSession, source_dir: str, *, schema,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def transform(docs: DataFrame, rules: RuleSet | None = None) -> DataFrame:
    """The same stages as the batch flagship — streaming DataFrames accept
    mapInPandas unchanged (narrow map stages). Fused extract+scan = one
    Arrow crossing; quality exprs JVM-side after it."""
    rules = rules or default_rules()
    out = extract_and_scan(docs, rules, keep_cols=("url", "warc_ts"))
    q = gopher_quality_columns("text")
    return out.withColumn(
        "final_keep", F.col("keep") & q["quality_keep"]
    ).withColumn("warc_date", F.to_date("warc_ts"))


def run_pipeline(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    *,
    schema,
    rules: RuleSet | None = None,
    run_id: str = "stream",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    kept_table: str | None = None,
):
    """Start (and with ``available_now`` run to completion) the streaming
    pipeline. Returns the StreamingQuery.

    ``kept_table``: an Iceberg identifier (e.g. ``lake.db.kept_docs``) —
    when the Iceberg runtime is on the classpath, kept docs append there
    with hidden ``days(warc_ts)`` partitioning (one atomic snapshot per
    batch) instead of the parquet fallback; the manifest idempotence
    marker works identically either way."""
    stream = build_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )
    result = transform(stream, rules)

    kept_path = f"{out_dir}/kept_docs"
    events_path = f"{out_dir}/security_events"
    manifest_path = f"{out_dir}/manifests"

    def committed(batch_id: int) -> bool:
        """True iff this batch id already has its manifest commit marker."""
        manifests = read_manifest(spark, manifest_path, STREAM_MANIFEST_SCHEMA)
        return manifests is not None and bool(
            manifests.filter(
                (F.col("run_id") == run_id) & (F.col("batch_id") == batch_id)
            ).head(1)
        )

    from ..sinks.iceberg import append_or_create, delete_batch_rows, iceberg_available

    use_iceberg = kept_table is not None and iceberg_available(spark)

    def write_kept(kept_df: DataFrame, batch_id: int) -> None:
        # run_id is part of the idempotence key: partitioning (and the
        # Iceberg delete) scoped by batch_id ALONE would let a later run
        # with a different run_id clobber this run's sink partitions while
        # the manifest still claimed them committed
        kept_df = kept_df.withColumn("run_id", F.lit(run_id)).withColumn(
            "batch_id", F.lit(batch_id)
        )
        if use_iceberg:
            # replay idempotence, row-level form: drop this (run, batch)'s
            # rows before re-appending (plain append would duplicate them
            # on a crash-between-sinks replay)
            delete_batch_rows(spark, kept_table, run_id, batch_id)
            append_or_create(kept_df, kept_table)
            return
        import os

        if os.path.isdir(kept_path) and any(
            e.startswith("batch_id=") for e in os.listdir(kept_path)
        ):
            raise RuntimeError(
                f"{kept_path} holds the pre-run_id partition layout "
                "(top-level batch_id=); mixing layouts corrupts partition "
                "discovery — drain into a fresh out_dir or migrate the old one"
            )
        (
            kept_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run_id", "batch_id", "warc_date")
            .parquet(kept_path)
        )

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if committed(batch_id):
            return  # replayed, fully committed batch — exactly-once skip
        batch_df = batch_df.persist()
        try:
            write_kept(
                batch_df.filter(F.col("final_keep"))
                .select("url", "warc_ts", "warc_date", "scrubbed_text",
                        "overall_confidence"),
                batch_id,
            )
            (
                batch_df.select("url", F.explode("detections").alias("d"))
                .select(
                    F.lit(run_id).alias("run_id"),
                    F.lit(batch_id).alias("batch_id"),
                    "url",
                    F.col("d.type").alias("type"),
                    F.col("d.action").alias("action"),
                    F.col("d.confidence").alias("confidence"),
                )
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("run_id", "batch_id")
                .parquet(events_path)
            )
            (
                batch_df.agg(*manifest_aggs("url", "final_keep"))
                .select(
                    "n_docs", "n_kept", "input_fingerprint",
                    F.lit(run_id).alias("run_id"),
                    F.lit(batch_id).alias("batch_id"),
                    F.current_timestamp().alias("committed_at"),
                )
                .write.mode("append")
                .parquet(manifest_path)
            )
        finally:
            batch_df.unpersist()

    writer = (
        result.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", f"{out_dir}/checkpoint")
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
