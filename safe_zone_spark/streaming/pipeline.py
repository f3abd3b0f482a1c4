"""End-to-end streaming corpus pipeline (SURVEY §7.1 step 8).

``readStream`` over arriving WARC-derived parquet → the flagship plan
(plans/flagship.py: extract, detect/scrub, langid and perplexity in one
Arrow crossing, Gopher quality exprs, ``final_keep``) → ``foreachBatch``:
per micro-batch, atomically append

* kept scrubbed documents with their ``lang_pred`` and ``ppl``,
  partitioned by ``warc_date`` (the parquet fallback of Iceberg's hidden
  ``days(warc_ts)`` partitioning — swap the writer for ``.writeTo(table)``
  when an Iceberg catalog is configured),
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

Batches committed before the sink wrote ``lang_pred`` and ``ppl`` lack
both: an Iceberg table gains them before the next append
(``sinks.iceberg.add_missing_columns``); a parquet ``kept_docs`` is read
with ``mergeSchema``, the old rows reading null.

Net effect: exactly-once per (run, batch). Resume = Structured Streaming
checkpointing; the manifest table lets an auditor verify which inputs
reached the sink (BASELINE.json north_rule). The Iceberg path gets the
same guarantee row-level: DELETE this (run, batch)'s rows, then append —
one logical replace per replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.flagship import flagship
from ..plans.pipeline import commit_stamp, manifest_aggs, read_manifest
from ..rules import RuleSet

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
    """The flagship plan (:func:`..plans.flagship.flagship`) with the scan
    fields the sinks read (:func:`write_batch_sinks`) and the kept docs'
    ``warc_date`` partition. Streaming DataFrames accept its ``mapInArrow``
    unchanged (a narrow map stage)."""
    return flagship(
        docs, rules, keep_cols=("url", "warc_ts"),
        fields=("scrubbed_text", "overall_confidence", "detections"),
    ).withColumn("warc_date", F.to_date("warc_ts"))


def append_batch_manifest(batch_df: DataFrame, manifest_path: str, run_id: str,
                          batch_id: int) -> None:
    """Append a micro-batch's manifest row (:func:`manifest_aggs` over
    ``url`` and ``final_keep``), its commit marker, stamped with
    ``batch_id`` and ``committed_at`` by :func:`commit_stamp`."""
    (
        batch_df.agg(*manifest_aggs("url", "final_keep"))
        .withColumn("run_id", F.lit(run_id))
        .crossJoin(commit_stamp(batch_df.sparkSession, batch_id=batch_id))
        .select("n_docs", "n_kept", "input_fingerprint", "run_id", "batch_id", "committed_at")
        .write.mode("append")
        .parquet(manifest_path)
    )


def write_batch_sinks(batch_df: DataFrame, out_dir: str, run_id: str, batch_id: int,
                      *, kept_table: str | None = None) -> None:
    """Write a micro-batch's kept documents and security events, each
    partitioned by ``(run_id, batch_id)`` with dynamic partition overwrite
    (kept docs also by ``warc_date``), so a replay clobbers only its own
    partitions. ``batch_id`` is data from :func:`commit_stamp`, as in the
    manifest append: a literal would make every micro-batch compile new
    classes. ``kept_table`` names an Iceberg table that takes the kept
    documents instead of ``out_dir/kept_docs``."""
    stamp = commit_stamp(batch_df.sparkSession, batch_id=batch_id)
    # run_id is part of the idempotence key: partitioning (and the
    # Iceberg delete) scoped by batch_id ALONE would let a later run
    # with a different run_id clobber this run's sink partitions while
    # the manifest still claimed them committed
    kept_df = (
        batch_df.filter(F.col("final_keep"))
        .crossJoin(stamp)
        .select("url", "warc_ts", "warc_date", "scrubbed_text", "overall_confidence",
                "lang_pred", "ppl", F.lit(run_id).alias("run_id"), "batch_id")
    )
    if kept_table is not None:
        from ..sinks.iceberg import append_or_create, delete_batch_rows

        # replay idempotence, row-level form: drop this (run, batch)'s
        # rows before re-appending (plain append would duplicate them
        # on a crash-between-sinks replay)
        delete_batch_rows(batch_df.sparkSession, kept_table, run_id, batch_id)
        append_or_create(kept_df, kept_table)
    else:
        import os

        kept_path = f"{out_dir}/kept_docs"
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
    (
        batch_df.select("url", F.explode("detections").alias("d"))
        .crossJoin(stamp)
        .select(
            F.lit(run_id).alias("run_id"),
            "batch_id",
            "url",
            F.col("d.type").alias("type"),
            F.col("d.action").alias("action"),
            F.col("d.confidence").alias("confidence"),
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("run_id", "batch_id")
        .parquet(f"{out_dir}/security_events")
    )


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

    manifest_path = f"{out_dir}/manifests"

    def committed(batch_id: int) -> bool:
        """True iff this batch id already has its manifest commit marker."""
        manifests = read_manifest(spark, manifest_path, STREAM_MANIFEST_SCHEMA)
        return manifests is not None and bool(
            manifests.filter(
                (F.col("run_id") == run_id) & (F.col("batch_id") == batch_id)
            ).head(1)
        )

    from ..sinks.iceberg import iceberg_available

    use_iceberg = kept_table is not None and iceberg_available(spark)

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if committed(batch_id):
            return  # replayed, fully committed batch — exactly-once skip
        batch_df = batch_df.persist()
        try:
            write_batch_sinks(batch_df, out_dir, run_id, batch_id,
                              kept_table=kept_table if use_iceberg else None)
            append_batch_manifest(batch_df, manifest_path, run_id, batch_id)
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
