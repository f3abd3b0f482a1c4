"""Pipeline-level physical plan: skew defusal + lineage manifests + resume.

north_rule (BASELINE.json): "partitioning / shuffle / skew handled
explicitly ... resumable from checkpoint with per-partition lineage +
metrics". The reference has no analog (one HTTP request at a time); its
per-request audit log line (/root/reference/main.go:96-121) scales up to a
per-*work-unit* manifest row here.

Design for 100 TB:
* **Work unit** = ``pmod(xxhash64(url, salt), num_units)`` — derived from the
  input row alone, so the same row lands in the same unit on any cluster
  size or retry. Units are the atom of resume, not Spark shuffle partitions
  (those change with parallelism).
* **Skew defusal**: heavy hosts (a handful of domains can be 10%+ of a
  crawl) share a url-hash, but hashing the full url (not the host) spreads
  them; the salt decorrelates from any downstream hash-partitioning.
* **Resume** = broadcast anti-join of the input against the manifest's
  completed units — O(completed units) driver state. It is not free:
  every call re-reads every input row (with the columns the transform
  needs), assigns its unit and anti-joins before anything is skipped, so
  finished work is not transformed or written again but its input is
  still scanned; a resume with nothing pending costs a full input scan.
* **Layout**: rows are rebalanced by unit before the commit (AQE's
  ``RebalancePartitions``), so each unit is written by one task rather than
  by every task of the transform: files per unit are bounded by
  ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (a larger unit is
  split into several files), not multiplied by the task count. Without AQE
  Spark plans a plain hash exchange on ``unit``, so one task writes each
  unit.
* **Atomicity**: outputs land under ``.../unit=<k>/`` via Spark's committer;
  the manifest row for a unit is appended only after the output job
  commits, so a crash between the two re-processes (idempotently
  overwrites) that unit rather than losing it.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

UNIT_COL = "unit"


def salted_repartition(df: DataFrame, num_partitions: int, *, key_col: str = "url",
                       salt: int = 42) -> DataFrame:
    """Spread rows uniformly by ``xxhash64(key, salt)`` — defuses host/domain
    skew ahead of the (narrow) detect stage so every task gets equal work."""
    return df.repartition(num_partitions, F.xxhash64(F.col(key_col), F.lit(salt)))


def ensure_parallelism(df: DataFrame, min_partitions: int, *, key_col: str = "url",
                       salt: int = 42) -> DataFrame:
    """Salted-repartition ONLY when the input can't feed every core.

    A shuffle of raw page bytes is pure overhead when the scan already
    yields >= min_partitions balanced splits (parquet row groups are
    row-count-uniform, so host skew does not skew split sizes). It earns
    its cost only when splits are few (tiny table, giant files) — then we
    pay one shuffle to unlock full width. This keeps the flagship pipeline
    narrow end-to-end in the common case (SURVEY §3.1).

    The partition count is Spark's own (``df.rdd.getNumPartitions()``), so
    the decision follows every split setting (``spark.sql.files.*``
    partition bytes and counts, ``leafNodeDefaultParallelism`` …) and any
    repartitioning node above the scan. Over a file scan this plans the
    scan without running a job."""
    if df.rdd.getNumPartitions() >= min_partitions:
        return df
    return salted_repartition(df, min_partitions, key_col=key_col, salt=salt)


def assign_units(df: DataFrame, num_units: int, *, key_col: str = "url",
                 salt: int = 7) -> DataFrame:
    """Append the deterministic work-unit id (resume atom)."""
    return df.withColumn(
        UNIT_COL, F.pmod(F.xxhash64(F.col(key_col), F.lit(salt)), F.lit(num_units)).cast("int")
    )


def read_manifest(spark: SparkSession, manifest_path: str) -> DataFrame | None:
    """The manifest table, or None when it holds no rows yet: its path does
    not exist, or it is a directory without data files (a crash during the
    first manifest append leaves one). A manifest that exists but cannot be
    read raises, since treating it as empty would re-run committed work and
    append duplicate manifest rows."""
    try:
        return spark.read.parquet(manifest_path)
    except AnalysisException as e:
        if e.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise


def completed_units(spark: SparkSession, manifest_path: str, run_id: str) -> DataFrame | None:
    """Units already committed for this run, or None when the manifest holds
    no rows yet (:func:`read_manifest`)."""
    m = read_manifest(spark, manifest_path)
    if m is None:
        return None
    return m.filter(F.col("run_id") == run_id).select(UNIT_COL).distinct()


def resume_filter(df_with_unit: DataFrame, manifest_path: str, run_id: str) -> DataFrame:
    """Drop rows whose unit is already in the manifest (broadcast anti-join).
    Without manifest rows the input is returned as is, with no join and no
    relation to build for the empty unit list."""
    done = completed_units(df_with_unit.sparkSession, manifest_path, run_id)
    if done is None:
        return df_with_unit
    return df_with_unit.join(F.broadcast(done), UNIT_COL, "left_anti")


def write_manifest(out_df_with_unit: DataFrame, manifest_path: str, run_id: str,
                   *, key_col: str = "url", kept_col: str | None = "keep") -> None:
    """Append one lineage row per work unit: row count, kept count, and an
    order-independent input fingerprint (bit_xor of url hashes) that lets an
    auditor verify the unit's input set byte-for-byte."""
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.bit_xor(F.xxhash64(F.col(key_col))).alias("input_fingerprint"),
    ]
    if kept_col is not None and kept_col in out_df_with_unit.columns:
        aggs.append(F.sum(F.col(kept_col).cast("long")).alias("n_kept"))
    else:
        aggs.append(F.lit(None).cast("long").alias("n_kept"))
    manifest = (
        out_df_with_unit.groupBy(UNIT_COL)
        .agg(*aggs)
        .withColumn("run_id", F.lit(run_id))
        .withColumn("committed_at", F.current_timestamp())
    )
    manifest.write.mode("append").parquet(manifest_path)


def run_with_manifest(
    df: DataFrame,
    transform,
    *,
    output_path: str,
    manifest_path: str,
    run_id: str,
    num_units: int = 64,
    key_col: str = "url",
    kept_col: str | None = "keep",
    max_units: int | None = None,
) -> int:
    """Checkpointed execution: assign units → skip completed → transform →
    commit output (partitioned by unit) → append manifest. Returns the
    number of units processed this invocation. ``max_units`` caps work per
    call (used by tests to simulate a mid-run crash).

    The transform runs once (its output is persisted); the commit reads the
    cache through a rebalance on ``unit``, so each unit is written by one
    task and its file count is bounded by the advisory partition size
    (``spark.sql.adaptive.advisoryPartitionSizeInBytes``) rather than by
    the number of transform tasks. The rebalance needs AQE; without it the
    hint plans a plain hash exchange on ``unit`` and one task writes each
    unit."""
    spark = df.sparkSession
    staged = assign_units(df, num_units, key_col=key_col)
    pending = resume_filter(staged, manifest_path, run_id)
    if max_units is not None:
        units = [
            r[0]
            for r in pending.select(UNIT_COL).distinct().orderBy(UNIT_COL).limit(max_units).collect()
        ]
        if not units:
            return 0
        pending = pending.filter(F.col(UNIT_COL).isin(units))
    out = transform(pending)
    if UNIT_COL not in out.columns:
        raise ValueError("transform must preserve the unit column")
    out.persist()
    try:
        n_units = out.select(UNIT_COL).distinct().count()
        if n_units == 0:
            return 0
        (
            out.hint("rebalance", UNIT_COL).write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(UNIT_COL)
            .parquet(output_path)
        )
        write_manifest(out, manifest_path, run_id, key_col=key_col, kept_col=kept_col)
    finally:
        out.unpersist()
    return n_units
