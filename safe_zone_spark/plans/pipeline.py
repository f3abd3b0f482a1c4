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
* **Resume**: the driver collects the pending units (at most
  ``num_units``) from a ``key_col``-only read of the input less the units
  the manifest holds for the run, so a resume with nothing pending reads
  one input column and returns. With work pending every input row is read
  again (with the columns the transform needs) and the finished units'
  rows are dropped before the transform: a unit is a hash of the key, so
  no scan can prune by it.
* **Layout**: rows are rebalanced by unit before the commit (AQE's
  ``RebalancePartitions``), so each unit is written by one task rather than
  by every task of the transform: files per unit are bounded by
  ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (a larger unit is
  split into several files), not multiplied by the task count. Without AQE
  Spark plans a plain hash exchange on ``unit``, so one task writes each
  unit.
* **Atomicity**: outputs land under ``.../unit=<k>/`` via Spark's committer
  (dynamic partition overwrite, so a unit's rewrite replaces its own
  files and nothing else). The manifest rows are aggregated from a
  read-back of the committed units and appended only after the output job
  commits, so they audit the files, and a crash between the two
  re-processes (idempotently overwrites) those units rather than losing
  them. The read-back filters on the ``unit`` partition column, so it
  reads only the written units' files, but planning it lists every
  partition directory under ``output_path``.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
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


def manifest_aggs(key_col: str, kept_col: str | None) -> list[Column]:
    """The lineage columns of one manifest row, aggregated over its rows:
    ``n_docs``, an order-independent ``input_fingerprint`` (bit_xor of key
    hashes) that lets an auditor verify the row set key-for-key, and
    ``n_kept`` (NULL without a kept column). The batch and streaming
    manifests both build their rows from it."""
    n_kept = F.lit(None) if kept_col is None else F.sum(F.col(kept_col).cast("long"))
    return [
        F.count(F.lit(1)).alias("n_docs"),
        F.bit_xor(F.xxhash64(F.col(key_col))).alias("input_fingerprint"),
        n_kept.cast("long").alias("n_kept"),
    ]


def write_manifest(out_df_with_unit: DataFrame, manifest_path: str, run_id: str,
                   *, key_col: str = "url", kept_col: str | None = "keep") -> None:
    """Append one lineage row per work unit (:func:`manifest_aggs`)."""
    if kept_col not in out_df_with_unit.columns:
        kept_col = None
    (
        out_df_with_unit.groupBy(UNIT_COL)
        .agg(*manifest_aggs(key_col, kept_col))
        .withColumn("run_id", F.lit(run_id))
        .withColumn("committed_at", F.current_timestamp())
        .write.mode("append").parquet(manifest_path)
    )


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
    """Checkpointed execution: pick the pending units → transform them →
    commit output (partitioned by unit) → append their manifest rows from a
    read-back of the committed units (``unit``, ``key_col`` and, when the
    output has it, ``kept_col``). Returns the number of units processed
    this invocation. ``max_units`` caps work per call to the lowest pending
    units (used by tests to simulate a mid-run crash). With no unit
    pending it returns 0 before ``transform`` is called or any input column
    but ``key_col`` is read.

    The commit rebalances the output on ``unit``, so each unit is written
    by one task and its file count is bounded by the advisory partition
    size (``spark.sql.adaptive.advisoryPartitionSizeInBytes``) rather than
    by the number of transform tasks. The rebalance needs AQE; without it
    the hint plans a plain hash exchange on ``unit`` and one task writes
    each unit."""
    spark = df.sparkSession
    manifest = read_manifest(spark, manifest_path)
    done = set() if manifest is None else {
        r[0] for r in
        manifest.filter(F.col("run_id") == run_id).select(UNIT_COL).distinct().collect()
    }
    present = assign_units(df.select(key_col), num_units, key_col=key_col).select(UNIT_COL)
    units = sorted({r[0] for r in present.distinct().collect()} - done)[:max_units]
    if not units:
        return 0
    out = transform(
        assign_units(df, num_units, key_col=key_col).filter(F.col(UNIT_COL).isin(units))
    )
    if UNIT_COL not in out.columns:
        raise ValueError("transform must preserve the unit column")
    (
        out.hint("rebalance", UNIT_COL).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(UNIT_COL)
        .parquet(output_path)
    )
    audited = [UNIT_COL, key_col, *[c for c in [kept_col] if c in out.columns]]
    # the output's schema is known, so the read-back runs no inference job
    committed = spark.read.schema(out.select(*audited).schema).parquet(output_path)
    write_manifest(committed.filter(F.col(UNIT_COL).isin(units)), manifest_path, run_id,
                   key_col=key_col, kept_col=kept_col)
    return len(units)
