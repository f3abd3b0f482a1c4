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
* **Resume**: the pending units are the unit ids the manifest does not
  hold for the run; a resume with nothing pending reads only the manifest.
  Otherwise every input row is read (with the columns the transform needs)
  and the finished units' rows are dropped before the transform: a unit is
  a hash of the key, so no scan can prune by it.
* **Layout**: rows are rebalanced by unit (AQE's ``RebalancePartitions``)
  so each unit is written by one task rather than by every task of the
  transform: files per unit are bounded by
  ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (a larger unit is
  split into several files), not multiplied by the task count. Where the
  rebalance runs depends on the input's split count. A scan with at least
  two splits per core stays narrow through the transform, and its output is
  rebalanced before the write. A narrower scan is rebalanced at the input
  instead: that one exchange feeds the crossing, and because the
  transform's stages are narrow (``mapInArrow`` keeps its child's
  partitioning) it also lays out the write. There the advisory size is
  measured on input bytes. The two-splits-per-core line is a measured
  choice, not implied by ``ensure_parallelism`` (which leaves a scan of one
  split per core narrow): on perfbench's ``commit_pii_long`` (4 splits, 4
  cores) the input rebalance used less CPU than the salted crossing plus
  output rebalance it replaced. Without AQE Spark plans a plain hash
  exchange on ``unit``, so one task writes each unit.
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

import logging

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

UNIT_COL = "unit"

_log = logging.getLogger(__name__)


def salted_repartition(df: DataFrame, num_partitions: int, *, key_col: str = "url",
                       salt: int = 42) -> DataFrame:
    """Spread rows uniformly by ``xxhash64(key, salt)`` — defuses host/domain
    skew ahead of the (narrow) detect stage so every task gets equal work."""
    return df.repartition(num_partitions, F.xxhash64(F.col(key_col), F.lit(salt)))


def _planned_width(df: DataFrame) -> int | None:
    """The number of partitions ``df`` will run as. From the root of the
    optimized plan, with no Spark job: None for a rebalance or a
    repartition by columns alone, whose width AQE sets once the shuffle has
    run, and the count a repartition or a coalesce sets. For any other root
    Spark's own count (``df.rdd.getNumPartitions()``), which follows every
    split setting (``spark.sql.files.*`` partition bytes and counts,
    ``leafNodeDefaultParallelism`` …) and plans a scan without a job; under
    AQE it runs the map stage of a shuffle below the root (an aggregate, a
    join) as a job, which the consumer then runs again."""
    root = df._jdf.queryExecution().optimizedPlan()
    name = root.nodeName()
    if name == "RebalancePartitions" or (
            name == "RepartitionByExpression" and root.optNumPartitions().isEmpty()):
        return None
    if name in ("Repartition", "RepartitionByExpression"):
        return root.numPartitions()
    return df.rdd.getNumPartitions()


def ensure_parallelism(df: DataFrame, min_partitions: int, *, key_col: str = "url",
                       salt: int = 42) -> DataFrame:
    """Salted-repartition to ``min_partitions`` ONLY when the input can't feed
    every core: when its planned width is below both ``min_partitions`` and
    the cores (``defaultParallelism``). Any other input is returned as is.

    A shuffle of raw page bytes is pure overhead when the scan already
    yields a balanced split per core (parquet row groups are
    row-count-uniform, so host skew does not skew split sizes): asking for
    2 × cores adds no core, only a shuffle. It earns its cost only when
    splits are fewer than cores (tiny table, giant files) — then we pay one
    shuffle to unlock full width. This keeps the flagship pipeline narrow
    end-to-end in the common case (SURVEY §3.1). On perfbench's
    ``clean_short`` (a 4-split scan on 4 cores) the salt to 8 shuffled
    3.4 MiB of html per pass.

    The width is :func:`_planned_width`'s, read without a Spark job. A
    rebalanced input (as ``run_with_manifest`` hands its transform when the
    scan is narrow) is returned as is: its producer chose its layout. One
    INFO line says which way it went."""
    width = _planned_width(df)
    cores = df.sparkSession.sparkContext.defaultParallelism
    salted = width is not None and width < min(min_partitions, cores)
    _log.info("ensure_parallelism: %s (planned width %s, %d cores, min_partitions %d)",
              "salted" if salted else "not salted", width, cores, min_partitions)
    return salted_repartition(df, min_partitions, key_col=key_col, salt=salt) if salted else df


def assign_units(df: DataFrame, num_units: int, *, key_col: str = "url",
                 salt: int = 7) -> DataFrame:
    """Append the deterministic work-unit id (resume atom)."""
    return df.withColumn(
        UNIT_COL, F.pmod(F.xxhash64(F.col(key_col), F.lit(salt)), F.lit(num_units)).cast("int")
    )


# The batch manifest's columns, in write order (write_manifest).
MANIFEST_SCHEMA = ("unit int, n_docs bigint, input_fingerprint bigint, n_kept bigint, "
                   "run_id string, committed_at timestamp")


def read_manifest(spark: SparkSession, manifest_path: str,
                  schema: str = MANIFEST_SCHEMA) -> DataFrame | None:
    """The manifest table read with its known ``schema`` (no schema-inference
    job), or None when its path does not exist. A directory without data
    files (a crash during the first manifest append leaves one) reads as no
    rows. A data file that cannot be read raises (``FAILED_READ_FILE``)
    when the rows are read, as every caller reads them: treating it as empty
    would re-run committed work and append duplicate manifest rows."""
    try:
        return spark.read.schema(schema).parquet(manifest_path)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
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


def commit_stamp(spark: SparkSession, **ints: int) -> DataFrame:
    """A one-row table to crossJoin into a manifest append: the int columns
    ``ints`` (e.g. a streaming ``batch_id``), then ``committed_at``, the
    append's wall time. The values are data: as ``F.lit`` or
    ``current_timestamp()`` columns they fold to literals that the generated
    code inlines, so every append would compile new classes. The table is
    hinted ``shuffle_replicate_nl`` (a cartesian product), since
    broadcasting it would run one more Spark job per append."""
    names = [*ints, "committed_at"]
    values = [f"CAST(:{name} AS INT)" for name in ints] + ["current_timestamp()"]
    return spark.sql(f"SELECT * FROM VALUES ({', '.join(values)}) AS t({', '.join(names)})",
                     args=ints).hint("shuffle_replicate_nl")


def write_manifest(out_df_with_unit: DataFrame, manifest_path: str, run_id: str,
                   *, key_col: str = "url", kept_col: str | None = "keep") -> None:
    """Append one lineage row per work unit (:func:`manifest_aggs`), stamped
    ``committed_at`` with the append's wall time."""
    if kept_col not in out_df_with_unit.columns:
        kept_col = None
    (
        out_df_with_unit.groupBy(UNIT_COL)
        .agg(*manifest_aggs(key_col, kept_col))
        .withColumn("run_id", F.lit(run_id))
        .crossJoin(commit_stamp(out_df_with_unit.sparkSession))
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
    commit output (partitioned by unit) → append the committed units'
    manifest rows from a read-back of them (``unit``, ``key_col`` and, when
    the output has it, ``kept_col``). Returns the number of units this call
    committed.

    The pending units are the ids in ``range(num_units)`` that the manifest
    does not hold for ``run_id``, the lowest ``max_units`` of them when it
    is set (used by tests to simulate a mid-run crash). With none pending
    it returns 0 after reading the manifest alone: ``transform`` is not
    called and no input column is read. The write itself reports which
    units it committed (an observed ``collect_set`` of ``unit``), so the
    input is read once. An id that no input row hashes to stays pending:
    each later call reads the input again, commits nothing and returns 0.
    With ``n`` rows, some id lacks a row with probability about
    ``num_units · exp(−n / num_units)`` (at 256 units, 0.1 for 2,000 rows
    and 1e-6 for 5,000), and such ids count toward ``max_units``.

    The commit rebalances rows on ``unit``, so each unit is written by one
    task and its file count is bounded by the advisory partition size
    (``spark.sql.adaptive.advisoryPartitionSizeInBytes``) rather than by
    the number of transform tasks. When the pending rows' scan has fewer
    than two splits per core, ``transform`` receives them already
    rebalanced, so the crossing is fed and the write laid out by that one
    shuffle (the advisory size then applies to input bytes); this holds
    while ``transform`` keeps rows in their partitions (column
    expressions, ``mapInArrow``, Arrow UDFs). Otherwise ``transform``
    receives the narrow scan and its output is rebalanced. The rebalance
    needs AQE; without it the hint plans a plain hash exchange on ``unit``
    and one task writes each unit. One INFO line says where the rebalance
    ran and why."""
    spark = df.sparkSession
    manifest = read_manifest(spark, manifest_path)
    # a set dedups the rows of repeated appends: no shuffle for distinct()
    done = set() if manifest is None else {
        r[0] for r in manifest.filter(F.col("run_id") == run_id).select(UNIT_COL).collect()
    }
    units = sorted(set(range(num_units)) - done)[:max_units]
    if not units:
        return 0
    pending = assign_units(df, num_units, key_col=key_col).filter(F.col(UNIT_COL).isin(units))
    # under two splits per core, one rebalance at the input feeds the
    # crossing and lays out the write (a measured choice: see the module doc)
    width = _planned_width(pending)
    cores = spark.sparkContext.defaultParallelism
    narrow = width is not None and width < 2 * cores
    _log.info("run_with_manifest: %d units pending; rebalanced by unit at the %s (%s input "
              "splits, %d cores)", len(units), "input" if narrow else "output", width, cores)
    out = transform(pending.hint("rebalance", UNIT_COL) if narrow else pending)
    if UNIT_COL not in out.columns:
        raise ValueError("transform must preserve the unit column")
    written = Observation()
    (
        (out if narrow else out.hint("rebalance", UNIT_COL))
        .observe(written, F.collect_set(UNIT_COL).alias("units"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(UNIT_COL)
        .parquet(output_path)
    )
    committed_units = written.get["units"]
    if not committed_units:
        return 0
    audited = [UNIT_COL, key_col, *[c for c in [kept_col] if c in out.columns]]
    # the output's schema is known, so the read-back runs no inference job
    committed = spark.read.schema(out.select(*audited).schema).parquet(output_path)
    write_manifest(committed.filter(F.col(UNIT_COL).isin(committed_units)), manifest_path,
                   run_id, key_col=key_col, kept_col=kept_col)
    return len(committed_units)
