"""Iceberg sink path — the north star's table format (BASELINE.json
input_hint: "Iceberg table of Common-Crawl-style web pages", north_star:
"Iceberg hidden partitioning on warc_ts").

Everything here is catalog-gated: this sandbox ships no
iceberg-spark-runtime jar and has no network to fetch one, so
``iceberg_available`` decides at runtime and every caller falls back to
the parquet layout (``warc_date`` physical partitions — the visible twin
of ``days(warc_ts)`` hidden partitioning). On a real cluster, enable with:

    spark-submit \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
      --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.lake.type=hadoop \
      --conf spark.sql.catalog.lake.warehouse=s3://bucket/warehouse ...

(or ``configure_local_catalog`` for a hadoop-catalog smoke test), then
pass ``lake.db.kept_docs``-style identifiers to the writers.

Why Iceberg at 100 TB: hidden partitioning (``days(warc_ts)``) prunes
time-range scans with no user-visible partition column; snapshot commits
make each micro-batch/unit write atomic (the manifest-marker idempotence
in streaming/pipeline.py collapses to one transactional commit);
MERGE INTO gives the template-import upsert a single-statement form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession, catalog: str | None = None) -> bool:
    """True iff the Iceberg runtime class is on the JVM classpath and (when
    ``catalog`` is given) that catalog name is configured."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
    except Exception:
        return False
    if catalog is not None:
        return spark.conf.get(f"spark.sql.catalog.{catalog}", None) is not None
    return True


def configure_local_catalog(builder, name: str = "lake", warehouse: str = "/tmp/iceberg_wh"):
    """SparkSession.Builder config for a local hadoop catalog (smoke tests
    on a box that HAS the runtime jar)."""
    return (
        builder.config(
            f"spark.sql.catalog.{name}", "org.apache.iceberg.spark.SparkCatalog"
        )
        .config(f"spark.sql.catalog.{name}.type", "hadoop")
        .config(f"spark.sql.catalog.{name}.warehouse", warehouse)
    )


def write_days_partitioned(
    df: DataFrame,
    table: str,
    *,
    ts_col: str = "warc_ts",
    parquet_fallback_dir: str | None = None,
) -> str:
    """Append ``df`` to an Iceberg table hidden-partitioned by
    ``days(ts_col)``, creating it on first write. Returns which path ran:
    'iceberg' or 'parquet'.

    Without the runtime (this sandbox), writes the parquet fallback layout:
    physical ``warc_date=...`` partitions under ``parquet_fallback_dir`` —
    the same pruning behavior, minus hidden-partition ergonomics and
    atomic snapshot commits.
    """
    spark = df.sparkSession
    if iceberg_available(spark):
        append_or_create(df, table, ts_col=ts_col)
        return "iceberg"
    if parquet_fallback_dir is None:
        raise RuntimeError(
            "Iceberg runtime not on classpath and no parquet_fallback_dir given"
        )
    from pyspark.sql import functions as F

    (
        df.withColumn("warc_date", F.to_date(ts_col))
        .write.mode("append")
        .partitionBy("warc_date")
        .parquet(parquet_fallback_dir)
    )
    return "parquet"


def add_missing_columns(df: DataFrame, table: str) -> None:
    """Schema evolution before an append: ``ALTER TABLE … ADD COLUMNS`` for
    each column of ``df`` that ``table`` lacks (say, a kept-docs table
    created before the sink wrote ``lang_pred`` and ``ppl``). An append
    with more columns than the table fails; rows already written read the
    added columns as null."""
    spark = df.sparkSession
    have = {c.lower() for c in spark.table(table).columns}
    new = [f for f in df.schema.fields if f.name.lower() not in have]
    if new:
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in new)
        spark.sql(f"ALTER TABLE {table} ADD COLUMNS ({cols})")


def append_or_create(df: DataFrame, table: str, *, ts_col: str = "warc_ts") -> None:
    """Append to an Iceberg table, adding the columns it lacks
    (:func:`add_missing_columns`), or create it (hidden days(ts_col)
    partitioning) on first write. The existence check is EXPLICIT —
    an except-Exception around create() would misread permission/schema/
    catalog errors as 'table exists' and fail later with an unrelated
    append error."""
    from pyspark.sql.functions import days

    if df.sparkSession.catalog.tableExists(table):
        add_missing_columns(df, table)
        df.writeTo(table).append()
        return
    try:
        df.writeTo(table).partitionedBy(days(ts_col)).create()
    except Exception:
        # check-then-act races under concurrent writers: if the table
        # appeared since the check, the create loser appends; any OTHER
        # create failure (permissions, schema, catalog) re-raises intact
        if df.sparkSession.catalog.tableExists(table):
            add_missing_columns(df, table)
            df.writeTo(table).append()
        else:
            raise


def delete_batch_rows(spark: SparkSession, table: str, run_id: str,
                      batch_id: int) -> None:
    """Idempotence for streaming replays into Iceberg: remove the batch's
    own rows (one metadata-level DELETE) before re-appending, the
    row-level analog of the parquet path's dynamic partition overwrite."""
    if spark.catalog.tableExists(table):
        rid = run_id.replace("'", "''")
        spark.sql(
            f"DELETE FROM {table} WHERE run_id = '{rid}' AND batch_id = {int(batch_id)}"
        )


def merge_rules_iceberg(spark: SparkSession, table: str, source: DataFrame,
                        key: str = "name") -> None:
    """Template-import upsert as one MERGE INTO statement — the Iceberg
    form of sources.rule_tables.import_template's collected merge
    (reference: transactional upsert-by-name, handlers/templates.go:17-74).
    """
    source.createOrReplaceTempView("_rule_import_src")
    cols = [c for c in source.columns if c != key]
    sets = ", ".join(f"t.{c} = s.{c}" for c in cols)
    spark.sql(
        f"MERGE INTO {table} t USING _rule_import_src s ON t.{key} = s.{key} "
        f"WHEN MATCHED THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED THEN INSERT *"
    )
