"""One-command Iceberg smoke for a jar-equipped box (VERDICT r2 item 8).

This sandbox ships no iceberg-spark-runtime jar and has no network, so the
sink layer (safe_zone_spark/sinks/iceberg.py) has never run against a real
catalog here — tests/test_sinks_iceberg.py::test_iceberg_hidden_partition_
roundtrip is skip-marked and points at this script. On any machine with
the runtime available, run:

    spark-submit \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.8.1 \
      scripts/iceberg_smoke.py [warehouse_dir]

(or plain `python scripts/iceberg_smoke.py` if the jar is already on the
classpath). It drives the full sink surface in order and asserts each
read-back:

  1. configure_local_catalog → hadoop catalog over a local warehouse
  2. write_days_partitioned  → CREATE with hidden days(warc_ts) partitions
  3. append_or_create        → second write appends, no re-create
  4. delete_batch_rows       → row-level DELETE by (run_id, batch_id),
                               then idempotent re-append
  5. merge_rules_iceberg     → MERGE INTO upsert-by-name (template import)

Exit 0 + one PASS line per step means the Iceberg path is production-ready
exactly as written; a non-jar box fails fast at step 0 with instructions.
"""

from __future__ import annotations

import sys
import tempfile
from datetime import datetime, timedelta, timezone
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    warehouse = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(
        prefix="iceberg_smoke_wh_"
    )
    from pyspark.sql import functions as F

    from safe_zone_spark.sinks.iceberg import (
        append_or_create,
        configure_local_catalog,
        delete_batch_rows,
        iceberg_available,
        merge_rules_iceberg,
        write_days_partitioned,
    )
    from safe_zone_spark.session import session_builder

    builder = session_builder("iceberg-smoke", cores=4)
    spark = configure_local_catalog(builder, warehouse=warehouse).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    if not iceberg_available(spark, catalog="lake"):
        print(
            "FAIL step 0: iceberg-spark-runtime not on the classpath.\n"
            "Run via: spark-submit --packages "
            "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.8.1 "
            "scripts/iceberg_smoke.py"
        )
        return 2
    print("PASS step 0: SparkCatalog class + lake catalog configured")

    t0 = datetime(2025, 6, 1, tzinfo=timezone.utc)
    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("https://h"), (F.col("id") % 7).cast("string"),
                 F.lit(".example/p/"), F.col("id").cast("string")).alias("url"),
        (F.lit(t0.isoformat()).cast("timestamp")
         + F.make_interval(days=(F.col("id") % 9).cast("int"))).alias("warc_ts"),
        F.lit("run-a").alias("run_id"),
        (F.col("id") % 4).cast("int").alias("batch_id"),
    )
    table = "lake.db.smoke_docs"

    assert write_days_partitioned(docs, table) == "iceberg"
    assert spark.table(table).count() == 100
    # hidden partitioning: the partitions metadata table must show day keys
    parts = spark.sql(f"SELECT * FROM {table}.partitions").collect()
    assert len(parts) == 9, f"expected 9 day partitions, got {len(parts)}"
    # partition pruning on the RAW timestamp column (the hidden-partition win)
    one_day = spark.table(table).filter(
        F.col("warc_ts") < F.lit((t0 + timedelta(days=1)).isoformat()).cast("timestamp")
    )
    assert one_day.count() == spark.table(table).filter(F.col("doc_id") % 9 == 0).count()
    print("PASS step 1: create with days(warc_ts), 9 hidden day partitions")

    append_or_create(docs.withColumn("run_id", F.lit("run-b")), table)
    assert spark.table(table).count() == 200
    print("PASS step 2: append_or_create appends to the existing table")

    delete_batch_rows(spark, table, "run-b", 2)
    after_del = spark.table(table).count()
    assert after_del == 200 - 25, after_del
    # idempotent replay: delete-then-append restores exactly the batch rows
    replay = docs.withColumn("run_id", F.lit("run-b")).filter(F.col("batch_id") == 2)
    delete_batch_rows(spark, table, "run-b", 2)
    append_or_create(replay, table)
    assert spark.table(table).count() == 200
    print("PASS step 3: delete_batch_rows + replay is exactly-once")

    rules_t = "lake.db.smoke_rules"
    spark.createDataFrame(
        [("EMAIL", "old-re", "PII", True), ("TCKN", "tckn-re", "PII", True)],
        "name string, regex string, category string, is_active boolean",
    ).writeTo(rules_t).create()
    merge_rules_iceberg(
        spark,
        rules_t,
        spark.createDataFrame(
            [("EMAIL", "new-re", "PII", True), ("MAC", "mac-re", "PII", True)],
            "name string, regex string, category string, is_active boolean",
        ),
    )
    rows = {r["name"]: r["regex"] for r in spark.table(rules_t).collect()}
    assert rows == {"EMAIL": "new-re", "TCKN": "tckn-re", "MAC": "mac-re"}
    print("PASS step 4: MERGE INTO upsert-by-name (update + insert + keep)")

    print(f"ALL PASS (warehouse: {warehouse})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
