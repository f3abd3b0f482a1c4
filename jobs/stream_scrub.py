"""Production streaming job: continuous corpus-safety pipeline.

Run on a cluster (BASELINE.json north_rule):

    python scripts/package.py   # builds dist/safe_zone_spark.zip
    spark-submit --master <cluster> \\
        --py-files dist/safe_zone_spark.zip \\
        jobs/stream_scrub.py \\
        --source s3://bucket/crawl/arriving \\
        --output s3://bucket/clean/stream \\
        --run-id live --max-files-per-trigger 64 \\
        [--kept-table lake.db.kept_docs] [--continuous]

Pipeline per micro-batch: readStream over arriving WARC-derived parquet →
the flagship plan (plans/flagship.py) → exactly-once sinks (kept docs
with ``lang_pred`` and ``ppl``, security events, lineage manifests — see
streaming/pipeline.py's
commit-marker idempotence). Default is one availableNow drain (cron-
friendly: each invocation processes exactly the files that arrived since
the last checkpoint, then exits); ``--continuous`` keeps the query
running. ``--kept-table`` routes kept docs to an Iceberg table with
hidden days(warc_ts) partitioning when the runtime has the catalog jars
(sinks/iceberg.py documents the spark-submit config).
"""

from __future__ import annotations

import argparse


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--source", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--run-id", required=True)
    p.add_argument("--blocklist", default="", help="comma-separated blocked terms")
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument("--kept-table", default=None,
                   help="Iceberg identifier for kept docs (catalog-gated)")
    p.add_argument("--continuous", action="store_true",
                   help="keep streaming instead of one availableNow drain")
    args = p.parse_args()

    from safe_zone_spark.session import session_builder

    spark = session_builder(f"safe-zone-stream-{args.run_id}").getOrCreate()

    from safe_zone_spark.plans.pipeline import read_manifest
    from safe_zone_spark.rules import default_rules
    from safe_zone_spark.sources.corpus import corpus_schema
    from safe_zone_spark.streaming.pipeline import STREAM_MANIFEST_SCHEMA, run_pipeline

    rules = default_rules(
        blocklist=frozenset(t for t in args.blocklist.split(",") if t)
    )
    q = run_pipeline(
        spark,
        args.source,
        args.output,
        schema=corpus_schema(),
        rules=rules,
        run_id=args.run_id,
        max_files_per_trigger=args.max_files_per_trigger,
        available_now=not args.continuous,
        kept_table=args.kept_table,
    )
    if args.continuous:
        q.awaitTermination()
    else:
        import json

        manifests = read_manifest(spark, f"{args.output}/manifests", STREAM_MANIFEST_SCHEMA)
        n_batches = 0 if manifests is None else manifests.count()
        print(json.dumps({"drained": True, "total_manifest_rows": n_batches}))
    spark.stop()


if __name__ == "__main__":
    main()
