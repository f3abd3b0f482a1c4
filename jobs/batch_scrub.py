"""Production batch job: the full corpus-safety pipeline with resume.

Run on a cluster (BASELINE.json north_rule):

    python scripts/package.py   # builds dist/safe_zone_spark.zip
    spark-submit --master <cluster> \\
        --py-files dist/safe_zone_spark.zip \\
        jobs/batch_scrub.py \\
        --input  s3://bucket/crawl/warc_docs \\
        --output s3://bucket/clean/kept_docs \\
        --manifest s3://bucket/clean/manifests \\
        --run-id 2026-08-16 --units 4096

Pipeline: read (url, warc_ts, html) → pick the pending work units (the
unit ids the manifest does not hold for the run id) → the flagship plan
(plans/flagship.py) → commit ``final_keep``, ``lang_pred``, ``ppl`` and the
scrub partitioned by work unit → append lineage manifests. The
commit rebalances rows by unit: before the crossing when the input has
fewer than two splits per core (that shuffle then also spreads the
crossing over the cores), after the transform otherwise (see
plans/pipeline.py). Re-running the same command after a failure resumes:
the units the manifest holds for the run id are left out before any html
is read, and with none left the job reads only the manifest.

Units committed before the job wrote ``lang_pred`` and ``ppl`` lack both
columns, and a resumed run writes its units with them: read such an
output with ``mergeSchema`` (the old units' rows read both as null).
"""

from __future__ import annotations

import argparse


def transform(df, rules):
    """The job's commit columns: the flagship plan over the pending rows
    (``unit``, ``url``, ``warc_ts`` and ``html``), with ``warc_date``."""
    from pyspark.sql import functions as F

    from safe_zone_spark.plans.flagship import flagship

    return flagship(
        df, rules, keep_cols=("unit", "url", "warc_ts"),
        fields=("scrubbed_text", "overall_confidence", "breakdown"),
    ).select(
        "unit", "url", "warc_ts", F.to_date("warc_ts").alias("warc_date"), "final_keep",
        "lang_pred", "ppl", "scrubbed_text", "overall_confidence", "breakdown",
    )


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--manifest", required=True)
    p.add_argument("--run-id", required=True)
    p.add_argument("--units", type=int, default=256)
    p.add_argument("--max-units", type=int, default=None,
                   help="cap units processed this invocation (ops throttle)")
    p.add_argument("--blocklist", default="", help="comma-separated blocked terms")
    args = p.parse_args()

    from safe_zone_spark.session import session_builder

    spark = session_builder(f"safe-zone-scrub-{args.run_id}").getOrCreate()

    from safe_zone_spark.plans.pipeline import run_with_manifest
    from safe_zone_spark.rules import default_rules

    rules = default_rules(
        blocklist=frozenset(t for t in args.blocklist.split(",") if t)
    )

    raw = spark.read.schema("url string, warc_ts timestamp, html binary").parquet(args.input)
    n = run_with_manifest(
        raw,
        lambda df: transform(df, rules),
        output_path=args.output,
        manifest_path=args.manifest,
        run_id=args.run_id,
        num_units=args.units,
        max_units=args.max_units,
        kept_col="final_keep",
    )
    print(f"processed_units={n}")
    spark.stop()


if __name__ == "__main__":
    main()
