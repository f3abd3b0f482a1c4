"""Physical-plan shape assertions: pushdown, pruning, codegen, resume reads.

These pin the scale-critical plan properties: a regression that silently
drops predicate pushdown or widens a scan would pass row-level tests but
blow up at 100 TB — so the plans themselves are under test.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from safe_zone_spark.crossing import text_udf
from safe_zone_spark.functions.langid import classify_texts
from safe_zone_spark.functions.quality import gopher_quality_columns
from safe_zone_spark.plans.pipeline import run_with_manifest
from safe_zone_spark.sources.corpus import generate_corpus

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_parquet_filter_pushdown_and_column_pruning(spark):
    df = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "text")
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)" in plan
    # scan must read only the two projected columns
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_quality_exprs_stay_in_wholestage_codegen(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = gopher_quality_columns("text")
    df = docs.select("doc_id", *[c.alias(n) for n, c in q.items()])
    plan = plan_of(df)
    # "*(n)" prefix = the operator runs inside WholeStageCodegen stage n
    assert "*(1) Project" in plan
    # no python worker anywhere in the quality stage
    assert "Python" not in plan and "BatchEval" not in plan


def test_filters_pushed_below_scan_not_udf(spark):
    """Cheap relational predicates must reach the file scan even when a
    Python stage follows (Catalyst can't reorder across a UDF barrier, so
    order in code = order in plan — SURVEY §4)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(F.col("n_chars") > 50)
    out = docs.select("doc_id", text_udf(classify_texts, "string")(F.col("text")).alias("lang"))
    plan = plan_of(out)
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,50)" in plan
    # the Arrow UDF is an ArrowEvalPython node, so Catalyst still prunes the
    # scan to the columns the query reads
    assert "ArrowEvalPython" in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string,n_chars:bigint>" in plan


def test_flagship_plan_is_one_narrow_arrow_stage(spark, tmp_path):
    """Over a scan with at least one split per core, the flagship plan
    (``ensure_parallelism(…, 2 × cores)`` → ``plans.flagship``: extract,
    scan, langid and perplexity → quality → keep → noop) runs no shuffle
    and crosses into Python once."""
    from safe_zone_spark.plans.flagship import flagship
    from safe_zone_spark.plans.pipeline import ensure_parallelism
    from safe_zone_spark.rules import default_rules

    path = str(tmp_path / "docs")
    generate_corpus(spark, 200, seed=5).repartition(8).write.parquet(path)
    raw = spark.read.parquet(path).select("url", "warc_ts", "html")
    cores = spark.sparkContext.defaultParallelism
    assert raw.rdd.getNumPartitions() >= cores
    final = flagship(
        ensure_parallelism(raw, 2 * cores), default_rules(), keep_cols=("url",),
        fields=("scrubbed_text", "overall_confidence"),
    ).select("url", "final_keep", "scrubbed_text", "overall_confidence", "lang_pred", "ppl")
    plan = plan_of(final)
    assert "Exchange" not in plan
    assert plan.count("MapInArrow") == 1
    assert "MapInPandas" not in plan and "EvalPython" not in plan
    final.write.format("noop").mode("overwrite").save()


def _sql_executions(spark) -> list:
    """The session's SQL executions as its status store has recorded them,
    once the listener bus has delivered every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    executions = []
    while it.hasNext():
        executions.append(it.next())
    return executions


def test_zero_pending_resume_reads_no_input(spark, tmp_path):
    """A resume with every unit committed returns 0 after reading the
    manifest alone: it neither builds the transform nor scans the input."""
    src = str(tmp_path / "src")
    generate_corpus(spark, 50, seed=3).write.parquet(src)
    kw = dict(output_path=str(tmp_path / "out"), manifest_path=str(tmp_path / "m"),
              run_id="r", num_units=8)
    assert run_with_manifest(
        spark.read.parquet(src), lambda df: df.withColumn("keep", F.lit(True)), **kw
    ) == 8

    def must_not_run(df):
        raise AssertionError("transform called with nothing pending")

    marker = max(e.executionId() for e in _sql_executions(spark))
    assert run_with_manifest(spark.read.parquet(src), must_not_run, **kw) == 0
    plans = [e.physicalPlanDescription() for e in _sql_executions(spark)
             if e.executionId() > marker]
    assert plans
    assert not [p for p in plans if src in p]


def test_partition_pruning_on_date_partitioned_output(spark, tmp_path):
    corpus = generate_corpus(spark, 200, seed=13).withColumn(
        "warc_date", F.to_date("warc_ts")
    )
    out = str(tmp_path / "kept")
    corpus.write.partitionBy("warc_date").parquet(out)
    one_day = spark.read.parquet(out).filter(F.col("warc_date") == "2025-06-10")
    # partition filter prunes directories — it appears as PartitionFilters,
    # and the row-group filters list must NOT contain warc_date
    plan = plan_of(one_day)
    assert "PartitionFilters" in plan
    assert "isnotnull(warc_date" in plan
    got = one_day.count()
    expected = corpus.filter(F.col("warc_date") == "2025-06-10").count()
    assert got == expected > 0


def test_langid_accuracy_on_labeled_corpus(spark):
    corpus = generate_corpus(spark, 500, seed=5)
    pred = corpus.select("lang", text_udf(classify_texts, "string")(F.col("text")).alias("pred"))
    acc = pred.select(F.avg((F.col("lang") == F.col("pred")).cast("double"))).head()[0]
    assert acc >= 0.95


def test_mix_sample_is_narrow_and_jvm_only(spark):
    """Hash sampling must add NO shuffle and NO Python stage — it is a
    pure scan-side filter expression."""
    from safe_zone_spark.operators.sampling import stratified_hash_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang")
    out = stratified_hash_sample(docs, {"en": 0.5}, default_rate=0.1)
    plan = plan_of(out)
    assert "Exchange" not in plan
    assert "EvalPython" not in plan  # no row-at-a-time or Arrow Python


def test_embedding_near_dups_candidate_join_carries_only_ids(spark):
    """The (table, bucket) self-join and pair dedup must NOT shuffle the
    64-double vectors — vectors re-attach after the distinct-pair set."""
    from safe_zone_spark.operators.similarity import embedding_near_dups

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = embedding_near_dups(emb, threshold=0.5)
    plan = plan_of(out)
    # the dedup (HashAggregate over id_a/id_b) appears before the vector
    # re-attach joins; the exchange feeding it mentions no embedding col
    dedup_pos = plan.find("id_a")
    assert dedup_pos != -1
    exchanges = [seg for seg in plan.split("Exchange") if "hashpartitioning" in seg]
    assert any("tbl" in seg and "bucket" in seg and "embedding" not in seg.split("\n")[0]
               for seg in exchanges)


def test_domain_stats_partial_aggregation(spark):
    """The per-host rollup must pre-aggregate map-side (algebraic agg)."""
    import __spark_entry__ as e

    out = e.q_domain_stats(spark, SF)
    plan = plan_of(out)
    assert "partial_count" in plan or "partial_avg" in plan
