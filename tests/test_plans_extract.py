"""Extraction invariant + manifest/resume semantics (BASELINE north_rule)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from safe_zone_spark.plans.pipeline import (
    assign_units,
    ensure_parallelism,
    read_manifest,
    run_with_manifest,
    write_manifest,
)
from safe_zone_spark.sources.corpus import generate_corpus
from safe_zone_spark.sources.extract import extract_text


@pytest.fixture(scope="module")
def corpus(spark):
    df = generate_corpus(spark, 300, seed=42)
    df.persist().count()
    return df


def test_extract_text_byte_identical_per_url(spark, corpus):
    """html → text must invert the wrapper byte-for-byte (BASELINE invariant)."""
    raw = corpus.select("url", "html", F.col("text").alias("expected"))
    out = extract_text(raw, html_col="html", out_col="text")
    bad = out.filter(F.col("text") != F.col("expected")).count()
    assert bad == 0
    assert out.count() == 300


def test_assign_units_deterministic_across_partitionings(spark, corpus):
    a = assign_units(corpus.repartition(2), 16).select("url", "unit")
    b = assign_units(corpus.repartition(7), 16).select("url", "unit")
    assert a.join(b, "url").filter(a["unit"] != b["unit"]).count() == 0


def _keep_nonempty(df):
    return df.withColumn("keep", F.length("text") > 0)


def _assert_one_committed_run(spark, corpus, out_path, man_path):
    """The output holds every input url once, and the manifest one row per
    unit whose fingerprint and count match a recomputation from the input."""
    final = spark.read.parquet(out_path)
    assert final.count() == 300
    assert final.select("url").distinct().count() == 300

    man = spark.read.parquet(man_path)
    assert man.count() == 8
    assert man.select("unit").distinct().count() == 8
    recomputed = (
        assign_units(corpus, 8)
        .groupBy("unit")
        .agg(F.bit_xor(F.xxhash64("url")).alias("fp"), F.count(F.lit(1)).alias("n"))
    )
    joined = man.join(recomputed, "unit")
    assert joined.count() == 8
    assert joined.filter(
        (F.col("input_fingerprint") != F.col("fp")) | (F.col("n_docs") != F.col("n"))
    ).count() == 0


def test_resume_skips_completed_and_completes(spark, corpus, tmp_path):
    out_path = str(tmp_path / "out")
    man_path = str(tmp_path / "manifest")
    kw = dict(output_path=out_path, manifest_path=man_path, run_id="r1", num_units=8)

    # simulate a crash after 3 of 8 units
    assert run_with_manifest(corpus, _keep_nonempty, max_units=3, **kw) == 3
    # resume: the rest
    assert run_with_manifest(corpus, _keep_nonempty, **kw) == 5
    # idempotent: nothing left
    assert run_with_manifest(corpus, _keep_nonempty, **kw) == 0

    # resumed output == one-shot output (same rows, no dupes), and the
    # manifest lineage covers the two invocations with one row per unit
    _assert_one_committed_run(spark, corpus, out_path, man_path)


def test_crash_between_commit_and_manifest_recommits_the_units(
        spark, corpus, tmp_path, monkeypatch):
    """A crash after the output commit but before the manifest append leaves
    those units pending: the next call overwrites their output partitions
    and appends their manifest rows once."""
    from safe_zone_spark.plans import pipeline

    out_path = str(tmp_path / "out")
    man_path = str(tmp_path / "manifest")
    kw = dict(output_path=out_path, manifest_path=man_path, run_id="r1", num_units=8)
    assert run_with_manifest(corpus, _keep_nonempty, max_units=3, **kw) == 3

    real = pipeline.write_manifest
    calls = []

    def crash_once(*args, **kwargs):
        calls.append(args)
        if len(calls) == 1:
            raise RuntimeError("crash after the output commit")
        return real(*args, **kwargs)

    monkeypatch.setattr(pipeline, "write_manifest", crash_once)
    with pytest.raises(RuntimeError, match="crash after the output commit"):
        run_with_manifest(corpus, _keep_nonempty, **kw)
    # the crashed call committed every row of the five units
    assert spark.read.parquet(out_path).count() == 300
    assert spark.read.parquet(man_path).count() == 3

    assert run_with_manifest(corpus, _keep_nonempty, **kw) == 5
    assert run_with_manifest(corpus, _keep_nonempty, **kw) == 0
    assert len(calls) == 2
    _assert_one_committed_run(spark, corpus, out_path, man_path)


def _data_files_per_dir(root, prefix):
    """{partition dir name: data file count} for the ``prefix=`` dirs under
    ``root`` (Spark's ``_SUCCESS`` and ``.crc`` files are not data)."""
    import os

    return {
        d: sum(not f.startswith(("_", ".")) for f in os.listdir(os.path.join(root, d)))
        for d in os.listdir(root) if d.startswith(f"{prefix}=")
    }


@pytest.fixture()
def multi_split_corpus(spark, corpus, tmp_path):
    """The corpus read back from 8 files, so the transform runs as >= 4
    tasks that each hold rows of every unit."""
    path = str(tmp_path / "src")
    corpus.repartition(8).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() >= 4
    return df


def _keep_all(df):
    return df.withColumn("keep", F.lit(True))


def test_commit_writes_one_file_per_unit(spark, multi_split_corpus, tmp_path):
    """The commit rebalances rows by unit: each unit dir holds one file,
    not one per transform task."""
    out_path = str(tmp_path / "out")
    n = run_with_manifest(
        multi_split_corpus, _keep_all, output_path=out_path,
        manifest_path=str(tmp_path / "manifest"), run_id="r1", num_units=8,
    )
    assert n == 8
    assert _data_files_per_dir(out_path, "unit") == {f"unit={k}": 1 for k in range(8)}
    assert spark.read.parquet(out_path).count() == 300


def test_commit_splits_units_past_the_advisory_size(spark, multi_split_corpus, tmp_path):
    """Files per unit are bounded by size: under a small advisory partition
    size a unit is written as several files, and no row is lost or doubled."""
    out_path = str(tmp_path / "out")
    man_path = str(tmp_path / "manifest")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k")
    try:
        n = run_with_manifest(
            multi_split_corpus, _keep_all, output_path=out_path,
            manifest_path=man_path, run_id="r1", num_units=8,
        )
    finally:
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    assert n == 8
    assert max(_data_files_per_dir(out_path, "unit").values()) > 1
    final = spark.read.parquet(out_path)
    assert final.count() == 300
    assert final.select("url").distinct().count() == 300
    man = spark.read.parquet(man_path)
    assert man.count() == 8
    assert man.agg(F.sum("n_docs")).head()[0] == 300


def test_ensure_parallelism_shuffles_only_when_needed(spark, corpus, tmp_path):
    wide = corpus.repartition(8)
    # enough partitions → returned as-is, no extra shuffle stage
    assert ensure_parallelism(wide, 4) is wide
    narrow = corpus.coalesce(1)
    out = ensure_parallelism(narrow, 6)
    assert out.rdd.getNumPartitions() == 6
    assert out.count() == corpus.count()

    # the decision follows Spark's split settings: 16 small files pack into
    # fewer than 8 splits at local[4], but minPartitionNum=8 yields 8
    path = str(tmp_path / "files16")
    spark.range(1600).selectExpr("cast(id as string) as url").repartition(16) \
        .write.parquet(path)
    files = spark.read.parquet(path)
    assert ensure_parallelism(files, 8) is not files
    spark.conf.set("spark.sql.files.minPartitionNum", "8")
    try:
        files = spark.read.parquet(path)
        assert ensure_parallelism(files, 8) is files
    finally:
        spark.conf.unset("spark.sql.files.minPartitionNum")


def test_resume_without_manifest_rows_runs_every_unit(spark, corpus, tmp_path):
    # a crash in the first manifest append leaves a directory with no data
    (tmp_path / "empty").mkdir()
    for name in ("nope", "empty"):
        out_path = str(tmp_path / f"out_{name}")
        assert run_with_manifest(
            corpus, _keep_all, output_path=out_path,
            manifest_path=str(tmp_path / name), run_id="r9", num_units=4,
        ) == 4
        assert spark.read.parquet(out_path).count() == corpus.count()


def test_warm_manifest_appends_compile_no_classes(spark, corpus, tmp_path):
    """Appends after the first reuse their generated code: ``committed_at``
    (each append's own wall time) is data, not a literal in the code. The
    written manifest has the schema ``read_manifest`` reads it with, so the
    read runs no Spark job."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    units = assign_units(corpus.withColumn("keep", F.lit(True)), 8)
    man_path = str(tmp_path / "manifest")
    write_manifest(units, man_path, "r1")
    compiled = codegen.METRIC_COMPILATION_TIME().getCount()
    write_manifest(units, man_path, "r1")
    write_manifest(units, man_path, "r1")
    assert codegen.METRIC_COMPILATION_TIME().getCount() == compiled

    tracker = spark.sparkContext.statusTracker()
    last_job = max(tracker.getJobIdsForGroup(None), default=-1)
    man = read_manifest(spark, man_path)
    assert max(tracker.getJobIdsForGroup(None), default=-1) == last_job
    inferred = spark.read.parquet(man_path).schema
    assert [(f.name, f.dataType) for f in man.schema] == [(f.name, f.dataType) for f in inferred]
    assert man.count() == 24
    assert man.select("committed_at").distinct().count() == 3


def test_manifest_footer_check_entry_points_exist(spark):
    """``read_manifest``'s footer check calls two JVM internals (Spark 4.1,
    Scala 2.13); a Spark or Scala upgrade that removes one fails here by
    name, not deep inside every resume."""
    from py4j.protocol import Py4JJavaError

    for cls, method in [
        ("org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat$",
         "readParquetFootersInParallel"),
        ("scala.jdk.javaapi.CollectionConverters", "asScala"),
    ]:
        try:
            names = {m.getName() for m in spark._jvm.java.lang.Class.forName(cls).getMethods()}
        except Py4JJavaError:
            pytest.fail(f"{cls} is gone; read_manifest's footer check needs it")
        assert method in names, f"{cls}.{method} is gone; read_manifest's footer check needs it"


def test_resume_raises_on_unreadable_manifest(spark, corpus, tmp_path):
    """A manifest that exists but cannot be read must not pass for "nothing
    completed": that would re-run every unit and duplicate manifest rows."""
    manifest = tmp_path / "m"
    manifest.mkdir()
    (manifest / "part-00000.parquet").write_bytes(b"PAR1 not a parquet footer")
    with pytest.raises(Exception, match="CANNOT_READ_FILE_FOOTER"):
        run_with_manifest(
            corpus, _keep_all, output_path=str(tmp_path / "out"),
            manifest_path=str(manifest), run_id="r9", num_units=4,
        )
    assert not (tmp_path / "out").exists()


def test_rule_tables_roundtrip_and_hot_reload(spark, tmp_path):
    """S1/S2 config-as-data: write seed rule tables, load, detect; edit the
    blocklist table alone (admin write analog) and a re-read picks it up."""
    from safe_zone_spark.operators.scan import scan
    from safe_zone_spark.rules import SEED_PATTERNS
    from safe_zone_spark.sources.rule_tables import (
        load_rules,
        seed_rule_tables,
        write_rule_tables,
    )

    base = str(tmp_path / "rules")
    rules = seed_rule_tables(
        spark, base, allowlist=frozenset({"ok@example.com"}),
        blocklist=frozenset({"OLDWORD"}),
    )
    assert tuple(p.name for p in rules.patterns) == tuple(p.name for p in SEED_PATTERNS)
    assert rules.allowlist == frozenset({"ok@example.com"})

    df = spark.createDataFrame(
        [("a@b.com and OLDWORD",), ("ok@example.com only",)], "text string"
    )
    out = {r["text"]: r for r in scan(df, rules).collect()}
    assert out["a@b.com and OLDWORD"].breakdown == {"EMAIL": 1, "BLOCKLIST": 1}
    assert not out["ok@example.com only"].contains_pii  # allowlisted

    # admin edit: new blocklist word; rules re-read at next batch boundary
    import dataclasses

    write_rule_tables(spark, dataclasses.replace(rules, blocklist=frozenset({"NEWWORD"})), base)
    reloaded = load_rules(spark, base)
    assert reloaded.blocklist == frozenset({"NEWWORD"})
    out2 = scan(spark.createDataFrame([("has NEWWORD now",)], "text string"), reloaded).collect()[0]
    assert out2.breakdown == {"BLOCKLIST": 1}


def test_rule_table_order_survives_multifile_write(spark, tmp_path):
    """Pattern table order is load-bearing (same-span tie-breaks); the
    ordinal column must restore it even when parquet lands in many files."""
    from safe_zone_spark.rules import SEED_PATTERNS, RuleSet
    from safe_zone_spark.sources.rule_tables import PATTERNS_SCHEMA, load_rules, write_rule_tables

    base = str(tmp_path / "r")
    write_rule_tables(spark, RuleSet(), base)
    # rewrite the patterns table scattered across many files in random order
    rows = [(i, p.name, p.regex, p.category, p.is_active,
             p.block_threshold, p.allow_threshold)
            for i, p in enumerate(SEED_PATTERNS)]
    import random

    random.Random(1).shuffle(rows)
    spark.createDataFrame(rows, PATTERNS_SCHEMA).repartition(7).write.mode(
        "overwrite"
    ).parquet(f"{base}/patterns")
    loaded = load_rules(spark, base)
    assert tuple(p.name for p in loaded.patterns) == tuple(p.name for p in SEED_PATTERNS)


def test_import_template_upserts_by_name(spark, tmp_path):
    """templates.go:17-74 semantics: existing names update in place keeping
    their ordinal (tie-break stability), new names append; validators merge
    the same way; the returned RuleSet is the hot-reloaded state."""
    from safe_zone_spark.rules import SEED_PATTERNS, Pattern, Validator
    from safe_zone_spark.sources.rule_tables import import_template, seed_rule_tables

    base = str(tmp_path / "rules")
    seed_rule_tables(spark, base)

    new = import_template(
        spark,
        base,
        patterns=(
            # update: deactivate VKN, change its category
            Pattern("VKN", r"\b\d{10}\b", "SECRET", False),
            # insert: brand-new pattern appends at the end
            Pattern("INTERNAL_ID", r"\bID-[0-9]{6}\b", "PII", True),
        ),
        validators=(
            Validator("NUMERIC", "REGEX", r"^[0-9 ]+$"),  # update rule
            Validator("HEX", "REGEX", r"^[0-9a-f]+$"),    # insert
        ),
    )

    by_name = {p.name: p for p in new.patterns}
    assert by_name["VKN"].category == "SECRET" and not by_name["VKN"].is_active
    assert by_name["INTERNAL_ID"].regex == r"\bID-[0-9]{6}\b"
    # updated pattern kept its ordinal slot; the insert went last
    names = [p.name for p in new.patterns]
    assert names.index("VKN") == [p.name for p in SEED_PATTERNS].index("VKN")
    assert names[-1] == "INTERNAL_ID"
    assert len(new.patterns) == len(SEED_PATTERNS) + 1

    v_by_name = {v.name: v for v in new.validators}
    assert v_by_name["NUMERIC"].rule == r"^[0-9 ]+$"
    assert v_by_name["HEX"].type == "REGEX"

    # idempotent: importing the same template again changes nothing
    again = import_template(
        spark, base,
        patterns=(Pattern("VKN", r"\b\d{10}\b", "SECRET", False),
                  Pattern("INTERNAL_ID", r"\bID-[0-9]{6}\b", "PII", True)),
    )
    assert [p.name for p in again.patterns] == names
    assert len(again.patterns) == len(SEED_PATTERNS) + 1


def test_rule_crud_delete_and_list_items(spark, tmp_path):
    """Delete-by-name + list-item append complete the management CRUD
    (pattern.go:52, allowlist.go:12/52); survivor ordinals keep tie-break
    stability and deletes actually change scan behavior."""
    from safe_zone_spark.rules import SEED_PATTERNS
    from safe_zone_spark.sources.rule_tables import (
        add_list_items,
        delete_rules,
        seed_rule_tables,
    )

    base = str(tmp_path / "rules")
    seed_rule_tables(spark, base)

    add_list_items(spark, base, "blocklist", ["PROJECT-X", "OMEGA"])
    add_list_items(spark, base, "blocklist", ["OMEGA"])  # idempotent
    add_list_items(spark, base, "allowlist", ["ok@example.com"])

    new = delete_rules(
        spark, base,
        patterns=("VKN", "MERSIS"),
        validators=("NO_SPACES",),
        blocklist=("OMEGA",),
    )
    names = [p.name for p in new.patterns]
    assert "VKN" not in names and "MERSIS" not in names
    assert len(names) == len(SEED_PATTERNS) - 2
    # survivors keep their original ordinal ORDER
    orig = [p.name for p in SEED_PATTERNS if p.name not in ("VKN", "MERSIS")]
    assert names == orig
    assert new.validator_by_name("NO_SPACES") is None
    assert new.blocklist == frozenset({"PROJECT-X"})
    assert new.allowlist == frozenset({"ok@example.com"})


def test_pattern_threshold_policy_roundtrip(spark, tmp_path):
    """Admin per-pattern threshold policy (admin.go:38-92 semantics):
    update stores overrides and hot-reloads, an omitted field CLEARS to
    NULL (the reference overwrites both from the request), unknown pattern
    is a 404, template upsert keeps policy, the report shows effective
    (override-else-default) thresholds — and Detect keeps ignoring the
    overrides (guardrails.go:286-291 parity)."""
    from safe_zone_spark.oracle import detect
    from safe_zone_spark.rules import Pattern
    from safe_zone_spark.sources.rule_tables import (
        import_template,
        load_rules,
        pattern_policy_report,
        seed_rule_tables,
        update_pattern_policy,
    )

    base = str(tmp_path / "rules")
    rules = seed_rule_tables(spark, base)
    assert all(p.block_threshold is None for p in rules.patterns)
    before = detect("mail me at a@b.example today", rules)

    upd = update_pattern_policy(spark, base, "EMAIL",
                                block_threshold=0.95, allow_threshold=0.2)
    assert (upd.block_threshold, upd.allow_threshold) == (0.95, 0.2)
    reloaded = load_rules(spark, base)
    by_name = {p.name: p for p in reloaded.patterns}
    assert by_name["EMAIL"].block_threshold == 0.95
    assert by_name["TCKN"].block_threshold is None
    # ordinals untouched -> same-span tie-breaks stay stable
    assert [p.name for p in reloaded.patterns] == [p.name for p in rules.patterns]

    rep = {r["name"]: r for r in pattern_policy_report(reloaded)}
    assert rep["EMAIL"]["block_threshold"] == 0.95 and rep["EMAIL"]["overridden"]
    assert rep["TCKN"]["block_threshold"] == reloaded.block_threshold
    assert not rep["TCKN"]["overridden"]

    # omitted field clears (reference overwrites both pointers)
    upd2 = update_pattern_policy(spark, base, "EMAIL", block_threshold=0.9)
    assert upd2.block_threshold == 0.9 and upd2.allow_threshold is None

    with pytest.raises(KeyError):
        update_pattern_policy(spark, base, "NO_SUCH_PATTERN", block_threshold=0.5)

    # template upsert updates detection fields, keeps the stored policy
    import_template(spark, base, patterns=(
        Pattern("EMAIL", r"(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "PII", True),
    ))
    after_rules = load_rules(spark, base)
    assert {p.name: p for p in after_rules.patterns}["EMAIL"].block_threshold == 0.9

    # Detect parity: stored thresholds do NOT change detection output
    after = detect("mail me at a@b.example today", after_rules)
    assert after == before
