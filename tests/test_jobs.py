"""spark-submit smokes of the two production jobs: each runs from the
``--py-files`` zip that ``scripts/package.py`` builds, in a working
directory outside the checkout, as on a cluster. Plus the batch job's
output resumed across a change of its columns, in process."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

import pyspark.sql.functions as F
import pytest
from pyspark.find_spark_home import _find_spark_home

from safe_zone_spark.sources.corpus import generate_corpus

ROOT = Path(__file__).resolve().parents[1]


@pytest.fixture(scope="module")
def py_files(tmp_path_factory) -> str:
    spec = importlib.util.spec_from_file_location("package", ROOT / "scripts" / "package.py")
    package = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(package)
    return package.build(str(tmp_path_factory.mktemp("dist")))


def _submit(py_files: str, job: str, *args: str, cwd: Path) -> str:
    """Run ``jobs/<job>`` under spark-submit on local[2]; its stdout."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable)
    got = subprocess.run(
        [os.path.join(_find_spark_home(), "bin", "spark-submit"), "--master", "local[2]",
         "--conf", "spark.ui.enabled=false", "--py-files", py_files,
         str(ROOT / "jobs" / job), *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert got.returncode == 0, got.stderr[-4000:]
    return got.stdout


def test_batch_job_commits_then_resumes(spark, py_files, tmp_path):
    src = str(tmp_path / "corpus")
    generate_corpus(spark, 400, seed=17).write.parquet(src)
    args = ["--input", src, "--output", str(tmp_path / "out"),
            "--manifest", str(tmp_path / "manifest"), "--run-id", "smoke", "--units", "4"]
    assert "processed_units=4" in _submit(py_files, "batch_scrub.py", *args, cwd=tmp_path)
    assert "processed_units=0" in _submit(py_files, "batch_scrub.py", *args, cwd=tmp_path)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 400
    assert {"final_keep", "lang_pred", "ppl"} <= set(out.columns)


def test_batch_output_resumes_across_the_added_columns(spark, tmp_path):
    """A run committed by a job that did not yet write ``lang_pred`` and
    ``ppl`` resumes under the current transform: the manifest covers every
    unit once, and a ``mergeSchema`` read gives the new units both columns
    and the old units nulls."""
    from safe_zone_spark.plans.pipeline import run_with_manifest
    from safe_zone_spark.rules import default_rules

    spec = importlib.util.spec_from_file_location("batch_scrub", ROOT / "jobs" / "batch_scrub.py")
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    rules = default_rules()
    corpus = generate_corpus(spark, 160, seed=23).select("url", "warc_ts", "html")
    kw = dict(output_path=str(tmp_path / "out"), manifest_path=str(tmp_path / "manifest"),
              run_id="upgrade", num_units=4, kept_col="final_keep")
    old = lambda df: job.transform(df, rules).drop("lang_pred", "ppl")  # noqa: E731
    assert run_with_manifest(corpus, old, max_units=2, **kw) == 2
    assert run_with_manifest(corpus, lambda df: job.transform(df, rules), **kw) == 2
    assert run_with_manifest(corpus, lambda df: job.transform(df, rules), **kw) == 0

    out = spark.read.option("mergeSchema", "true").parquet(kw["output_path"])
    assert {"lang_pred", "ppl"} <= set(out.columns) and out.count() == 160
    per_unit = {r.unit: (r.n, r.langs) for r in out.groupBy("unit").agg(
        F.count(F.lit(1)).alias("n"), F.count("lang_pred").alias("langs")).collect()}
    assert sorted(per_unit) == [0, 1, 2, 3]
    assert [per_unit[u][1] for u in (0, 1)] == [0, 0]
    assert [per_unit[u][1] for u in (2, 3)] == [per_unit[u][0] for u in (2, 3)]
    assert spark.read.parquet(kw["manifest_path"]).count() == 4


def test_stream_job_drains_two_files(spark, py_files, tmp_path):
    src = str(tmp_path / "arriving")
    corpus = generate_corpus(spark, 200, seed=19)
    first = F.pmod(F.xxhash64("url"), F.lit(2)) == 0
    corpus.filter(first).coalesce(1).write.parquet(src)
    corpus.filter(~first).coalesce(1).write.mode("append").parquet(src)
    stdout = _submit(py_files, "stream_scrub.py", "--source", src,
                     "--output", str(tmp_path / "out"), "--run-id", "smoke",
                     "--max-files-per-trigger", "1", cwd=tmp_path)
    assert json.loads(stdout.strip().splitlines()[-1]) == {
        "drained": True, "total_manifest_rows": 2}
