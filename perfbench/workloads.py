"""The benchmark's two batch workloads.

Each workload owns its seeded input, the work of one timed pass, the output
checks (never run inside a timed pass) and a fixed driver-side sample of its
own inputs for the per-function timings.

* ``clean_short`` — the flagship pipeline: ``ensure_parallelism`` →
  ``extract_and_scan`` with langid + perplexity fused via ``extra_scorers``
  → ``gopher_quality_columns`` → ``final_keep`` → noop sink, over the
  default corpus (short documents, 35% with one PII value).
* ``commit_pii_long`` — the production job path of ``jobs/batch_scrub.py``:
  ``run_with_manifest`` with the job's transform, writing unit-partitioned
  parquet plus a manifest, over long documents dense in PII; a second call
  with the same run id must process 0 units.
"""

from __future__ import annotations

import os
import shutil
import sys

import pandas as pd
from pyspark.sql import functions as F

from safe_zone_spark.functions.langid import classify_series
from safe_zone_spark.functions.perplexity import DEFAULT_PPL_MAX, perplexity_series
from safe_zone_spark.functions.quality import gopher_quality_columns
from safe_zone_spark.oracle import detect
from safe_zone_spark.operators.scan import detect_batch, extract_and_scan, scan
from safe_zone_spark.plans.pipeline import (
    assign_units,
    ensure_parallelism,
    run_with_manifest,
)
from safe_zone_spark.rules import default_rules
from safe_zone_spark.sources.corpus import (
    extract_text_from_html,
    generate_corpus_distributed,
)

from perfbench.corpus import BLOCKLIST, generate_long_corpus
from perfbench.layers import time_per_doc

DEFAULT_SEED = 42
_SAMPLE_SALT = 1009


class CheckFailed(Exception):
    """An output did not match its expected value."""


def force(df) -> None:
    """Materialize every column without collecting (noop sink)."""
    df.write.format("noop").mode("overwrite").save()


def fingerprint(df) -> str:
    """Order-independent fingerprint of ``(url, final_keep, scrubbed_text)``:
    row count and the xor of per-row hashes (urls are unique)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("url", "final_keep", "scrubbed_text")).alias("x"),
    ).first()
    return f"{row['n']}:{(row['x'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}"


def url_sample(df, modulus: int):
    """The rows whose url hashes to 0 mod ``modulus`` (same rows on any plan)."""
    return df.filter(F.pmod(F.xxhash64("url", F.lit(_SAMPLE_SALT)), F.lit(modulus)) == 0)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Workload:
    name = ""
    n_docs = 0
    num_files = 0
    sample_modulus = 0
    rules = default_rules()
    fields: tuple[str, ...] = ()
    scorers: dict = {}

    def build_inputs(self, spark, seed: int, num_partitions: int):
        raise NotImplementedError

    def run_pass(self, spark, path: str, pass_dir: str) -> None:
        raise NotImplementedError

    def check(self, spark, path: str, seed: int, expected: dict,
              last_pass_dir: str, sample: pd.DataFrame) -> list[str]:
        """Problems found in the last pass's outputs; ``sample`` is
        ``sample_inputs``'s expected values."""
        raise NotImplementedError

    def crossing(self, spark, path: str):
        """The fused ``extract_and_scan`` crossing of one pass, on its own."""
        raise NotImplementedError

    # -- shared ------------------------------------------------------------

    def warm(self, spark, path: str) -> None:
        """Start the Python workers and load their models: the crossing
        alone, on a small input."""
        force(self.crossing(spark, path))

    def ensure_inputs(self, spark, cache_root: str, seed: int, keep: int = 12) -> str:
        """Path of this workload's input for ``seed``: reused only when a
        committed write (``_SUCCESS``) is there, else generated. At most
        ``keep`` inputs per workload stay cached."""
        prefix = f"{self.name}-n{self.n_docs}-s"
        path = os.path.join(cache_root, f"{prefix}{seed}")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            shutil.rmtree(path, ignore_errors=True)
            # one generating task per core, cut into num_files files
            per_file = -(-self.n_docs // self.num_files)
            (self.build_inputs(spark, seed, spark.sparkContext.defaultParallelism)
             .write.option("maxRecordsPerFile", per_file).parquet(path))
        os.utime(path)
        cached = sorted((os.path.join(cache_root, d) for d in os.listdir(cache_root)
                         if d.startswith(prefix)), key=os.path.getmtime)
        for old in cached[:-keep]:
            shutil.rmtree(old, ignore_errors=True)
        return path

    def sample_inputs(self, spark, path: str) -> pd.DataFrame:
        """The fixed url-hash sample of the input, with what the oracle and
        the scorers, called directly, expect for each document."""
        q = gopher_quality_columns("text")
        pdf = (url_sample(spark.read.parquet(path), self.sample_modulus)
               .select("url", "warc_ts", "html", "text",
                       q["quality_keep"].alias("quality_keep"))
               .toPandas().sort_values("url", ignore_index=True))
        if pdf.empty:
            raise CheckFailed(f"{self.name}: the input sample is empty")
        responses = [detect(t, self.rules) for t in pdf["text"]]
        pdf["keep"] = [r.keep for r in responses]
        pdf["scrubbed_text"] = [r.redacted_text for r in responses]
        pdf["overall_confidence"] = [r.overall_confidence for r in responses]
        pdf["breakdown"] = [r.breakdown for r in responses]
        if self.scorers:
            pdf["lang_pred"] = classify_series(pdf["text"])
            pdf["ppl"] = perplexity_series(pdf["text"])
        return pdf

    def check_fingerprint(self, fp: str, seed: int, expected: dict) -> list[str]:
        """Compare with the fingerprint recorded for this workload's seed."""
        print(f"{self.name} seed {seed}: output fingerprint {fp}", file=sys.stderr)
        want = expected.get(self.name, {})
        if seed == want.get("seed") and fp != want.get("fingerprint"):
            return [f"fingerprint {fp} != recorded {want['fingerprint']}"]
        return []

    def compare_sample(self, actual: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
        """Row-by-row comparison of the pipeline's sampled outputs with the
        oracle's; ``expected`` carries the expected ``final_keep``."""
        problems = []
        merged = expected.merge(actual, on="url", how="left", suffixes=("", "_out"),
                                indicator=True)
        missing = int((merged["_merge"] != "both").sum())
        if missing:
            problems.append(f"{missing} sampled urls missing from the output")
        for col in ("final_keep", "scrubbed_text", "overall_confidence"):
            bad = merged[merged["_merge"] == "both"]
            n = int((bad[col] != bad[f"{col}_out"]).sum())
            if n:
                problems.append(f"{n}/{len(bad)} sampled docs differ in {col}")
        return problems

    def function_timings(self, sample: pd.DataFrame, to_arrow) -> dict[str, float]:
        """Driver-side microseconds per document of each public function the
        crossing calls, on the sample batch, plus detection counts.
        ``to_arrow`` converts a crossing frame to Arrow as the crossing does."""
        html = sample["html"].tolist()
        texts = sample["text"]
        n = len(sample)
        res = detect_batch(texts, self.rules)
        frame = self.crossing_frame(sample)
        return {
            "sources.extract_us_per_doc":
                time_per_doc(lambda: [extract_text_from_html(h) for h in html], n),
            "scan.detect_us_per_doc": time_per_doc(lambda: detect_batch(texts, self.rules), n),
            "langid.classify_us_per_doc": time_per_doc(lambda: classify_series(texts), n),
            "perplexity.score_us_per_doc": time_per_doc(lambda: perplexity_series(texts), n),
            "crossing.pandas_to_arrow_us_per_doc": time_per_doc(lambda: to_arrow(frame), n),
            "scan.detections_per_doc": float(res["n_detections"].mean()),
            "scan.docs_scrubbed_ratio": float((res["n_detections"] > 0).mean()),
        }

    def crossing_frame(self, pdf: pd.DataFrame) -> pd.DataFrame:
        """The frame the fused crossing yields for this batch of documents."""
        texts = pd.Series([extract_text_from_html(h) for h in pdf["html"]])
        res = detect_batch(texts, self.rules)
        frame = pd.DataFrame({"unit": 0, "url": pdf["url"], "warc_ts": pdf["warc_ts"],
                              "text": texts})
        frame = pd.concat([frame, res[list(self.fields)]], axis=1)
        for name, (_, fn) in self.scorers.items():
            frame[name] = list(fn(texts))
        return frame


class CleanShort(Workload):
    name = "clean_short"
    n_docs = 20_000
    # many small files, as a crawl has: the scan packs them into fewer
    # splits than cores, so ensure_parallelism's salted shuffle fires
    num_files = 128
    sample_modulus = 64
    fields = ("keep", "scrubbed_text", "overall_confidence")
    scorers = {
        "lang_pred": ("string", classify_series),
        "ppl": ("double", perplexity_series),
    }

    def build_inputs(self, spark, seed, num_partitions):
        return generate_corpus_distributed(spark, self.n_docs, seed=seed,
                                           num_partitions=num_partitions)

    def crossing(self, spark, path: str):
        raw = spark.read.parquet(path).select("url", "warc_ts", "html")
        raw = ensure_parallelism(raw, spark.sparkContext.defaultParallelism * 2)
        return extract_and_scan(raw, self.rules, keep_cols=("url",),
                                fields=self.fields, extra_scorers=self.scorers)

    def plan(self, spark, path: str):
        out = self.crossing(spark, path)
        q = gopher_quality_columns("text")
        return out.select(
            "url",
            (F.col("keep") & q["quality_keep"] & (F.col("lang_pred") != "und")
             & (F.col("ppl") <= DEFAULT_PPL_MAX)).alias("final_keep"),
            "scrubbed_text",
            "overall_confidence",
        )

    def run_pass(self, spark, path: str, pass_dir: str) -> None:
        force(self.plan(spark, path))

    def check(self, spark, path, seed, expected, last_pass_dir, sample):
        problems = []
        n_input = spark.read.parquet(path).count()
        final = self.plan(spark, path).persist()
        try:
            n_out = final.count()
            if n_out != n_input:
                problems.append(f"output rows {n_out} != input rows {n_input}")
            fp = fingerprint(final)
            actual = url_sample(final, self.sample_modulus).toPandas()
        finally:
            final.unpersist()
        problems += self.check_fingerprint(fp, seed, expected)
        exp = sample.copy()
        exp["final_keep"] = (exp["keep"] & exp["quality_keep"] & (exp["lang_pred"] != "und")
                             & (exp["ppl"] <= DEFAULT_PPL_MAX))
        return problems + self.compare_sample(actual, exp)


class CommitPiiLong(Workload):
    name = "commit_pii_long"
    n_docs = 2_000
    num_files = 16
    sample_modulus = 32
    num_units = 16
    run_id = "bench"
    rules = default_rules(blocklist=BLOCKLIST)
    fields = ("keep", "scrubbed_text", "overall_confidence", "breakdown")

    def build_inputs(self, spark, seed, num_partitions):
        return generate_long_corpus(spark, self.n_docs, seed, num_partitions)

    def transform(self, df):
        """``jobs/batch_scrub.py``'s transform."""
        df = ensure_parallelism(df, df.sparkSession.sparkContext.defaultParallelism * 2)
        if "html" in df.columns:
            out = extract_and_scan(df, self.rules, keep_cols=("unit", "url", "warc_ts"),
                                   fields=self.fields)
        else:
            out = scan(df, self.rules)
        q = gopher_quality_columns("text")
        return (
            out.withColumn("final_keep", F.col("keep") & q["quality_keep"])
            .withColumn("warc_date", F.to_date("warc_ts"))
            .select("unit", "url", "warc_ts", "warc_date", "final_keep",
                    "scrubbed_text", "overall_confidence", "breakdown")
        )

    def commit(self, spark, path: str, pass_dir: str) -> int:
        return run_with_manifest(
            spark.read.parquet(path), self.transform,
            output_path=os.path.join(pass_dir, "output"),
            manifest_path=os.path.join(pass_dir, "manifest"),
            run_id=self.run_id, num_units=self.num_units, kept_col="final_keep",
        )

    def run_pass(self, spark, path: str, pass_dir: str) -> None:
        n = self.commit(spark, path, pass_dir)
        if n != self.num_units:
            raise CheckFailed(f"processed {n} units, expected {self.num_units}")

    def resume(self, spark, path: str, pass_dir: str) -> None:
        n = self.commit(spark, path, pass_dir)
        if n != 0:
            raise CheckFailed(f"resume processed {n} units, expected 0")

    def crossing(self, spark, path: str):
        raw = assign_units(spark.read.parquet(path), self.num_units)
        return extract_and_scan(raw, self.rules, keep_cols=("unit", "url", "warc_ts"),
                                fields=self.fields)

    def check(self, spark, path, seed, expected, last_pass_dir, sample):
        problems = []
        n_input = spark.read.parquet(path).count()
        manifest = spark.read.parquet(os.path.join(last_pass_dir, "manifest"))
        m = manifest.agg(F.sum("n_docs").alias("docs"),
                         F.countDistinct("unit").alias("units")).first()
        if m["docs"] != n_input:
            problems.append(f"manifest n_docs sum {m['docs']} != input rows {n_input}")
        if m["units"] != self.num_units:
            problems.append(f"manifest has {m['units']} units, expected {self.num_units}")
        output = spark.read.parquet(os.path.join(last_pass_dir, "output"))
        n_out = output.count()
        if n_out != n_input:
            problems.append(f"output rows {n_out} != input rows {n_input}")
        problems += self.check_fingerprint(fingerprint(output), seed, expected)
        actual = url_sample(output, self.sample_modulus).select(
            "url", "final_keep", "scrubbed_text", "overall_confidence", "breakdown"
        ).toPandas()
        exp = sample.copy()
        exp["final_keep"] = exp["keep"] & exp["quality_keep"]
        problems += self.compare_sample(actual, exp)
        got = dict(zip(actual["url"], actual["breakdown"]))
        n_bad = sum(1 for u, b in zip(exp["url"], exp["breakdown"])
                    if u in got and dict(got[u] or {}) != b)
        if n_bad:
            problems.append(f"{n_bad}/{len(exp)} sampled docs differ in breakdown")
        return problems


WORKLOADS = {w.name: w for w in (CleanShort(), CommitPiiLong())}
