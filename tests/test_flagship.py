"""The flagship plan (``safe_zone_spark.plans.flagship``): one Arrow
crossing, one keep contract, and no ``final_keep`` built anywhere else."""

from __future__ import annotations

import ast
import os
from pathlib import Path

from safe_zone_spark.functions.langid import classify_series
from safe_zone_spark.functions.perplexity import DEFAULT_PPL_MAX, perplexity_series
from safe_zone_spark.plans.flagship import flagship
from safe_zone_spark.rules import default_rules
from safe_zone_spark.sources.corpus import generate_corpus

ROOT = Path(__file__).resolve().parents[1]
PLANS = ROOT / "safe_zone_spark" / "plans"
# the benchmark keeps its own copies until it adopts the flagship; tests
# may build expectations of their own
EXEMPT_DIRS = {"perfbench", "tests", "dist", "spark-warehouse", "__pycache__"}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _builds_final_keep(node: ast.AST) -> bool:
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and node.args):
        return False
    first = node.args[0]
    if node.func.attr in ("alias", "withColumn"):
        return isinstance(first, ast.Constant) and first.value == "final_keep"
    return node.func.attr == "withColumns" and isinstance(first, ast.Dict) and any(
        isinstance(k, ast.Constant) and k.value == "final_keep" for k in first.keys)


def test_final_keep_is_built_only_in_plans():
    builds = []
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if d not in EXEMPT_DIRS and not d.startswith(".")]
        if Path(dirpath) == PLANS:
            continue
        for name in filenames:
            if not name.endswith(".py"):
                continue
            path = Path(dirpath) / name
            tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
            builds += [f"{path.relative_to(ROOT)}:{node.lineno}"
                       for node in ast.walk(tree) if _builds_final_keep(node)]
    assert not builds, "build the pipeline with plans.flagship: " + ", ".join(builds)


def test_flagship_reads_html_or_text_alike(spark):
    """An html input is extracted in the crossing and a text input is
    scanned as it is: the same texts give the same columns, each plan runs
    one crossing, and ``final_keep`` is the contract over scorers that
    agree with the driver-side batch forms."""
    docs = generate_corpus(spark, 120, seed=21).select("url", "html")
    cols = ["url", "text", "keep", "scrubbed_text", "lang_pred", "ppl", "quality_keep",
            "final_keep"]
    from_html = flagship(docs, default_rules(), keep_cols=("url",), fields=("scrubbed_text",))
    got = from_html.select(*cols).toPandas().sort_values("url", ignore_index=True)
    texts = spark.createDataFrame(got[["url", "text"]])
    from_text = flagship(texts, default_rules(), keep_cols=("url",), fields=("scrubbed_text",))
    again = from_text.select(*cols).toPandas().sort_values("url", ignore_index=True)
    assert got.equals(again)
    for out in (from_html, from_text):
        plan = _plan(out)
        assert plan.count("MapInArrow") == 1 and "EvalPython" not in plan

    assert got["lang_pred"].tolist() == classify_series(got["text"])
    assert got["ppl"].tolist() == perplexity_series(got["text"]).tolist()
    assert (got["scrubbed_text"] != got["text"]).any()
    contract = (got["keep"] & got["quality_keep"] & (got["lang_pred"] != "und")
                & (got["ppl"] <= DEFAULT_PPL_MAX))
    assert got["final_keep"].tolist() == contract.tolist()
    assert got["final_keep"].any() and not got["final_keep"].all()


def test_scan_fields_and_extra_scorers_ride_the_crossing(spark):
    """``scan`` builds only the asked fields, in SCAN_OUTPUT_FIELDS order,
    then the extra scorers' columns, after every input column."""
    from safe_zone_spark.operators.scan import scan

    df = spark.createDataFrame([(1, "mail a@b.co now"), (2, "plain text")], "id int, text string")
    out = scan(df, default_rules(), fields=("scrubbed_text", "keep"),
               extra_scorers={"n": ("int", lambda t: [len(s) for s in t])})
    assert out.columns == ["id", "text", "keep", "scrubbed_text", "n"]
    rows = sorted(out.collect())
    assert [r.n for r in rows] == [15, 10]
    assert "a@b.co" not in rows[0].scrubbed_text and rows[1].scrubbed_text == "plain text"


def test_entry_runs_one_arrow_crossing(spark):
    """``entry()`` scores everything in the flagship's one crossing: no
    pandas UDF stage is left, and ``final_keep`` is a non-null boolean."""
    import __spark_entry__ as entry

    out = entry.entry(spark)
    plan = _plan(out)
    assert plan.count("MapInArrow") == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    keeps = [r.final_keep for r in out.select("final_keep").collect()]
    assert len(keeps) == 500 and set(keeps) == {True, False}
    assert dict(out.dtypes)["final_keep"] == "boolean"
