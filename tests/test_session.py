"""The package's one Spark session recipe (``safe_zone_spark.session``):
what it pins, that the jobs take it unsized, and that no other module
builds a session of its own."""

from __future__ import annotations

import ast
import os
from pathlib import Path

from safe_zone_spark.session import session_conf

ROOT = Path(__file__).resolve().parents[1]
RECIPE = ROOT / "safe_zone_spark" / "session.py"
# the benchmark keeps its own session until it adopts the recipe
EXEMPT_DIRS = {"perfbench", "dist", "spark-warehouse", "__pycache__"}


def _session_builder_calls(path: Path) -> list[ast.Call]:
    tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
    return [
        node for node in ast.walk(tree)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
        and node.func.id == "session_builder"
    ]


def test_job_recipe_pins_utc_and_leaves_sizing_to_spark_submit():
    conf = session_conf("job")
    assert conf["spark.sql.session.timeZone"] == "UTC"
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.sql.execution.arrow.pyspark.enabled"] == "true"
    assert conf["spark.sql.execution.arrow.maxRecordsPerBatch"] == "10000"
    assert not {"spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions"} & conf.keys()
    # both production jobs build their session from that unsized recipe
    for job in ("batch_scrub.py", "stream_scrub.py"):
        calls = _session_builder_calls(ROOT / "jobs" / job)
        assert len(calls) == 1, job
        assert len(calls[0].args) == 1 and not calls[0].keywords, job


def test_local_recipe_is_sized_by_the_core_count():
    conf = session_conf("local", 3)
    assert conf["spark.master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert conf["spark.ui.enabled"] == "false"
    assert conf["spark.sql.session.timeZone"] == "UTC"
    mib = int(conf["spark.driver.memory"].removesuffix("m"))
    host_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert 0 < mib <= min(24 << 10, host_mib // 2)


def test_the_shared_session_carries_the_recipe(spark):
    got = dict(spark.sparkContext.getConf().getAll())
    for key, value in session_conf("safe_zone_spark_tests", 4).items():
        assert got.get(key) == value, key


def test_to_date_follows_the_session_time_zone(spark):
    """The fault the UTC pin removes: 03:00 UTC on Jan 2 is still Jan 1 in
    Los Angeles, so an unpinned job's ``warc_date`` would follow the host."""
    from pyspark.sql import functions as F

    df = spark.range(1).select(F.timestamp_seconds(F.lit(1704164400)).alias("ts"))  # 2024-01-02T03:00Z
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    try:
        utc = df.select(F.to_date("ts").cast("string")).first()[0]
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        la = df.select(F.to_date("ts").cast("string")).first()[0]
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert (utc, la) == ("2024-01-02", "2024-01-01")


def _repo_python_files():
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if d not in EXEMPT_DIRS and not d.startswith(".")]
        yield from (Path(dirpath) / f for f in filenames if f.endswith(".py"))


def test_no_session_is_built_outside_the_recipe():
    forks = []
    for path in _repo_python_files():
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        forks += [
            f"{path.relative_to(ROOT)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute) and node.attr == "builder"
            and (getattr(node.value, "id", None) == "SparkSession"
                 or getattr(node.value, "attr", None) == "SparkSession")
            and path != RECIPE
        ]
    assert not forks, "build the session with safe_zone_spark.session: " + ", ".join(forks)
