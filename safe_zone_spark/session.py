"""The one Spark session recipe for every job, bench, script and test.

It pins, once, the settings the code relies on:

* AQE, which ``plans.pipeline.run_with_manifest``'s rebalance hint needs;
* Arrow conversion for ``toPandas``/``createDataFrame``, in 10k-row
  batches, the size the scan's batch blob is sized for;
* the UTC session time zone, so ``to_date(warc_ts)`` (the jobs'
  ``warc_date`` partition column) does not follow the host JVM's zone.

Sizing stays with the caller. A local run passes its core count: the
master becomes ``local[n]`` with n shuffle partitions, the driver gets half
the host's memory (at most 24g), and the UI and console progress bar are
off. A spark-submit job passes none, which leaves master and memory to
spark-submit.
"""

from __future__ import annotations

import os


def session_conf(app_name: str, cores: int | None = None) -> dict[str, str]:
    """The recipe as a conf mapping; ``cores`` sizes a local run."""
    conf = {
        "spark.app.name": app_name,
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.session.timeZone": "UTC",
    }
    if cores is not None:
        half_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (2 << 20)
        conf |= {
            "spark.master": f"local[{cores}]",
            "spark.sql.shuffle.partitions": str(cores),
            "spark.driver.memory": f"{min(24 << 10, half_mib)}m",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        }
    return conf


def session_builder(app_name: str, cores: int | None = None):
    """A ``SparkSession.Builder`` carrying :func:`session_conf`. Callers may
    chain more config (a catalog) before ``getOrCreate()``."""
    from pyspark.sql import SparkSession

    return SparkSession.builder.config(map=session_conf(app_name, cores))
