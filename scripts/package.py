"""Build dist/safe_zone_spark.zip for spark-submit --py-files.

The build loads every embedded model first (training and publishing any
table that is absent or stale), then fails unless the archive carries each
model table under its current train key: a Python worker importing from the
zip cannot publish into it, so a zip without its tables would retrain in
every worker."""

from __future__ import annotations

import os
import shutil
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
sys.path.insert(0, REPO)

from safe_zone_spark.functions.model_store import all_specs, model_table_path  # noqa: E402


def build(dist: str) -> str:
    """Write ``<dist>/safe_zone_spark.zip`` and return its path."""
    # raises unless each table is in the package under the loaded model's key
    tables = [os.path.relpath(p, REPO) for spec in all_specs() for p in model_table_path(spec)]
    os.makedirs(dist, exist_ok=True)
    out = shutil.make_archive(
        os.path.join(dist, "safe_zone_spark"), "zip", REPO, "safe_zone_spark"
    )
    with zipfile.ZipFile(out) as z:
        missing = set(tables) - set(z.namelist())
    if missing:
        raise SystemExit(f"{out} lacks the model tables {sorted(missing)}")
    return out


if __name__ == "__main__":
    print(build(os.path.join(REPO, "dist")))
