"""Physical-plan helpers: skew defusal, lineage manifests, resume."""

from .pipeline import (  # noqa: F401
    manifest_aggs,
    read_manifest,
    run_with_manifest,
    salted_repartition,
    write_manifest,
)
