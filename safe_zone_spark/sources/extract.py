"""HTML → text extraction stage (BASELINE.json input_hint).

Input: Common-Crawl-style rows ``(url, warc_ts, html:binary, ...)``;
output: same rows with a ``text:string`` column recovered from ``html``.

The per-row invariant pinned by BASELINE.json is "byte-identical extracted
text per url" — ``extract_text_from_html`` is the deterministic inverse of
the corpus wrapper (sources/corpus.py). Real-world extraction libraries
(trafilatura / resiliparse) are not in this sandbox; the Spark-side plumbing
is the real part: binary column in, one Arrow batch across and back (the
input columns pass through as its own arrays), narrow stage (no shuffle),
schema declared up front.

Reference analog: the Go service receives ready text over HTTP
(/root/reference/internal/models/models.go:6-12) — extraction is the
capability BASELINE.json adds for the corpus setting.
"""

from __future__ import annotations

from ..crossing import map_batches, pylist
from .corpus import extract_text_from_html


def extract_text(df, *, html_col: str = "html", out_col: str = "text"):
    """Append ``out_col`` decoded from ``html_col``. Narrow Arrow map stage:
    the input columns pass through as the batch's own arrays."""
    from pyspark.sql import types as T

    schema = T.StructType(list(df.schema.fields) + [T.StructField(out_col, T.StringType())])
    return map_batches(df, lambda batch: {out_col: [
        extract_text_from_html(h) for h in pylist(batch.column(html_col))]}, schema)
