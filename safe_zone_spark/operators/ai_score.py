"""P5 hybrid AI confidence — the dedup-aggregate scoring pattern.

The reference asks an LLM for a per-value micro-score for PII detections and
fuses it with the regex score: ``final = (regex + ai) / 2``
(/root/reference/internal/ai/confidence.go:31-89), caching by
``sha256(value)`` for 24 h (ai/confidence_cache.go:14-36) because the same
value recurs across requests.

The Spark translation of that cache is **dedup-aggregate**: score each
distinct value once, then join the scores back — at 10^12 docs the distinct
value set is orders of magnitude smaller than the detection stream, and the
expensive scorer (an LLM endpoint in production) is called per *distinct*
value, not per row.

In-sandbox the scorer is a deterministic stand-in — a hash-derived pseudo
score ``(Σ ascii(md5hex(value))) % 101 / 100`` — chosen because the DuckDB
oracle can compute the identical number relationally, proving the
dedup/join plumbing end-to-end. Swapping in a real LLM = replacing
``_pseudo_score_batch`` with a batched endpoint call; everything else holds.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..crossing import map_batches, pylist, strings


def _pseudo_score(value: str) -> float:
    hexd = hashlib.md5(value.encode("utf-8")).hexdigest()
    return (sum(hexd.encode("ascii")) % 101) / 100.0


def ai_confidence_join(
    detections: DataFrame,
    *,
    value_col: str = "value",
    regex_score_col: str = "confidence",
) -> DataFrame:
    """detections(…, value, confidence) → + (ai_score, fused).

    Plan: ``dropDuplicates(value)`` → batch scorer (one Arrow map) →
    broadcast join back (distinct-value side is small by construction).
    fused = round((regex + ai) / 2, 2) — confidence.go:41-44 averaging.
    """

    def score_batch(batch):
        values = strings(pylist(batch.column(value_col)))
        return {"ai_score": [_pseudo_score(v) for v in values]}

    distinct = detections.select(value_col).dropDuplicates([value_col])
    scores = map_batches(distinct, score_batch, f"{value_col} string, ai_score double")
    # no rounding: the pseudo score is n/100 and fusion averages — rounding
    # at a .005 half-boundary is engine-dependent (HALF_UP vs print-based),
    # while the raw doubles are bit-identical on both engines
    fused = (F.col(regex_score_col) + F.col("ai_score")) / 2.0
    return detections.join(F.broadcast(scores), value_col).withColumn("fused", fused)


def ai_confidence_sql_fragment(value: str) -> str:
    """DuckDB twin of the pseudo scorer for a value expression."""
    return (
        f"(list_sum(list_transform(regexp_extract_all(md5({value}), '.'), "
        f"c -> ascii(c))) % 101) / 100.0"
    )
