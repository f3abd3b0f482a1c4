"""safe_zone_spark — a from-scratch, PySpark-native corpus-safety engine.

Rebuilds the query/data-processing capabilities of the thyrisAI/safe-zone
(TSZ) reference — PII/secret/injection detection, allow/block policy,
confidence scoring, redaction — as Spark DataFrame transforms + Arrow-batched
Python stages over web-corpus tables, extended with the language-ID /
perplexity / heuristic-quality stages a 100 TB training-data pipeline needs.

Layout:
    rules        rule tables (patterns/allow/block/validators) + broadcast
    oracle       pure-Python reference implementation of the Detect pipeline
                 (parity target: /root/reference/internal/guardrails/guardrails.go:60-377)
    checksums    TCKN / Luhn digit checksums (scalar + numpy-vectorized)
    crossing     the one Python crossing: Arrow in, Arrow out (map_batches,
                 apply_groups, text_udf)
    operators/   scan (mapInArrow detect), dedup, similarity search
    functions/   quality heuristics, langid, perplexity, text analysis,
                 confidence/action column expressions
    sources/     deterministic synthetic corpus generator, HTML extraction, IO
    plans/       end-to-end pipeline assembly (salting, AQE, manifests, resume)
    validators/  format validators (JSON/XML/REGEX/SCHEMA + deterministic AI
                 replacements: toxicity lexicon, TCKN checksum, Luhn)
    streaming/   prefix-consistent incremental scrubber (stream-sync mode)
    multimodal/  opaque binary columns + stubbed decode plumbing
    _worker      once-per-Python-worker set-up (zip finder sealing, heap freeze)
"""

__version__ = "0.1.0"

from ._worker import seal_in_spark_task  # noqa: E402

seal_in_spark_task()

# Convenience top-level API mirroring the reference's surface:
#   detect(text)      — single text  (POST /detect; SDK detect_text)
#   scan(df)          — corpus DataFrame (the Spark-native form)
#   default_rules()   — the init.sql seed rule bundle
from .oracle import detect  # noqa: E402,F401
from .rules import default_rules  # noqa: E402,F401


def scan(df, rules=None, **kw):
    """Lazy alias for :func:`safe_zone_spark.operators.scan.scan` (kept thin
    so importing the package never drags in pyspark before it's needed)."""
    from .operators.scan import scan as _scan

    return _scan(df, rules, **kw)
