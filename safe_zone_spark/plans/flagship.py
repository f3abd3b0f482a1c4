"""The flagship plan and its keep contract, written once (SURVEY §7.1).

extract (html → text) → detect/scrub → langid → perplexity in ONE Arrow
crossing, the Gopher quality columns on the JVM side, then step 5 with
``lang_ok`` read as "identified":

    final_keep = keep ∧ quality_keep ∧ lang_pred ≠ 'und' ∧ ppl ≤ DEFAULT_PPL_MAX

The jobs, ``bench.py`` and ``entry()`` build their pipeline here;
``tests/test_flagship.py`` fails on a ``final_keep`` built elsewhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.langid import classify_series
from ..functions.perplexity import DEFAULT_PPL_MAX, perplexity_series
from ..functions.quality import gopher_quality_columns
from ..operators.scan import extract_and_scan, scan
from ..rules import RuleSet


def flagship(df: DataFrame, rules: RuleSet | None = None, *, keep_cols: tuple[str, ...],
             fields: tuple[str, ...] = (),
             extra_scorers: "dict[str, tuple[str, object]] | None" = None) -> DataFrame:
    """``keep_cols``, ``text``, the scan ``fields`` (``keep`` always among
    them), ``lang_pred``, ``ppl``, the ``extra_scorers`` columns (as in
    :func:`extract_and_scan`), ``quality_keep`` and ``final_keep``. An input
    with ``html`` is extracted in the crossing; any other is scanned from
    its ``text``. No shuffle is added: the caller picks the input's layout."""
    scorers = {"lang_pred": ("string", classify_series), "ppl": ("double", perplexity_series),
               **(extra_scorers or {})}
    fields = ("keep", *fields)
    if "html" in df.columns:
        out = extract_and_scan(df, rules, keep_cols=keep_cols, fields=fields,
                               extra_scorers=scorers)
    else:
        out = scan(df.select(*dict.fromkeys([*keep_cols, "text"])), rules, fields=fields,
                   extra_scorers=scorers)
    out = out.withColumn("quality_keep", gopher_quality_columns("text")["quality_keep"])
    return out.withColumn(
        "final_keep",
        F.col("keep") & F.col("quality_keep") & (F.col("lang_pred") != "und")
        & (F.col("ppl") <= DEFAULT_PPL_MAX),
    )
