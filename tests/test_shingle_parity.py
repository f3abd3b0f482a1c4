"""Pin the Python shingle fast path to the JVM expression form.

``shingle_explode_py`` (one Arrow crossing) replaced
``select(explode(shingles_expr))`` inside ``ngram_jaccard_pairs`` for
performance; the two tokenizers must stay row-identical — same whitespace
class, same lowercasing, same distinct-gram first-occurrence order — or
the operator's results silently drift from the DuckDB oracle. This test
compares them over the real sf0.01 corpus AND a curated edge-case set
(empty / whitespace-only / short docs, tabs, vertical tabs, repeated
grams, mixed case, punctuation, non-ASCII case mappings)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from safe_zone_spark.operators.dedup import (
    py_words,
    shingle_explode_py,
    shingles_expr,
    words_expr,
)

SF = "/root/testdata/sf0.01"

EDGE_TEXTS = [
    "",
    " ",
    "\t\n\r\f\x0b",
    "one",
    "one two",
    "one two three",
    "ONE Two thrEE four",
    "a  b\t\tc\nd\r\ne\ff\x0bg",
    "dup dup dup dup dup",
    "x y z x y z x y z",
    "  leading and trailing  ",
    "punct, marks! kept? as-is; ok.",
    "Tab\tsep\tand  double  space",
    # non-ASCII case mappings where lowercasing can disagree between engines
    "İstanbul İZMİR dİ",  # Turkish dotted capital I (lowers to i + U+0307)
    "ΟΔΟΣ ΣΟΦΟΣ Σ ΑΣ.",  # Greek capital sigma: final ς vs medial σ
    "ﬁle ﬂow ﬁﬂ",  # ﬁ/ﬂ ligatures (no single-char lowercase)
    "Straße STRASSE ẞ ß",  # sharp s and capital sharp s
    "5 \u212a Kelvin \u212a\u212a",  # Kelvin sign
    None,
]


def _collect_jvm(df, n):
    out = df.select(
        "doc_id", F.explode(shingles_expr("text", n)).alias("shingle")
    ).collect()
    return sorted((r[0], r[1]) for r in out)


def _collect_py(df, n):
    out = shingle_explode_py(df, shingle_n=n).collect()
    return sorted((r[0], r[1]) for r in out)


@pytest.mark.parametrize("n", [3, 8])
def test_edge_cases_match(spark, n):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(EDGE_TEXTS)], "doc_id long, text string"
    )
    assert _collect_py(df, n) == _collect_jvm(df, n)


def test_corpus_match(spark):
    if not os.path.exists(f"{SF}/documents.parquet"):
        pytest.skip("testdata missing")
    df = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    assert _collect_py(df, 3) == _collect_jvm(df, 3)


def test_py_words_matches_words_expr(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(EDGE_TEXTS)], "doc_id long, text string"
    )
    jvm = {r[0]: r[1] for r in df.select("doc_id", words_expr("text").alias("w")).collect()}
    for i, t in enumerate(EDGE_TEXTS):
        assert py_words(t) == (jvm[i] or []), f"doc {i}: {t!r}"


def test_with_size_column_is_distinct_gram_count(spark):
    df = spark.createDataFrame(
        [(0, "a b c a b c a b c"), (1, "p q r s")], "doc_id long, text string"
    )
    rows = shingle_explode_py(df, shingle_n=3, with_size=True).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r[0], set()).add((r[1], r[2]))
    # doc 0: grams {a b c, b c a, c a b} -> 3 distinct, n_sh == 3 on each row
    assert {n for n, _ in by_doc[0]} == {3}
    assert len(by_doc[0]) == 3
    assert {n for n, _ in by_doc[1]} == {2}
