"""Gopher repetition filters (fused form vs its DuckDB twin) + langid top-2 scores."""

from __future__ import annotations

import duckdb
import pandas as pd

from safe_zone_spark.functions.langid import classify_texts, score_texts_top2
from safe_zone_spark.functions.quality import (
    repetition_metrics_fused,
    repetition_oracle_sql,
)


def test_repetition_metrics_edges(spark):
    boiler = "the same boilerplate line here"
    rows = [
        (0, "\n".join([boiler] * 4 + ["one unique line"])),   # heavy dup lines
        # long enough that no single 2-gram covers >20% of the chars (the
        # Gopher caps assume page-length docs; on tiny docs they fire)
        (1, "every line is different here\nanother wholly distinct second "
            "line with more words\nand a third line that keeps the page "
            "long enough for the gram caps to behave"),
        (2, "spam spam spam spam spam spam spam spam"),       # one hot 2-gram
        (3, ""),                                              # empty doc
        (4, "short"),                                         # no 2-grams
        # blank-line paragraph separators are formatting, NOT repetition:
        # empty lines must not count toward the duplicate-line fraction
        (5, "first distinct paragraph with several words here\n\n"
            "second wholly different paragraph follows now\n\n"
            "third paragraph closes the page with more text\n\n"
            "fourth paragraph for good measure and length"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in repetition_metrics_fused(df).collect()}

    # doc 0: 5 lines, 2 distinct -> dup_line_frac = 3/5; dup chars dominate
    assert abs(out[0]["dup_line_frac"] - 0.6) < 1e-9
    assert out[0]["dup_line_char_frac"] > 0.5
    assert not out[0]["rep_keep"]

    assert out[1]["dup_line_frac"] == 0.0 and out[1]["rep_keep"]

    # doc 2: "spam spam" covers most characters -> top-2-gram gate fires
    assert out[2]["top2gram_char_frac"] > 0.2
    assert not out[2]["rep_keep"]

    # empty doc: all fractions 0, keep=True (nothing repetitious)
    assert out[3] == {"doc_id": 3, "dup_line_frac": 0.0,
                      "dup_line_char_frac": 0.0, "top2gram_char_frac": 0.0,
                      "top3gram_char_frac": 0.0, "top4gram_char_frac": 0.0,
                      "rep_keep": True}
    assert out[4]["top2gram_char_frac"] == 0.0 and out[4]["rep_keep"]
    assert out[5]["dup_line_frac"] == 0.0 and out[5]["rep_keep"]


def test_langid_top2_scores_consistent_with_argmax():
    texts = [
        "el gobierno anunció una nueva situación para el país",
        "o governo anunciou uma nova situação para o país",
        "the government announced a new situation for the country",
        "",
        "   ",
    ]
    top2 = score_texts_top2(texts)
    preds = classify_texts(texts)
    for (l1, s1, l2, s2), pred in zip(top2, preds):
        assert l1 == pred                       # same argmax + tie-break
        assert s1 >= s2
        if s1 == s2 and l1 != "und":
            assert l1 < l2  # equal scores break alphabetically, like SQL
        assert l1 != l2 or l1 == "und"
    # tie-break pinned explicitly: a fabricated all-equal model must return
    # the two alphabetically-first languages in order
    import numpy as np

    tie_model = (np.ones((3, 1 << 14), dtype=np.int64), ("aa", "bb", "cc"))
    assert score_texts_top2(["anything at all"], model=tie_model)[0][0::2] == ("aa", "bb")
    assert top2[3] == ("und", 0, "und", 0)
    assert top2[4] == ("und", 0, "und", 0)
    # the close pair is separated with a positive margin on real sentences
    assert top2[0][0] == "es" and top2[1][0] == "pt"
    assert top2[0][1] - top2[0][3] > 0 and top2[1][1] - top2[1][3] > 0


def test_repetition_fused_equals_duckdb_twin(spark):
    """The fused numpy-batch form must be row-identical to the DuckDB twin
    ``repetition_oracle_sql`` — including the half-up rounding boundary:
    doc 10 has dup_line_frac exactly 1/32 = 0.03125, where banker's
    rounding in the Python stage would emit 0.0312 vs the engines' 0.0313
    (the reason repetition_columns emits RAW doubles and rounding stays
    JVM-side)."""
    lines = [f"unique line number {i} with several words" for i in range(31)]
    boundary = "\n".join(lines + [lines[0]])  # 32 lines, 1 dup
    rows = [
        (0, "\n".join(["same line"] * 4 + ["one unique line"])),
        (1, "every line is different\nanother distinct line entirely\n"
            "and a third line keeps the page long enough"),
        (2, "spam spam spam spam spam spam spam spam"),
        (3, ""),
        (4, "short"),
        (5, "a b\n\nc d\n\ne f"),
        (10, boundary),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fus = sorted(tuple(r) for r in repetition_metrics_fused(df).collect())
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    duck = sorted(con.execute(repetition_oracle_sql()).fetchall())
    assert fus == duck
    by = {t[0]: t for t in fus}
    assert by[10][1] == 0.0313  # half-up at the exact 1/32 boundary
