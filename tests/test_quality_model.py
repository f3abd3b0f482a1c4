"""Trained NB quality discriminator: held-out separation, integer-score
engine≡oracle parity, OOD model swap (VERDICT r4 #3)."""

from __future__ import annotations

import duckdb
import numpy as np

from safe_zone_spark.functions import quality_model as qm
from safe_zone_spark.functions.langid_data import (
    LANGID_LANGS,
    make_sentences,
    split_words,
)


def _held_out_clean(n_per_lang: int = 10) -> list[str]:
    out = []
    for i, lang in enumerate(LANGID_LANGS):
        train_w, held_w = split_words(lang)
        out += make_sentences(held_w or train_w, lang=lang, n=n_per_lang,
                              seed=99 + i, min_words=8, max_words=20)
    return out


def test_heldout_separation():
    """Clean held-out prose → hi; unseen-seed junk → lo, judged at the
    SHIPPED decision boundary (the calibrated GATE_THRESHOLD — raw argmax
    dropped to 0.894 hi-accuracy when the positive class grew to 16
    languages, the regression the calibration exists to absorb). The
    negatives use a DIFFERENT seed than training, so this measures
    generalization."""
    clean = _held_out_clean()
    junk = [t for _, t in qm._negative_training_corpus(n_per_kind=10, seed=77)]
    cs = qm.quality_scores(clean)
    js = qm.quality_scores(junk)
    th = qm.GATE_THRESHOLD
    acc_hi = sum(h - lo >= th for h, lo in cs) / len(cs)
    acc_lo = sum(h - lo < th for h, lo in js) / len(js)
    assert acc_hi >= 0.95, acc_hi
    assert acc_lo >= 0.95, acc_lo
    assert th < 0  # calibrated below argmax for the multilingual hi class


def test_empty_text_scores_zero():
    """Empty/None text has no trigrams → (0, 0) → pred defaults hi.
    (Whitespace-only text DOES carry whitespace trigrams and scores them —
    identically in both engines, unlike langid's explicit 'und' short-
    circuit, so no special-case here.)"""
    assert qm.quality_scores(["", None]) == [(0, 0), (0, 0)]


def test_engine_matches_oracle(tmp_path):
    path = str(tmp_path / "q.parquet")
    qm.write_quality_parquet(path)
    # ASCII-only: the shared scoring CTE hashes per-codepoint via ascii(),
    # the engine per UTF-8 byte — identical iff the text is ASCII (same
    # documented restriction as the langid twins; the sf corpora are ASCII)
    texts = [t for t in _held_out_clean(3) if t.isascii()] + [
        t for _, t in qm._negative_training_corpus(n_per_kind=3, seed=5)
        if t.isascii()
    ] + ["", "single"]
    assert len(texts) > 20
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(texts)))
    got = (
        con.execute(qm.quality_model_oracle_sql(path, table="t"))
        .fetchdf()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    eng = qm.quality_scores(texts)
    assert got["score_hi"].tolist() == [h for h, _ in eng]
    assert got["score_lo"].tolist() == [lo for _, lo in eng]
    assert got["quality_pred"].tolist() == [
        h - lo >= qm.GATE_THRESHOLD for h, lo in eng
    ]


def test_ood_model_swap(tmp_path):
    """A foreign-distribution model (labels swapped ⇒ weights transposed)
    must flip predictions through the SAME scoring path — the production
    retrain/import surface, mirroring test_model_tables for langid."""
    flipped = (qm._WEIGHTS[::-1].copy(), (qm.HI, qm.LO))
    junk = [t for _, t in qm._negative_training_corpus(n_per_kind=5, seed=13)]
    normal = qm.quality_scores(junk)
    swapped = qm.quality_scores(junk, model=flipped)
    assert [(lo, h) for h, lo in normal] == swapped


def test_quantized_weights_are_integer():
    assert qm._WEIGHTS.dtype == np.int64
    assert qm._CLASSES == ("hi", "lo")


def test_fused_extra_scorer(spark):
    """quality_logit_series rides extract_and_scan's extra_scorers — the
    same single-Arrow-crossing slot langid/perplexity use in the flagship
    pipeline (entry() emits it as ``qmodel_ok``)."""
    from pyspark.sql import functions as F

    from safe_zone_spark.operators.scan import extract_and_scan
    from safe_zone_spark.rules import default_rules

    rows = [  # extractor contract: payload sits in the single <p>...</p>
        ("u1", b"<html><body><p>the cat sat on the mat and spoke"
               b"</p></body></html>"),
        ("u2", b"<html><body><p>cookie accept privacy policy terms cookie "
               b"accept privacy policy terms</p></body></html>"),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = extract_and_scan(
        df, default_rules(), keep_cols=("url",), fields=("keep",),
        extra_scorers={"qm_logit": ("long", qm.quality_logit_series)},
    ).select("url", "qm_logit").collect()
    got = {r["url"]: r["qm_logit"] for r in out}
    assert got["u1"] > got["u2"]  # prose scores above consent-banner spam
