"""Model-based quality scoring (VERDICT r4 #3).

The heuristic quality stage (C4/Gopher rules in functions/quality.py) is
rule-based; modern pipelines (DCLM, FineWeb-Edu lineage — PAPERS.md) add a
TRAINED quality classifier. This module reuses the langid NB machinery
verbatim — hashed-trigram multinomial-NB weights, quantized to int64 so
both engines agree exactly — as a two-class discriminator:

  'hi' = natural multilingual prose (the langid training sentences)
  'lo' = synthetic boilerplate negatives (repetition loops, lorem ipsum,
         markup/brace soup, cookie/nav keyword spam — the failure modes
         the Gopher/C4 heuristics target, here learned instead)

Scoring emits INTEGER class scores and their difference (the quality
logit); `quality_pred` = logit >= GATE_THRESHOLD, the error-minimizing
split of the training corpus's logits, calibrated when the model trains
and persisted with it (`_calibrate_gate`). The raw argmax
(threshold 0) mis-gates multilingual models: growing the 'hi' class from
12 to 16 languages diluted per-trigram mass enough that 12% of genuine
sf0.01 English docs scored slightly negative while junk stayed below
-43M — the threshold-sweep eval (operators/model_eval.py) is exactly the
instrument that caught it. The DuckDB twin reuses langid._scoring_ctes
over the persisted (lang, bucket, weight) model table — model-as-data,
relational scoring, zero new oracle machinery; GATE_THRESHOLD is embedded
in the generated SQL so both engines decide identically.

Production swap path: retrain via train_quality_model() on any labeled
(label, text) corpus — e.g. wiki-vs-crawl — and persist with
write_centroid_parquet. The scoring and the SQL oracle address the two
classes BY the literal labels 'hi' (positive) and 'lo' (negative), so a
swapped-in corpus must carry those labels (map wiki→'hi', crawl→'lo'
before training); arbitrary label strings are not supported.
"""

from __future__ import annotations

import numpy as np

from ..crossing import strings
from .langid import (
    _DIM,
    _NB_SCALE,
    _QUANT,
    _batch_trigram_scores,
    _centroid_table,
    _default_training_corpus,
    _model_from_table,
    _scoring_ctes,
    _trigram_indices,
    train_nb_weights,
    write_centroid_parquet,
)
from .model_store import ModelSpec, load_or_train

HI, LO = "hi", "lo"

# Boilerplate building blocks for the negative class. These are generic
# web-junk patterns (no proprietary content): nav/footer chrome, consent
# banners, SEO stuffing, template soup.
_NAV_WORDS = (
    "home login register signup subscribe newsletter contact about sitemap "
    "privacy policy terms conditions cookie cookies accept decline settings "
    "menu search cart checkout shipping returns faq help support copyright "
    "rights reserved click here read more learn more sign up log in"
).split()
_LOREM = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua"
).split()
_MARKUP = list("{}<>[]|#$%=;") + ["</div>", "<div>", "&nbsp;", "();", "{};", "==", "->"]


def _negative_training_corpus(*, n_per_kind: int = 40, seed: int = 11):
    """Deterministic boilerplate negatives, four kinds: keyword-spam nav
    chrome, lorem filler, markup/brace soup, and n-gram repetition loops."""
    import random

    rng = random.Random(seed)
    out: list[tuple[str, str]] = []
    for _ in range(n_per_kind):  # nav/footer keyword spam
        k = rng.randint(8, 25)
        out.append((LO, " ".join(rng.choice(_NAV_WORDS) for _ in range(k))))
    for _ in range(n_per_kind):  # lorem filler
        k = rng.randint(10, 30)
        out.append((LO, " ".join(rng.choice(_LOREM) for _ in range(k))))
    for _ in range(n_per_kind):  # markup soup
        k = rng.randint(10, 40)
        out.append((LO, " ".join(rng.choice(_MARKUP) for _ in range(k))))
    for _ in range(n_per_kind):  # repetition loops (Gopher's dup-ngram case)
        phrase = " ".join(rng.choice(_NAV_WORDS + _LOREM) for _ in range(rng.randint(1, 3)))
        out.append((LO, " ".join([phrase] * rng.randint(5, 15))))
    return out


def _positive_training_corpus():
    """The langid training sentences, relabeled: every language's TRAIN
    split word salad counts as 'natural prose' for this discriminator."""
    from .langid import _default_training_corpus

    return [(HI, text) for _lang, text in _default_training_corpus()]


def train_quality_model(labeled=None):
    """(int64 weights, ('hi','lo')) via the langid NB trainer."""
    if labeled is None:
        labeled = _positive_training_corpus() + _negative_training_corpus()
    return train_nb_weights(labeled)


def _calibrate_gate(model=None) -> int:
    """The error-minimizing split of the training corpus's logits — the
    driverless analog of operators.model_eval.select_gate_threshold (ties
    broken toward the LOWER threshold, favoring recall). A gap midpoint is
    not enough: a handful of short positive word-salads score below the
    densest negatives, so the distributions overlap and the best split
    tolerates a few training errors. Pure numpy over the embedded corpora
    (~1.1k short texts, ~100 ms once at import)."""
    import numpy as np

    pos = [t for _, t in _positive_training_corpus()]
    neg = [t for _, t in _negative_training_corpus()]
    pl = np.array([h - lo for h, lo in quality_scores(pos, model=model)])
    nl = np.array([h - lo for h, lo in quality_scores(neg, model=model)])
    # candidate thresholds = every distinct observed logit (>= semantics:
    # t = v keeps v positive); errors(t) = pos below t + neg at/above t
    cand = np.unique(np.concatenate([pl, nl]))
    errors = (pl[None, :] < cand[:, None]).sum(axis=1) + (
        nl[None, :] >= cand[:, None]
    ).sum(axis=1)
    return int(cand[np.argmin(errors)])  # argmin takes the FIRST (lowest) t


def write_quality_parquet(path: str, model=None) -> str:
    """Persist a (weights, classes) model, by default the embedded one."""
    return write_centroid_parquet(
        path, model=(_WEIGHTS, _CLASSES) if model is None else model)


# --- inference ----------------------------------------------------------------


def quality_scores(texts, model=None) -> "list[tuple[int, int]]":
    """Per text: (score_hi, score_lo) — the batched integer trigram gather
    shared with langid (`_batch_trigram_scores`: one numpy pass per batch).
    Empty/no-trigram text scores (0, 0). Unlike classify_texts there is no
    whitespace-only guard: whitespace still hashes trigrams and is scored,
    exactly as the per-doc form did."""
    w, classes = model if model is not None else (_WEIGHTS, _CLASSES)
    ih, il = classes.index(HI), classes.index(LO)
    out: "list[tuple[int, int]]" = [(0, 0)] * len(texts)
    enc: list[bytes] = []
    pos: list[int] = []
    for i, t in enumerate(texts):
        e = f" {(t or '').lower()} ".encode("utf-8")
        if len(e) >= 3:  # empty text pads to 2 bytes → no trigrams
            enc.append(e)
            pos.append(i)
    if not enc:
        return out
    s = _batch_trigram_scores(enc, w)
    for j, i in enumerate(pos):
        out[i] = (int(s[ih, j]), int(s[il, j]))
    return out


def _train():
    model = train_quality_model()
    return (*model, _calibrate_gate(model))


def _quality_tables(model) -> list:
    """(weights, classes, gate) → the centroid table, gate in its metadata."""
    weights, classes, gate = model
    t = _centroid_table((weights, classes))
    return [t.replace_schema_metadata({b"gate_threshold": str(gate).encode()})]


def _quality_from_tables(tables):
    (t,) = tables
    weights, classes = _model_from_table(t)
    if classes != (HI, LO):  # alphabetical: hi < lo
        raise ValueError(f"quality classes {classes}, expected {(HI, LO)}")
    return weights, classes, int(t.schema.metadata[b"gate_threshold"])


# The model loads with its calibrated gate (−6,630,192 at the 16-language
# model: 0 sf0.01 false-drops, 0 junk passes) from the persisted table and
# trains + calibrates only when the table is absent or stale
# (functions/model_store.py). _calibrate_gate is keyed too: a calibration
# change must invalidate the stored gate.
SPEC = ModelSpec(
    files=("quality_nb.parquet",),
    key_sources=(train_quality_model, _positive_training_corpus,
                 _negative_training_corpus, train_nb_weights, _trigram_indices,
                 _default_training_corpus, _calibrate_gate),
    key_extra="|".join(_NAV_WORDS + _LOREM + _MARKUP).encode()
    + f"|qnb|{_NB_SCALE}|{_DIM}|{_QUANT}|n=40|seed=11".encode(),
    train=_train,
    encode=_quality_tables,
    decode=_quality_from_tables,
)
_WEIGHTS, _CLASSES, GATE_THRESHOLD = load_or_train(SPEC)


def quality_logit_series(texts) -> "list[int]":
    """extra_scorers entry point: integer quality logit (hi - lo) of any
    sequence of texts (each non-str as "")."""
    return [h - lo for h, lo in quality_scores(strings(texts))]


# --- DuckDB twin --------------------------------------------------------------


def quality_model_oracle_sql(model_path: str, *, table: str = "documents") -> str:
    """Pivot the shared langid scoring grid into the two class scores;
    logit and pred are pure integer arithmetic on them (pred embeds the
    calibrated GATE_THRESHOLD so both engines decide identically)."""
    return f"""{_scoring_ctes(model_path, table)}
SELECT d.doc_id,
  CAST(gh.score AS BIGINT) AS score_hi,
  CAST(gl.score AS BIGINT) AS score_lo,
  CAST(gh.score - gl.score AS BIGINT) AS quality_logit,
  gh.score - gl.score >= {GATE_THRESHOLD} AS quality_pred
FROM {table} d
JOIN grid gh ON gh.doc_id = d.doc_id AND gh.lang = '{HI}'
JOIN grid gl ON gl.doc_id = d.doc_id AND gl.lang = '{LO}'
"""
