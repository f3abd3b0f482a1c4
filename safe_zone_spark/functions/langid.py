"""Language identification — two implementations, per the north-star spec
("fastText language identification ... as batched pandas/Arrow UDFs").

1. ``langid_marker_columns`` — a pure column-expression classifier (marker
   stopword counts + CJK charset, argmax with alphabetical tie-break). It is
   weaker but has an exact SQL twin, so it anchors the DuckDB correctness
   check for the langid stage.
2. ``classify_texts`` — a fastText-style hashed character-n-gram linear
   classifier over a batch of texts, run on Spark as
   ``crossing.text_udf(classify_texts, "string")``. The default model is a
   16-language multinomial-NB trigram scorer loaded (or trained) at import from
   the embedded multilingual word stocks (functions/langid_data.py — incl.
   the es/pt, it/fr, de/nl close pairs the north-star's CCNet-style stage
   must separate) — deterministic, no downloads, no per-row Python beyond
   trigram extraction. Held-out accuracy is pinned in
   tests/test_langid_accuracy.py (words the model never saw).
"""

from __future__ import annotations


import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..crossing import strings
from ..sources.corpus import LANGS
from .model_store import ModelSpec, load_or_train, write_tables

# --- 1. marker-based (SQL-twinned) -----------------------------------------

# ASCII-only markers so \b is identical across RE2 / Java / Python-bytes.
MARKERS: dict[str, str] = {
    "de": r"\b(der|die|das|und|ist|nicht|eine|mit)\b",
    "en": r"\b(the|and|of|is|was|that|with|for)\b",
    "es": r"\b(el|la|los|que|es|por|con|una)\b",
    "tr": r"\b(bir|ve|bu|daha|gibi|kadar|sonra|ama)\b",
    "zh": r"[\x{4e00}-\x{9fff}]",  # \x{...} syntax is valid in Java regex AND RE2
}


def langid_marker_columns(text: Column | str = "text") -> dict[str, Column]:
    """Per-language marker-hit counts + argmax prediction.

    Tie-break: alphabetical language order (the CASE chain tests de, en, es,
    tr, zh in order); all-zero → 'und'. The DuckDB twin is
    ``LANGID_MARKER_ORACLE_SQL`` below.
    """
    t = F.col(text) if isinstance(text, str) else text
    counts = {lang: F.regexp_count(t, F.lit(MARKERS[lang])) for lang in LANGS}
    best = F.greatest(*counts.values())
    pred = F.when(best == 0, "und")
    for lang in LANGS:  # alphabetical; first equal wins
        pred = pred.when(counts[lang] == best, lang)
    return {
        **{f"m_{lang}": counts[lang].cast("long") for lang in LANGS},
        "lang_pred": pred,
    }


def _duck_count(lang: str) -> str:
    return f"len(regexp_extract_all(text, '{MARKERS[lang]}'))"


LANGID_MARKER_ORACLE_SQL = f"""
SELECT doc_id,
       {", ".join(f"CAST({_duck_count(l)} AS BIGINT) AS m_{l}" for l in LANGS)},
       CASE WHEN greatest({", ".join(_duck_count(l) for l in LANGS)}) = 0 THEN 'und'
            {" ".join(f"WHEN {_duck_count(l)} = greatest({', '.join(_duck_count(x) for x in LANGS)}) THEN '{l}'" for l in LANGS)}
       END AS lang_pred
FROM documents
"""

# --- 2. hashed n-gram classifier (fastText-style, UDF) ----------------------

_DIM = 1 << 14  # hashed feature space
_M1, _M2 = np.uint64(65599), np.uint64(65599)


def _trigram_indices(text: str) -> np.ndarray:
    """Hashed byte-trigram feature indices — fully vectorized (one numpy
    polynomial-hash expression over the byte array; no per-trigram Python).
    Deterministic across runs/processes."""
    data = np.frombuffer(f" {text.lower()} ".encode("utf-8"), dtype=np.uint8)
    if len(data) < 3:
        return np.zeros(0, dtype=np.int64)
    d = data.astype(np.uint64)
    h = (d[:-2] * _M1 + d[1:-1]) * _M2 + d[2:]
    return (h & np.uint64(_DIM - 1)).astype(np.int64)


def _trigram_vector(text: str) -> np.ndarray:
    idx = _trigram_indices(text)
    v = np.bincount(idx, minlength=_DIM).astype(np.float32) if len(idx) else np.zeros(
        _DIM, dtype=np.float32
    )
    n = np.linalg.norm(v)
    return v / n if n > 0 else v


# Fixed-point model weights. Integer scoring makes argmax EXACTLY
# reproducible across engines (numpy int64 here, BIGINT sums in the DuckDB
# twin) — float dot products agree only to ulp, and an ulp decides ties.
# 2^20 scale keeps Σ(weight·count) < 2^53 for any realistic document.
_QUANT = 1 << 20

# Multinomial-NB concentration: weight(lang, bucket) = log1p(scale·p) where
# p = the bucket's trigram probability in that language's training corpus.
# Normalizing counts to probabilities makes the per-language smoothing
# constant IDENTICAL across languages, so it cancels under argmax and the
# weights stay sparse (0 for unseen buckets — the parquet model table only
# stores hit buckets). scale=300 measured best on the held-out close-pair
# matrix (es/pt 0.93/0.95 at 12 languages; overall 0.981 at 16).
_NB_SCALE = 300.0


def train_nb_weights(
    labeled: "list[tuple[str, str]]", *, scale: float = _NB_SCALE,
) -> tuple[np.ndarray, tuple[str, ...]]:
    """Train the production langid weights: per-language hashed-trigram
    probabilities → quantized log1p(scale·p) — a multinomial-naive-Bayes
    scorer in the exact (lang, bucket, weight) model-table shape
    ``classify_texts`` / ``write_centroid_parquet`` already speak. Close
    pairs (es/pt) need the probability-ratio weighting; plain centroid
    cosine loses on shared function words (measured 0.39 vs 0.93 es
    held-out accuracy)."""
    counts: dict[str, np.ndarray] = {}
    for lang, text in labeled:
        idx = _trigram_indices(text)
        c = counts.setdefault(lang, np.zeros(_DIM, dtype=np.float64))
        if len(idx):
            np.add.at(c, idx, 1.0)
    langs = tuple(sorted(counts))
    w = np.zeros((len(langs), _DIM), dtype=np.float64)
    for i, lang in enumerate(langs):
        p = counts[lang] / max(counts[lang].sum(), 1.0)
        w[i] = np.log1p(scale * p)
    return np.round(w * _QUANT).astype(np.int64), langs


def _default_training_corpus() -> "list[tuple[str, str]]":
    """Deterministic 16-language training corpus from the embedded word
    stocks (langid_data): 60 seeded word-salad sentences per language over
    the TRAIN split only — held-out words never enter the model, so the
    accuracy test in tests/ measures subword generalization. zh trains on
    the full char stock (charset language: real unseen Chinese text is made
    of common characters; holdout there is sentence-level)."""
    from .langid_data import LANGID_LANGS, make_sentences, split_words

    labeled = []
    for i, lang in enumerate(LANGID_LANGS):
        train_w, held_w = split_words(lang)
        pool = train_w + held_w if lang == "zh" else train_w
        labeled.extend(
            (lang, s)
            for s in make_sentences(pool, lang=lang, n=60, seed=7 + i,
                                    min_words=10, max_words=32)
        )
    return labeled


def train_centroids_from_texts(
    labeled: "list[tuple[str, str]]",
) -> tuple[np.ndarray, tuple[str, ...]]:
    """Production swap path: train the same quantized-centroid model from a
    REAL labeled corpus — (lang, text) pairs, e.g. collected from a labeled
    sample table — instead of the embedded micro-vocab. Returns
    (int64 centroid matrix, langs) for ``classify_texts(model=...)`` /
    ``write_centroid_parquet``. A fastText export can be adapted the same
    way: any (lang, bucket, weight) table drives the identical scoring and
    SQL-oracle machinery."""
    by_lang: dict[str, list[np.ndarray]] = {}
    for lang, text in labeled:
        by_lang.setdefault(lang, []).append(_trigram_vector(text))
    langs = tuple(sorted(by_lang))
    rows = [np.mean(by_lang[lang], axis=0) for lang in langs]
    cent = np.round(np.stack(rows).astype(np.float64) * _QUANT).astype(np.int64)
    return cent, langs


def _model_from_table(t) -> tuple[np.ndarray, tuple[str, ...]]:
    """(lang, bucket, weight) arrow table → dense int64 matrix + langs."""
    langs = tuple(sorted(set(t.column("lang").to_pylist())))
    li = {lang: i for i, lang in enumerate(langs)}
    cent = np.zeros((len(langs), _DIM), dtype=np.int64)
    for lang, bucket, weight in zip(
        t.column("lang").to_pylist(),
        t.column("bucket").to_pylist(),
        t.column("weight").to_pylist(),
    ):
        cent[li[lang], bucket] = weight
    return cent, langs


def load_centroid_parquet(path: str) -> tuple[np.ndarray, tuple[str, ...]]:
    """Inverse of ``write_centroid_parquet`` — load a model table (trained
    here or exported from elsewhere) for engine-side scoring."""
    import pyarrow.parquet as pq

    return _model_from_table(pq.read_table(path))


# Chunking/masking machinery shared with the perplexity LM and the
# winnowing/CDC gram hasher lives in text_analysis (the model-free module
# lowest in the import graph); re-exported here for back-compat.
from .text_analysis import _CHUNK_BYTES, _chunk_bounds, _window3_keep  # noqa: E402


def _batch_trigram_scores(enc: "list[bytes]", mat: np.ndarray) -> np.ndarray:
    """(n_classes, n_docs) int64 score sums over each doc's hashed-trigram
    stream, for pre-padded utf-8 byte strings (each ≥ 3 bytes — the
    ``f" {t.lower()} "`` form `_trigram_indices` hashes).

    One numpy pass per ~128 KiB CHUNK of docs: each chunk is joined into a
    single byte blob, the polynomial hash runs once over it, the 2
    positions per doc whose window would straddle a doc boundary are
    masked out, and per-class sums come from one gather +
    ``np.add.reduceat`` per class. The corpus averages ~200 bytes/doc, so
    the per-doc form paid more in numpy call dispatch (unique + matmul per
    doc, ~40 µs/doc) than in actual arithmetic — batching measured 3-4x on
    the bench corpus; the chunk cap keeps the win while keeping every
    temporary L2-resident (see `_CHUNK_BYTES` — whole-Arrow-batch passes
    saturated DRAM bandwidth at 32 concurrent workers). Bit-exact vs the
    per-doc ``cent[:, u] @ c``: int64 addition is associative and the
    masked hash stream equals the concatenation of per-doc streams."""
    lens = np.fromiter((len(e) for e in enc), dtype=np.int64, count=len(enc))
    scores = np.empty((mat.shape[0], len(enc)), dtype=np.int64)
    for lo, hi in _chunk_bounds(lens, _CHUNK_BYTES):
        blob = b"".join(enc[lo:hi])
        data = np.frombuffer(blob, dtype=np.uint8).astype(np.uint64)
        h = (data[:-2] * _M1 + data[1:-1]) * _M2 + data[2:]
        idx_all = (h & np.uint64(_DIM - 1)).astype(np.int64)
        idx = idx_all[_window3_keep(lens[lo:hi], len(idx_all))]
        counts = lens[lo:hi] - 2  # trigrams per doc; ≥ 1 (docs are ≥ 3 bytes)
        starts = np.zeros(hi - lo, dtype=np.int64)
        np.cumsum(counts[:-1], out=starts[1:])
        for k in range(mat.shape[0]):
            scores[k, lo:hi] = np.add.reduceat(mat[k][idx], starts)
    return scores


def classify_texts(texts, model=None) -> list[str]:
    """Batch classify: integer trigram scores against quantized centroids,
    argmax (ties → first = alphabetical). Empty/ASCII-whitespace text →
    'und' (explicit ASCII_WS charset, matching the SQL twin's regex class —
    bare strip() would also treat \\x1c-\\x1f as whitespace and diverge).
    ``model`` = (int64 centroids, langs) overrides the embedded micro-model
    (see ``train_centroids_from_texts`` / ``load_centroid_parquet``).

    Scoring is the fully-batched `_batch_trigram_scores` gather — one numpy
    pass per batch, not per doc; a document still only touches its own
    trigram buckets (O(doc bytes), never O(_DIM))."""
    cent, langs = model if model is not None else (_CENTROIDS_INT, _CENTROID_LANGS)
    out = ["und"] * len(texts)
    enc: list[bytes] = []
    pos: list[int] = []
    for i, t in enumerate(texts):
        if not t or not t.strip(ASCII_WS):
            continue
        enc.append(f" {t.lower()} ".encode("utf-8"))
        pos.append(i)
    if not enc:
        return out
    scores = _batch_trigram_scores(enc, cent)
    for j, i in zip(np.argmax(scores, axis=0), pos):
        out[i] = langs[int(j)]
    return out


def score_texts_top2(texts, model=None) -> "list[tuple[str, int, str, int]]":
    """Per text: (top_lang, top_score, second_lang, second_score) under the
    same integer scoring as :func:`classify_texts` — the CCNet-style
    confidence surface (the margin between the two is the decision
    confidence; a thin margin flags a doc for the ambiguous-language
    bucket). Ordering: score DESC, lang ASC — identical to the argmax
    first-wins tie-break and to the SQL twin's ORDER BY. Empty/whitespace
    text → ('und', 0, 'und', 0)."""
    cent, langs = model if model is not None else (_CENTROIDS_INT, _CENTROID_LANGS)
    lang_arr = np.array(langs)
    out: "list[tuple[str, int, str, int]]" = [("und", 0, "und", 0)] * len(texts)
    enc: list[bytes] = []
    pos: list[int] = []
    for i, t in enumerate(texts):
        if not t or not t.strip(ASCII_WS):
            continue
        enc.append(f" {t.lower()} ".encode("utf-8"))
        pos.append(i)
    if not enc:
        return out
    all_scores = _batch_trigram_scores(enc, cent)
    for j, i in enumerate(pos):
        scores = all_scores[:, j]
        order = np.lexsort((lang_arr, -scores))  # primary -score, then lang
        i1, i2 = int(order[0]), int(order[1])
        out[i] = (langs[i1], int(scores[i1]), langs[i2], int(scores[i2]))
    return out


def classify_series(texts) -> list[str]:
    """Any sequence of texts (each non-str as "") → default-model
    predictions: the module-level batch entry point for fused
    extra_scorers (extract_and_scan) — picklable by name, executors rebuild
    the import-time model on import."""
    return classify_texts(strings(texts))


# --- DuckDB twin: model-as-data + relational scoring -------------------------


def _centroid_table(model):
    """(int64 centroids, langs) → the sparse (lang, bucket, weight≠0) table."""
    import pyarrow as pa

    cent, model_langs = model
    langs, buckets, weights = [], [], []
    for li, lang in enumerate(model_langs):
        nz = np.nonzero(cent[li])[0]
        langs.extend([lang] * len(nz))
        buckets.extend(int(b) for b in nz)
        weights.extend(int(w) for w in cent[li, nz])
    return pa.table(
        {
            "lang": pa.array(langs, pa.string()),
            "bucket": pa.array(buckets, pa.int64()),
            "weight": pa.array(weights, pa.int64()),
        }
    )


def write_centroid_parquet(path: str, model=None, *, train_key: str | None = None) -> str:
    """Persist the quantized model as (lang, bucket, weight≠0) rows — the
    "model table" a production pipeline would keep next to the corpus (and
    the swap point for a real fastText export). ``model`` defaults to the
    embedded model; ``train_key`` rides the schema metadata."""
    t = _centroid_table((_CENTROIDS_INT, _CENTROID_LANGS) if model is None else model)
    write_tables([t], [path], train_key)
    return path


# The embedded model LOADS from its persisted table and trains only when
# the table is absent or stale (functions/model_store.py): executors must
# not re-derive the model on every worker import. The key covers the
# training data, the training/featurization functions and every constant,
# so editing train_nb_weights or the trigram hash invalidates the table.
SPEC = ModelSpec(
    files=("langid_centroids.parquet",),
    key_sources=(train_nb_weights, _trigram_indices, _default_training_corpus),
    key_extra=f"|nb|{_NB_SCALE}|{_DIM}|{_QUANT}|n=60|seed=7".encode(),
    train=lambda: train_nb_weights(_default_training_corpus()),
    encode=lambda model: [_centroid_table(model)],
    decode=lambda tables: _model_from_table(*tables),
)
_CENTROIDS_INT, _CENTROID_LANGS = load_or_train(SPEC)


def _scoring_ctes(centroid_path: str, table: str) -> str:
    """Shared CTE chain for the langid twins: the same 65599-polynomial
    hashed byte trigrams over ' '||lower(text)||' ', BIGINT-summed against
    the persisted model table, every (doc, lang) cell ranked by
    (score DESC, lang ASC). Valid for ASCII corpora (ascii(char) == the
    UTF-8 byte); the engine itself handles arbitrary UTF-8."""
    return f"""
WITH cent AS (SELECT lang, bucket, weight FROM read_parquet('{centroid_path}')),
padded AS (SELECT doc_id, ' ' || lower(text) || ' ' AS t FROM {table}),
tri AS (
  SELECT doc_id,
    unnest(list_transform(range(1, strlen(t) - 1),
      i -> ((CAST(ascii(substr(t, CAST(i AS INT), 1)) AS BIGINT) * 65599
             + ascii(substr(t, CAST(i AS INT) + 1, 1))) * 65599
            + ascii(substr(t, CAST(i AS INT) + 2, 1))) & {_DIM - 1})) AS bucket
  FROM padded WHERE strlen(t) >= 3
),
scores AS (
  SELECT t.doc_id, c.lang, sum(c.weight) AS score
  FROM tri t JOIN cent c USING (bucket)
  GROUP BY 1, 2
),
grid AS (
  SELECT d.doc_id, l.lang, coalesce(s.score, 0) AS score
  FROM (SELECT doc_id FROM {table}) d
  CROSS JOIN (SELECT DISTINCT lang FROM cent) l
  LEFT JOIN scores s ON s.doc_id = d.doc_id AND s.lang = l.lang
),
ranked AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang ASC) AS rk
  FROM grid
)"""


# 'und' iff the doc has no character outside the explicit 6-char ASCII
# whitespace class — the SAME class the engine strips (str.strip() with an
# explicit charset, NOT bare strip(): Python's default also strips
# \x1c-\x1f/\x85, which this RE2 class does not, and that divergence was a
# live parity bug on control-char-only docs)
ASCII_WS = " \t\n\r\f\v"
_UND_SQL = "d.text IS NULL OR NOT regexp_matches(d.text, '[^ \\t\\n\\r\\f\\v]')"


def langid_ngram_oracle_sql(centroid_path: str, *, table: str = "documents") -> str:
    """DuckDB twin of ``classify_texts``: argmax with alphabetical
    tie-break over the shared scoring CTEs."""
    return f"""{_scoring_ctes(centroid_path, table)}
SELECT d.doc_id,
  CASE WHEN {_UND_SQL} THEN 'und' ELSE b.lang END AS lang_pred
FROM {table} d JOIN ranked b ON b.doc_id = d.doc_id AND b.rk = 1
"""


def langid_scores_oracle_sql(centroid_path: str, *, table: str = "documents") -> str:
    """DuckDB twin of ``score_texts_top2``: top-2 (lang, score) per doc
    from the same ranking, margin = s1 - s2; empty/whitespace docs emit
    the ('und', 0, 'und', 0) degenerate row like the engine."""
    return f"""{_scoring_ctes(centroid_path, table)}
SELECT d.doc_id,
  CASE WHEN {_UND_SQL} THEN 'und' ELSE b1.lang END AS lang_top,
  CAST(CASE WHEN {_UND_SQL} THEN 0 ELSE b1.score END AS BIGINT) AS score_top,
  CASE WHEN {_UND_SQL} THEN 'und' ELSE b2.lang END AS lang_second,
  CAST(CASE WHEN {_UND_SQL} THEN 0 ELSE b2.score END AS BIGINT) AS score_second,
  CAST(CASE WHEN {_UND_SQL} THEN 0 ELSE b1.score - b2.score END AS BIGINT) AS margin
FROM {table} d
JOIN ranked b1 ON b1.doc_id = d.doc_id AND b1.rk = 1
JOIN ranked b2 ON b2.doc_id = d.doc_id AND b2.rk = 2
"""
