"""KenLM-style n-gram perplexity scoring over Arrow batches of texts.

The north-star spec calls for KenLM-style LM scoring (CCNet lineage) as a
quality signal. The sandbox has no KenLM binary and no external model
downloads, so the model is a **byte-TRIGRAM language model with add-one
smoothing and bigram-context backoff, trained at import time on the
embedded English word stock** (functions/langid_data.py train split) —
tiny, but architecturally a real backoff n-gram LM: per-document
perplexity = exp(-mean log P(b_i | b_{i-2} b_{i-1})) over the byte stream,
where P backs off to 1/(n(ctx)+256) for an unseen byte in a seen context
and to 1/256 for an unseen context (the add-one row mass, exactly).

The model is stored SPARSE — only observed trigrams and contexts, as two
(key, logp) tables — and scored DENSE: every model is built through
``_build_lm``, which turns those tables into a direct-mapped two-level
table (a 2^16-entry context → row index and one 256-entry log-prob row
per observed context, with the backoff resolved into the rows), so a
lookup is one indexed load per trigram. The document's UTF-8 bytes become
packed trigram keys and the whole batch is looked up at once. No
per-character Python. A real KenLM export maps onto the same (key, logp)
tables.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from ..crossing import strings
from .model_store import ModelSpec, load_or_train, write_tables


class TrigramLM(NamedTuple):
    """Backoff LM: the sparse packed keys + log-probs, and the dense lookup
    table built from them (``_build_lm``; build every model through it).
    tri key = p2·65536 + p1·256 + c; ctx key = p2·256 + p1."""

    tri_keys: np.ndarray   # int64, unique, in [0, 2^24)
    tri_logp: np.ndarray   # float64, log((n3+1)/(n2+256))
    ctx_keys: np.ndarray   # int64, unique, in [0, 2^16)
    ctx_logp: np.ndarray   # float64, log(1/(n2+256)) — unseen byte in ctx
    default_logp: float    # log(1/256) — unseen context
    ctx_row: np.ndarray    # int64[2^16], ctx key → offset of its row in rows
    rows: np.ndarray       # float64[256·(1 + contexts)], row 0 = unseen ctx


DEFAULT_LOGP = float(np.log(1.0 / 256.0))
# degenerate score for docs too short to have a trigram: a stream of pure
# surprise, exp(-default) = 256 exactly
DEGENERATE_PPL = float(np.exp(-DEFAULT_LOGP))

# CCNet-style head/tail quality gate for the DEFAULT embedded LM: the
# driver corpus scores median≈40 / p90≈48 under it, so 60 trims the
# genuinely-worst tail instead of never firing. The single source of
# truth — entry() and bench.py both import it; recalibrate HERE when the
# LM changes scale.
DEFAULT_PPL_MAX = 60.0


def train_trigram_lm(texts) -> TrigramLM:
    """Count byte trigrams/contexts over the corpus, add-one smooth."""
    all_k3 = []
    for t in texts:
        b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8).astype(np.int64)
        if len(b) >= 3:
            all_k3.append((b[:-2] << 16) | (b[1:-1] << 8) | b[2:])
    if all_k3:
        k3 = np.concatenate(all_k3)
        tri_keys, n3 = np.unique(k3, return_counts=True)
        ctx_keys, n2 = np.unique(k3 >> 8, return_counts=True)
    else:
        tri_keys = n3 = ctx_keys = n2 = np.empty(0, dtype=np.int64)
    # n2 lookup for each trigram's context (contexts of observed trigrams
    # are observed by construction → exact match guaranteed)
    ctx_of_tri = np.searchsorted(ctx_keys, tri_keys >> 8)
    denom = n2[ctx_of_tri] + 256.0
    return _build_lm(tri_keys, np.log((n3 + 1.0) / denom),
                     ctx_keys, np.log(1.0 / (n2 + 256.0)))


def _build_lm(tri_keys, tri_logp, ctx_keys, ctx_logp) -> TrigramLM:
    """The one constructor of every ``TrigramLM`` (training and every
    table load): checks the keys, then builds the lookup table.

    Raises ``ValueError`` for a trigram key outside [0, 2^24), a context
    key outside [0, 2^16) or a duplicated key in either table — a loaded
    table is outside input, and a silent first-wins or an out-of-range
    alias would score against the wrong row.

    The table resolves the backoff chain (trigram → context → constant)
    once: ``ctx_row`` maps each of the 2^16 context keys to the offset of
    its 256-entry row in ``rows``. Row 0 is the unseen context, filled with
    ``default_logp``. Every context of either table gets one row, prefilled
    with its ``ctx_logp`` (``default_logp`` when a trigram's context is
    missing from the context table) and then overwritten at its observed
    trigrams with their ``tri_logp``. A lookup is
    ``rows[ctx_row[k3 >> 8] + (k3 & 255)]``. The key space bounds the table
    at 65,537 rows × 2 KiB = 128 MiB; the embedded LM's 206 contexts take
    0.4 MiB."""
    tri_keys = np.asarray(tri_keys, dtype=np.int64)
    ctx_keys = np.asarray(ctx_keys, dtype=np.int64)
    tri_logp = np.asarray(tri_logp, dtype=np.float64)
    ctx_logp = np.asarray(ctx_logp, dtype=np.float64)
    for name, keys, bits in (("trigram", tri_keys, 24), ("context", ctx_keys, 16)):
        if len(keys) and (keys.min() < 0 or keys.max() >= 1 << bits):
            raise ValueError(f"{name} key outside [0, 2^{bits})")
        if len(np.unique(keys)) != len(keys):
            raise ValueError(f"duplicated {name} key")
    contexts = np.union1d(ctx_keys, tri_keys >> 8)
    ctx_row = np.zeros(1 << 16, dtype=np.int64)
    ctx_row[contexts] = np.arange(1, len(contexts) + 1) * 256
    backoff = np.full(len(contexts) + 1, DEFAULT_LOGP)
    backoff[ctx_row[ctx_keys] >> 8] = ctx_logp
    rows = np.repeat(backoff, 256)
    rows[ctx_row[tri_keys >> 8] + (tri_keys & 255)] = tri_logp
    return TrigramLM(tri_keys=tri_keys, tri_logp=tri_logp, ctx_keys=ctx_keys,
                     ctx_logp=ctx_logp, default_logp=DEFAULT_LOGP,
                     ctx_row=ctx_row, rows=rows)


def _seed_corpus() -> list[str]:
    """Deterministic in-domain corpus: seeded word-salad sentences from the
    English TRAIN word split (langid_data) — 'good text' for the quality
    gate, disjoint from the langid held-out material."""
    from .langid_data import make_sentences, split_words

    train_w, _ = split_words("en")
    return [
        s + "."
        for s in make_sentences(train_w, lang="en", n=400, seed=31,
                                min_words=8, max_words=28)
    ]


def _lookup_logps(k3: np.ndarray, lm: TrigramLM) -> np.ndarray:
    """Vectorized log-prob lookup for a stream of trigram keys (any number
    of docs' keys concatenated — the lookup is positionwise): one indexed
    load from the model's direct-mapped table per key."""
    return lm.rows[lm.ctx_row[k3 >> 8] + (k3 & 255)]


def _doc_logps(b: np.ndarray, lm: TrigramLM) -> np.ndarray:
    """Per-trigram log-probs for one doc's byte array (reference form —
    tests pin ``perplexity_batch`` against a loop over this)."""
    k3 = (b[:-2] << 16) | (b[1:-1] << 8) | b[2:]
    return _lookup_logps(k3, lm)


def perplexity_batch(texts, lm: TrigramLM | None = None) -> np.ndarray:
    """Whole-batch scoring: every doc's trigram keys are concatenated (with
    the 2 boundary-straddling windows per doc masked out) so the table
    lookup runs ONCE per chunk of docs instead of once per ~200-byte doc —
    the per-doc form spent ~45 µs/doc in numpy dispatch, 6x the arithmetic.
    Bit-identical to the per-doc form ``exp(-_doc_logps(b).mean())``:
    lookups are positionwise, each doc's sum is ``np.add.reduce`` (the
    pairwise summation ``np.mean`` runs) over exactly its own slice of the
    lp stream, divided by its trigram count as ``np.mean`` does, and one
    vectorized ``np.exp`` finishes the batch. Docs are processed in
    ~128 KiB chunks (langid._CHUNK_BYTES rationale: whole-Arrow-batch
    passes made every temporary DRAM-sized and 32 concurrent workers
    saturated memory bandwidth; chunked, temporaries stay L2-resident)."""
    from .text_analysis import _CHUNK_BYTES, _chunk_bounds, _window3_keep

    model = _LM if lm is None else lm
    out = np.full(len(texts), DEGENERATE_PPL, dtype=np.float64)
    enc: list[bytes] = []
    pos: list[int] = []
    for i, t in enumerate(texts):
        b = t.encode("utf-8") if t else b""
        if len(b) >= 3:
            enc.append(b)
            pos.append(i)
    if not enc:
        return out
    lens = np.fromiter((len(e) for e in enc), dtype=np.int64, count=len(enc))
    sums = np.empty(len(enc), dtype=np.float64)
    for lo, hi in _chunk_bounds(lens, _CHUNK_BYTES):
        # int32 keys (< 2^24) halve the temporaries' bytes against int64
        data = np.frombuffer(b"".join(enc[lo:hi]), dtype=np.uint8).astype(np.int32)
        k3_all = (data[:-2] << 16) | (data[1:-1] << 8) | data[2:]
        lp = _lookup_logps(
            k3_all[_window3_keep(lens[lo:hi], len(k3_all))], model
        )
        ends = np.cumsum(lens[lo:hi] - 2).tolist()
        sums[lo:hi] = [np.add.reduce(lp[s:e])
                       for s, e in zip([0] + ends[:-1], ends)]
    out[pos] = np.exp(-(sums / (lens - 2)))
    return out


def perplexity_series(texts) -> np.ndarray:
    """Any sequence of texts (each non-str as "") → default-model
    perplexities: the module-level batch entry point for fused
    extra_scorers (extract_and_scan) — picklable by name."""
    return perplexity_batch(strings(texts))


# --- DuckDB twin: model-as-data + relational scoring -------------------------


def _lm_tables(lm: TrigramLM) -> list:
    """The LM as two sparse (key, logp) tables: trigrams, then contexts."""
    import pyarrow as pa

    return [pa.table({"key": pa.array(keys, pa.int64()),
                      "logp": pa.array(logp, pa.float64())})
            for keys, logp in ((lm.tri_keys, lm.tri_logp), (lm.ctx_keys, lm.ctx_logp))]


def _lm_from_tables(tables) -> TrigramLM:
    """Inverse of ``_lm_tables``; raises ``ValueError`` for out-of-range or
    duplicated keys (``_build_lm``). The lookup table does not need the
    keys sorted."""
    tri, ctx = ((np.asarray(t.column("key").to_numpy(), dtype=np.int64),
                 np.asarray(t.column("logp").to_numpy(), dtype=np.float64))
                for t in tables)
    return _build_lm(*tri, *ctx)


def write_trigram_parquet(tri_path: str, ctx_path: str,
                          lm: TrigramLM | None = None, *,
                          train_key: str | None = None) -> tuple[str, str]:
    """Persist the LM as two sparse (key, logp) tables — the model tables a
    production pipeline keeps next to the corpus (swap point for a real
    KenLM export). ``lm`` defaults to the embedded seed model;
    ``train_key`` rides both files' schema metadata."""
    write_tables(_lm_tables(_LM if lm is None else lm), [tri_path, ctx_path], train_key)
    return tri_path, ctx_path


def load_trigram_parquet(tri_path: str, ctx_path: str) -> TrigramLM:
    """Inverse of ``write_trigram_parquet`` — load (trained here or adapted
    from a real KenLM export) for engine-side scoring."""
    import pyarrow.parquet as pq

    return _lm_from_tables([pq.read_table(tri_path), pq.read_table(ctx_path)])


# The embedded LM loads from its persisted tables and trains only when they
# are absent or stale (functions/model_store.py). Editing the smoothing or
# the corpus recipe changes the key and so invalidates the tables.
SPEC = ModelSpec(
    files=("trigram_logp.parquet", "trigram_ctx_logp.parquet"),
    key_sources=(train_trigram_lm, _seed_corpus),
    key_extra=b"|lm|trigram-addone-backoff|n=400|seed=31|mw=8|xw=28",
    train=lambda: train_trigram_lm(_seed_corpus()),
    encode=_lm_tables,
    decode=_lm_from_tables,
)
_LM = load_or_train(SPEC)


def perplexity_oracle_sql(tri_path: str, ctx_path: str, *,
                          table: str = "documents", digits: int = 4) -> str:
    """DuckDB twin of ``round(text_udf(perplexity_batch, "double")(text), digits)``: unnest
    packed byte-trigram keys, LEFT JOIN the sparse trigram table, back off
    to the context table, then the constant; exp(-avg). Valid for ASCII
    corpora (ascii(char) == the UTF-8 byte); the engine itself handles
    arbitrary UTF-8."""
    return f"""
WITH tri AS (SELECT key, logp FROM read_parquet('{tri_path}')),
ctx AS (SELECT key AS ckey, logp AS clogp FROM read_parquet('{ctx_path}')),
trip AS (
  SELECT doc_id,
    unnest(list_transform(range(1, strlen(text) - 1),
      i -> (CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT) * 65536
            + ascii(substr(text, CAST(i AS INT) + 1, 1)) * 256
            + ascii(substr(text, CAST(i AS INT) + 2, 1))))) AS k
  FROM {table} WHERE strlen(text) >= 3
),
scored AS (
  SELECT doc_id, avg(coalesce(t.logp, c.clogp, {DEFAULT_LOGP!r})) AS m
  FROM trip LEFT JOIN tri t ON t.key = trip.k
            LEFT JOIN ctx c ON c.ckey = trip.k // 256
  GROUP BY doc_id
)
SELECT d.doc_id,
  round(CASE WHEN d.text IS NULL OR strlen(d.text) < 3 THEN {DEGENERATE_PPL!r}
             ELSE exp(-s.m) END, {digits}) AS ppl
FROM {table} d LEFT JOIN scored s USING (doc_id)
"""
