"""Pluggable model tables: train-from-corpus, parquet roundtrip, and the
swap path into the same scoring machinery (no Spark needed)."""

from __future__ import annotations

import numpy as np

from safe_zone_spark.functions.langid import (
    classify_texts,
    load_centroid_parquet,
    train_centroids_from_texts,
    write_centroid_parquet,
)
from safe_zone_spark.functions.perplexity import (
    DEGENERATE_PPL,
    perplexity_batch,
    train_trigram_lm,
    write_trigram_parquet,
)


def test_train_and_roundtrip_centroids(tmp_path):
    labeled = [
        ("fr", "le chat est sur la table et le chien dort"),
        ("fr", "je suis dans la maison avec les enfants"),
        ("it", "il gatto e sul tavolo e il cane dorme"),
        ("it", "sono nella casa con i bambini oggi"),
    ]
    model = train_centroids_from_texts(labeled)
    cent, langs = model
    assert langs == ("fr", "it")
    assert cent.dtype == np.int64

    # the corpus-trained model drives the SAME classifier
    preds = classify_texts(
        ["le chien est dans la maison", "il cane e nella casa"], model=model
    )
    assert preds == ["fr", "it"]

    # parquet roundtrip is lossless → identical predictions
    path = str(tmp_path / "cent.parquet")
    write_centroid_parquet(path, model=model)
    loaded = load_centroid_parquet(path)
    assert loaded[1] == langs
    assert np.array_equal(loaded[0], cent)
    assert classify_texts(["le chien est dans la maison"], model=loaded) == ["fr"]


def test_custom_trigram_lm_scores_lower_on_in_domain_text(tmp_path):
    lm = train_trigram_lm(["abcabcabc abc abcabc"] * 5)
    in_domain, off_domain = perplexity_batch(["abcabc", "zqxzqx"], lm)
    assert in_domain < off_domain
    # backoff tiers: a seen trigram beats both fallbacks; an unseen byte in
    # a KNOWN context costs n(ctx)+256 (add-one row mass — more surprising
    # than total ignorance), an unseen context exactly 256
    seen, backoff, unseen = perplexity_batch(["abc", "abz", "zzz"], lm)
    assert seen < unseen < backoff
    assert unseen == DEGENERATE_PPL and abs(unseen - 256.0) < 1e-9
    # degenerate: too short for one trigram
    assert perplexity_batch(["ab", ""], lm).tolist() == [DEGENERATE_PPL] * 2
    # sparse parquet roundtrip preserves every key/logp bit
    import pyarrow.parquet as pq

    tri, ctx = write_trigram_parquet(
        str(tmp_path / "tri.parquet"), str(tmp_path / "ctx.parquet"), lm
    )
    t = pq.read_table(tri)
    assert np.array_equal(t.column("key").to_numpy(), lm.tri_keys)
    assert np.array_equal(t.column("logp").to_numpy(), lm.tri_logp)
    c = pq.read_table(ctx)
    assert np.array_equal(c.column("key").to_numpy(), lm.ctx_keys)


def test_ood_model_import_engine_matches_oracle(tmp_path):
    """VERDICT r3 #6: a model whose distribution deliberately differs from
    the embedded generator (trained on REVERSED word stocks — same bytes,
    alien trigram statistics) must round-trip through the parquet swap path
    and score IDENTICALLY in the engine (classify_texts — the UDF body) and
    the DuckDB relational oracle reading the same table."""
    import duckdb

    from safe_zone_spark.functions.langid import (
        langid_ngram_oracle_sql,
        train_nb_weights,
    )
    from safe_zone_spark.functions.langid_data import make_sentences, split_words

    labeled = []
    for i, lang in enumerate(("de", "en", "es")):
        train_w, _ = split_words(lang)
        rev = [w[::-1] for w in train_w]  # OOD: reversed vocabulary
        labeled.extend(
            (lang, s)
            for s in make_sentences(rev, lang=lang, n=30, seed=100 + i,
                                    min_words=8, max_words=20)
        )
    model = train_nb_weights(labeled)
    path = str(tmp_path / "ood_cent.parquet")
    write_centroid_parquet(path, model=model, train_key="ood-fixture")
    loaded = load_centroid_parquet(path)
    assert np.array_equal(loaded[0], model[0]) and loaded[1] == model[1]

    # score held-out reversed sentences + plain-English controls
    docs = []
    for i, lang in enumerate(("de", "en", "es")):
        _, held_w = split_words(lang)
        rev = [w[::-1] for w in held_w]
        docs.extend(make_sentences(rev, lang=lang, n=5, seed=200 + i,
                                   min_words=8, max_words=16))
    docs.append("the quick brown fox jumps over the lazy dog")
    docs.append("")
    engine_preds = classify_texts(docs, model=loaded)

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{d}')" for i, d in enumerate(docs))
        + ") t(doc_id, text)"
    )
    oracle = dict(
        con.execute(langid_ngram_oracle_sql(path, table="docs")).fetchall()
    )
    assert [oracle[i] for i in range(len(docs))] == engine_preds
    # the OOD model genuinely classifies its own distribution (not 'und')
    assert set(engine_preds[:15]) <= {"de", "en", "es"}
    assert engine_preds[-1] == "und"


def test_ood_trigram_lm_import_engine_matches_oracle(tmp_path):
    """Same OOD swap proof for the perplexity LM: trained on reversed
    English, loaded back via load_trigram_parquet, engine scores ==
    DuckDB oracle scores on the same parquet tables."""
    import duckdb

    from safe_zone_spark.functions.langid_data import make_sentences, split_words
    from safe_zone_spark.functions.perplexity import (
        load_trigram_parquet,
        perplexity_oracle_sql,
    )

    train_w, held_w = split_words("en")
    corpus = [s + "." for s in make_sentences([w[::-1] for w in train_w],
                                              lang="en", n=60, seed=77)]
    lm = train_trigram_lm(corpus)
    tri = str(tmp_path / "ood_tri.parquet")
    ctx = str(tmp_path / "ood_ctx.parquet")
    write_trigram_parquet(tri, ctx, lm, train_key="ood-fixture")
    loaded = load_trigram_parquet(tri, ctx)
    assert np.array_equal(loaded.tri_keys, lm.tri_keys)
    assert np.array_equal(loaded.tri_logp, lm.tri_logp)

    docs = make_sentences([w[::-1] for w in held_w], lang="en", n=5, seed=88)
    docs += ["the quick brown fox", "zz"]
    engine = [round(float(v), 4) for v in perplexity_batch(docs, loaded)]

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{d}')" for i, d in enumerate(docs))
        + ") t(doc_id, text)"
    )
    oracle = dict(
        con.execute(perplexity_oracle_sql(tri, ctx, table="docs")).fetchall()
    )
    assert [oracle[i] for i in range(len(docs))] == engine
    # in-domain (reversed held-out words) scores lower than plain English
    assert max(engine[:5]) < engine[5]


def _write_kv(path, keys, logps):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"key": pa.array(keys, pa.int64()),
                             "logp": pa.array(logps, pa.float64())}), path)
    return path


def test_loaded_trigram_keys_are_checked(tmp_path):
    """load_trigram_parquet reads outside input: a key outside its packed
    range would alias another context's row, and a duplicated key would
    silently keep one of its log-probs. All three raise."""
    import pytest

    from safe_zone_spark.functions.perplexity import load_trigram_parquet

    tri = str(tmp_path / "tri.parquet")
    ctx = str(tmp_path / "ctx.parquet")
    good_tri = ([0x616263, 0x616264], [-1.0, -2.0])
    good_ctx = ([0x6162], [-5.0])
    cases = [
        ("trigram key outside", ([0x616263, 1 << 24], [-1.0, -2.0]), good_ctx),
        ("trigram key outside", ([-1, 0x616263], [-1.0, -2.0]), good_ctx),
        ("context key outside", good_tri, ([0x6162, 1 << 16], [-5.0, -6.0])),
        ("context key outside", good_tri, ([-1], [-5.0])),
        ("duplicated trigram key", ([0x616263, 0x616263], [-1.0, -2.0]), good_ctx),
        ("duplicated context key", good_tri, ([0x6162, 0x6162], [-5.0, -6.0])),
    ]
    for msg, (tk, tl), (ck, cl) in cases:
        _write_kv(tri, tk, tl)
        _write_kv(ctx, ck, cl)
        with pytest.raises(ValueError, match=msg):
            load_trigram_parquet(tri, ctx)
    _write_kv(tri, *good_tri)
    _write_kv(ctx, *good_ctx)
    load_trigram_parquet(tri, ctx)


def test_trigram_with_missing_context_backs_off_to_the_constant(tmp_path):
    """A trigram whose context is absent from the context table keeps its
    own log-prob; every other byte after that context scores the unseen
    constant, as if the context had never been seen."""
    from safe_zone_spark.functions.perplexity import (
        DEFAULT_LOGP,
        _doc_logps,
        load_trigram_parquet,
    )

    # "abc" stored but its context "ab" is not; context "xy" is stored
    lm = load_trigram_parquet(
        _write_kv(str(tmp_path / "tri.parquet"), [0x616263], [-1.5]),
        _write_kv(str(tmp_path / "ctx.parquet"), [0x7879], [-7.0]),
    )
    b = np.frombuffer(b"abcabdxyzxyq", dtype=np.uint8).astype(np.int64)
    #      abc   bca   cab   abd   bdx   dxy   xyz   yzx   zxy   xyq
    want = [-1.5, DEFAULT_LOGP, DEFAULT_LOGP, DEFAULT_LOGP, DEFAULT_LOGP,
            DEFAULT_LOGP, -7.0, DEFAULT_LOGP, DEFAULT_LOGP, -7.0]
    assert _doc_logps(b, lm).tolist() == want


def test_lookup_table_equals_sparse_backoff_on_every_key(tmp_path):
    """For all 2^24 trigram keys, the direct-mapped table answers exactly
    the sparse backoff definition computed here from the model's own key
    arrays: the trigram's log-prob if the trigram is stored, else its
    context's if the context is stored, else the unseen constant. Runs on
    the embedded LM and on an LM trained on text with non-ASCII bytes,
    loaded back from parquet files whose rows are shuffled."""
    import pyarrow.parquet as pq

    from safe_zone_spark.functions.perplexity import (
        _LM,
        _lookup_logps,
        load_trigram_parquet,
    )

    mixed = train_trigram_lm([
        "naïve café — déjà vu, smörgåsbord", "Straße über Köln",
        "日本語のテキストです", "привет мир как дела", "plain ascii text",
    ])
    assert mixed.tri_keys.max() >= 0x800000  # lead bytes ≥ 0x80 are in play
    tri, ctx = write_trigram_parquet(str(tmp_path / "tri.parquet"),
                                     str(tmp_path / "ctx.parquet"), mixed)
    rng = np.random.default_rng(7)
    for path in (tri, ctx):
        t = pq.read_table(path)
        pq.write_table(t.take(rng.permutation(t.num_rows)), path)
    loaded = load_trigram_parquet(tri, ctx)

    for lm in (_LM, loaded):
        tri_order = np.argsort(lm.tri_keys)
        tri_keys, tri_logp = lm.tri_keys[tri_order], lm.tri_logp[tri_order]
        ctx_order = np.argsort(lm.ctx_keys)
        ctx_keys, ctx_logp = lm.ctx_keys[ctx_order], lm.ctx_logp[ctx_order]
        step = 1 << 20
        for lo in range(0, 1 << 24, step):
            k3 = np.arange(lo, lo + step, dtype=np.int64)
            want = np.full(step, lm.default_logp)
            k2 = k3 >> 8
            c = np.minimum(np.searchsorted(ctx_keys, k2), len(ctx_keys) - 1)
            hit = ctx_keys[c] == k2
            want[hit] = ctx_logp[c[hit]]
            t = np.minimum(np.searchsorted(tri_keys, k3), len(tri_keys) - 1)
            hit = tri_keys[t] == k3
            want[hit] = tri_logp[t[hit]]
            assert np.array_equal(_lookup_logps(k3, lm), want), hex(lo)


def test_batched_scoring_is_bit_identical_to_per_doc_forms():
    """The batched scorers (langid._batch_trigram_scores gather/reduceat,
    perplexity_batch's one-searchsorted-per-batch) replaced per-doc numpy
    loops for throughput (~3x on the ~200-byte bench corpus). The rewrite
    is only legal because it is BIT-identical: int64 sums are
    order-exact, the masked concatenated trigram stream equals the
    per-doc streams, and each doc's mean is still np.mean over its own
    lp slice. Pin that equivalence on a mixed bag of edge cases."""
    from safe_zone_spark.functions.langid import (
        _CENTROID_LANGS,
        _CENTROIDS_INT,
        ASCII_WS,
        _trigram_indices,
        classify_texts,
        score_texts_top2,
    )
    from safe_zone_spark.functions.perplexity import (
        _LM,
        _doc_logps,
        perplexity_batch,
    )
    from safe_zone_spark.functions.quality_model import (
        _CLASSES,
        _WEIGHTS,
        HI,
        LO,
        quality_scores,
    )

    texts = [
        "", " ", "   ", "a", "ab", "abc", "\x1c\x1d\x1f",  # und/degenerate edges
        "The quick brown fox jumps over the lazy dog.",
        "le chien est dans la maison",
        "日本語のテキストです",
        "привет мир как дела",
        "x" * 2000, "a b " * 300,
        "mixed UPPER lower 123 !@# punctuation",
    ]

    # langid: per-doc reference (the pre-batching implementation)
    ref_preds = []
    for t in texts:
        if not t or not t.strip(ASCII_WS):
            ref_preds.append("und")
            continue
        idx = _trigram_indices(t)
        u, c = np.unique(idx, return_counts=True)
        ref_preds.append(_CENTROID_LANGS[int(np.argmax(_CENTROIDS_INT[:, u] @ c))])
    assert classify_texts(texts) == ref_preds

    # top2 keeps the same guards and tie order
    top2 = score_texts_top2(texts)
    assert [r[0] for r in top2[7:]] == ref_preds[7:]
    assert top2[0] == ("und", 0, "und", 0)

    # perplexity: batched == exp(-mean(per-doc logps)), bitwise
    got = perplexity_batch(texts)
    from safe_zone_spark.functions.perplexity import DEGENERATE_PPL

    for i, t in enumerate(texts):
        b = np.frombuffer(t.encode(), dtype=np.uint8).astype(np.int64)
        want = (
            DEGENERATE_PPL
            if len(b) < 3
            else float(np.exp(-_doc_logps(b, _LM).mean()))
        )
        assert got[i] == want, (i, t[:20], got[i], want)

    # quality model: per-doc reference, no whitespace guard
    ih, il = _CLASSES.index(HI), _CLASSES.index(LO)
    ref_q = []
    for t in texts:
        idx = _trigram_indices(t or "")
        if len(idx) == 0:
            ref_q.append((0, 0))
            continue
        u, c = np.unique(idx, return_counts=True)
        s = _WEIGHTS[:, u] @ c
        ref_q.append((int(s[ih]), int(s[il])))
    assert quality_scores(texts) == ref_q


def test_oracle_sql_reads_the_persisted_model_tables():
    """The DuckDB twins read the tables the models persisted at import; they
    must not rewrite them. A second writer once dropped quality_nb's
    gate_threshold, forcing the next import to recalibrate."""
    from pathlib import Path

    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from safe_zone_spark.functions import model_store

    models = Path(model_store._MODELS_DIR)
    (models / "MODEL_KEY").unlink(missing_ok=True)
    sqls = {**entry.oracle_sql(), **entry.variant_oracle_sql()}
    assert str(models.resolve() / "quality_nb.parquet") in sqls["quality_model"]
    meta = pq.read_schema(models / "quality_nb.parquet").metadata
    assert {b"gate_threshold", b"train_key"} <= set(meta)
    assert not (models / "MODEL_KEY").exists()


def test_model_table_path_rejects_missing_and_stale_tables(tmp_path, monkeypatch):
    import pytest

    from safe_zone_spark.functions import model_store

    monkeypatch.setattr(model_store, "_MODELS_DIR", str(tmp_path))
    with pytest.raises(FileNotFoundError):
        model_store.model_table_path("c.parquet", "k1")
    write_centroid_parquet(str(tmp_path / "c.parquet"), train_key="k1")
    assert model_store.model_table_path("c.parquet", "k1") == str(tmp_path / "c.parquet")
    with pytest.raises(ValueError, match="train_key"):
        model_store.model_table_path("c.parquet", "k2")
