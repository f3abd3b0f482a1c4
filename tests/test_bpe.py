"""BPE tokenizer: three-way implementation parity (token-list fast path ≡
string-form spec ≡ DuckDB recursive CTE), trainer determinism, model-table
round-trip, and the BPE-budget retarget of mix/pack (VERDICT r4 #2)."""

from __future__ import annotations

import random

import duckdb
import pytest

from safe_zone_spark.crossing import text_udf
from safe_zone_spark.functions import bpe


def test_trainer_deterministic_and_sane():
    m1 = bpe.train_bpe_merges({"the": 10, "then": 5, "than": 4, "a": 9})
    m2 = bpe.train_bpe_merges({"the": 10, "then": 5, "than": 4, "a": 9})
    assert m1 == m2
    assert ("t", "h") in m1  # most frequent pair of this toy corpus
    # embedded model trained and non-trivial
    assert len(bpe._MERGES) == bpe.BPE_NUM_MERGES


def test_tokenize_word_matches_strform():
    rng = random.Random(3)
    alpha = "abcdefghijklmnopqrstuvwxyz你好世界straße"
    words = ["the", "information", "aaaa", "abababab", "x", ""] + [
        "".join(rng.choice(alpha) for _ in range(rng.randint(1, 30)))
        for _ in range(300)
    ]
    for w in words:
        if not w:
            continue
        assert bpe.tokenize_word(w) == bpe.tokenize_word_strform(w), w
        assert "".join(bpe.tokenize_word(w)) == w  # lossless


def test_overlong_word_counts_chars():
    w = "x" * (bpe.MAX_WORD_LEN + 1)
    assert len(bpe.tokenize_word(w)) == len(w)
    assert bpe.tokenize_word(w) == bpe.tokenize_word_strform(w)


def test_counts_split_semantics():
    nw, nt = bpe.bpe_token_counts(["a  b\t\nc", "", None, "\x1fx\x1f"])
    assert nw == [3, 0, 0, 1]
    assert nt[0] == 3 and nt[1] == 0 and nt[2] == 0 and nt[3] >= 1


def test_duckdb_twin_exact(tmp_path):
    """Random multilingual junk incl. separators/whitespace: SQL twin must
    reproduce every (n_words, bpe_tokens) pair bit-exactly."""
    path = str(tmp_path / "merges.parquet")
    bpe.write_bpe_parquet(path)
    rng = random.Random(42)
    alpha = "abcdefgqxyz 你好straße\t\n\x1f"
    texts = [
        "".join(rng.choice(alpha) for _ in range(rng.randint(0, 80)))
        for _ in range(150)
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(texts)))
    got = (
        con.execute(bpe.bpe_token_count_sql(path, table="t"))
        .fetchdf()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    nw, nt = bpe.bpe_token_counts(texts)
    assert got["n_words"].tolist() == nw
    assert got["bpe_tokens"].tolist() == nt


def test_model_roundtrip(tmp_path):
    path = str(tmp_path / "m.parquet")
    bpe.write_bpe_parquet(path)
    assert bpe.load_bpe_parquet(path) == bpe._MERGES


def test_foreign_model_drives_tokenizer(tmp_path):
    """OOD swap path: an externally supplied merge list (not the embedded
    one) must drive both the fast path and the string form identically."""
    merges = [("a", "b"), ("ab", "c"), ("x", "y")]
    assert bpe.tokenize_word("abcxy", merges) == ["abc", "xy"]
    assert bpe.tokenize_word_strform("abcxy", merges) == ["abc", "xy"]


def test_mix_and_pack_on_bpe_tokens(spark):
    """The r4 verdict's done-criterion: token_budget_sample and
    pack_sequences run on REAL BPE counts via token_col='bpe_tokens'
    (both operators already parameterize the token column — this pins the
    BPE currency end-to-end against a pandas recompute)."""
    from pyspark.sql import functions as F

    from safe_zone_spark.operators.packing import pack_sequences
    from safe_zone_spark.operators.sampling import (
        token_budget_sample,
        token_mixture_cutoffs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    with_tok = docs.select(
        "doc_id", "lang",
        text_udf(lambda t: bpe.bpe_token_counts(t)[1], "long")(F.col("text")).alias("bpe_tokens")
    ).cache()
    totals = {
        r[0]: int(r[1])
        for r in with_tok.groupBy("lang").agg(F.sum("bpe_tokens")).collect()
    }
    assert sum(totals.values()) > 0
    shares = {"en": 500_000, "de": 500_000}

    sampled = token_budget_sample(
        with_tok, shares, token_col="bpe_tokens"
    ).toPandas()
    # deterministic md5 decision ⇒ rerun yields the identical row set
    again = token_budget_sample(with_tok, shares, token_col="bpe_tokens").toPandas()
    assert sorted(sampled["doc_id"]) == sorted(again["doc_id"])
    # realized per-stratum token mass never exceeds the integer cutoff's
    # expectation bound by construction; strata outside shares are dropped
    assert set(sampled["lang"]) <= set(shares)
    assert token_mixture_cutoffs(totals, shares)  # cutoffs computable

    packed = pack_sequences(with_tok, 512, token_col="bpe_tokens").toPandas()
    # recompute the packing contract in pandas and compare exactly
    for _lang, grp in packed.sort_values("doc_id").groupby("lang"):
        cum = 0
        for _, row in grp.iterrows():
            t = int(row["bpe_tokens"])
            assert row["seq_start"] == cum // 512
            assert row["seq_offset"] == cum % 512
            assert row["seq_end"] == (cum + max(t - 1, 0)) // 512
            cum += t
    with_tok.unpersist()
