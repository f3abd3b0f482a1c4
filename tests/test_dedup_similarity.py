"""Dedup + similarity operators: planted near-dups, hand-checked values."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from safe_zone_spark.operators.dedup import (
    _simhash64,
    embedding_near_dup_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from safe_zone_spark.operators.similarity import (
    ann_lsh_topk,
    hyperplanes,
    lsh_buckets,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
NEAR = BASE.replace("warm", "cold")  # one word differs
OTHER = "completely different content about spark query engines and shuffles galore"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(0, BASE), (1, NEAR), (2, OTHER), (3, BASE)]  # 3 = exact dup of 0
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_exact_dup_full_signature_match(spark, docs):
    sigs = {r["doc_id"]: list(r["sigs"]) for r in minhash_signatures(docs).collect()}
    assert sigs[0] == sigs[3]
    assert sigs[0] != sigs[2]
    # near-dup shares most signature components
    shared = sum(a == b for a, b in zip(sigs[0], sigs[1]))
    assert shared >= 8


def test_minhash_lsh_finds_planted_pairs(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in minhash_lsh_pairs(docs).collect()}
    assert pairs[(0, 3)] == 1.0  # exact dup always pairs
    assert (0, 1) in pairs or (1, 3) in pairs  # near-dup caught by some band
    assert (0, 2) not in pairs and (1, 2) not in pairs  # unrelated not paired


def test_ngram_jaccard_exact_value(spark):
    # doc0: words a b c d -> shingles {a b c, b c d}; doc1: a b c e -> {a b c, b c e}
    df = spark.createDataFrame([(0, "a b c d"), (1, "a b c e")], "doc_id long, text string")
    rows = ngram_jaccard_pairs(df, threshold=0.0).collect()
    assert len(rows) == 1
    assert rows[0]["jaccard"] == pytest.approx(1 / 3, abs=1e-4)  # emitted at 4dp


def test_simhash_dup_and_near_dup_distance(spark, docs):
    fp = {r["doc_id"]: int(r["simhash"], 16) for r in simhash(docs).collect()}
    assert fp[0] == fp[3]
    ham_near = bin(fp[0] ^ fp[1]).count("1")
    ham_far = bin(fp[0] ^ fp[2]).count("1")
    assert ham_near < ham_far
    assert ham_near <= 12


def test_simhash_python_matches_spark(spark, docs):
    local = {i: h for i, h in enumerate(_simhash64([BASE, NEAR, OTHER, BASE]))}
    dist = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert local == dist


def test_embedding_near_dup_pairs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),  # near dup of 0
        (2, [0.0, 1.0, 0.0]),     # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in
             embedding_near_dup_pairs(df, threshold=0.9).collect()}
    assert list(pairs) == [(0, 1)]
    assert pairs[(0, 1)] > 0.99


def test_hyperplanes_deterministic():
    assert hyperplanes(2, 4) == hyperplanes(2, 4)
    flat = [x for row in hyperplanes(4, 64) for x in row]
    assert all(-1.0 <= x < 1.0 for x in flat)
    assert len(set(flat)) > 200  # not degenerate


def test_ann_lsh_topk_matches_bucket_brute_force(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    top = ann_lsh_topk(emb, query_id=0, k=10).collect()
    assert 1 <= len(top) <= 10
    assert top[0]["vec_id"] == 0  # the query itself has cos 1.0
    assert top[0]["cos_sim"] == pytest.approx(1.0)
    # every result is in the query's bucket
    buckets = {r["vec_id"]: r["bucket"] for r in lsh_buckets(emb).collect()}
    qb = buckets[0]
    assert all(r["bucket"] == qb for r in top)
    # descending order
    sims = [r["cos_sim"] for r in top]
    assert sims == sorted(sims, reverse=True)


def test_dedup_lines_first_occurrence_wins(spark):
    from safe_zone_spark.operators.dedup import dedup_lines

    dup = "this exact long line appears in several documents"
    rows = [
        (0, f"unique alpha content here\n{dup}\nshort"),
        (1, f"{dup}\nunique beta content follows after"),
        (2, "totally original document text with no dups"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text_deduped"] for r in dedup_lines(df).collect()}
    assert dup in out[0]          # first occurrence kept
    assert dup not in out[1]      # later occurrence removed
    assert out[1] == "unique beta content follows after"
    assert out[2] == rows[2][1]   # untouched
    assert "short" in out[0]      # short lines exempt even if repeated


def test_url_filter_domains_and_subdomains(spark):
    from safe_zone_spark.operators.url_filter import url_filter

    rows = [
        (0, "https://ok.example/x"),
        (1, "https://spam.example/y"),
        (2, "https://deep.sub.spam.example/z"),
        (3, "https://notspam.example/w"),  # suffix of name, NOT a subdomain
        (4, "https://user:pw@spam.example:8080/p"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["doc_id"]: r.asDict() for r in
           url_filter(df, frozenset({"spam.example"})).collect()}
    assert out[0]["url_ok"] and out[3]["url_ok"]
    assert not out[1]["url_ok"] and not out[2]["url_ok"] and not out[4]["url_ok"]
    assert out[4]["host"] == "spam.example"


def test_embedding_near_dups_lsh_vs_exact(spark):
    """Multi-table LSH plan: every emitted pair is exact (subset of the
    quadratic verifier's pairs, identical cosines) and recall ≥ 0.7 at the
    registered parameters on the synthetic corpus."""
    from safe_zone_spark.operators.dedup import embedding_near_dup_pairs
    from safe_zone_spark.operators.similarity import embedding_near_dups

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    lsh = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_near_dups(emb, threshold=0.5).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_near_dup_pairs(emb, threshold=0.5).collect()
    }
    assert set(lsh) <= set(exact)  # precision is exact
    for k, v in lsh.items():
        assert exact[k] == v  # same verified cosine
    if exact:
        assert len(lsh) / len(exact) >= 0.7


def test_dedup_lines_repeated_short_lines_and_empty_docs(spark):
    """Each long line survives only at its first (id, position); short lines
    are exempt; empty and short-only docs pass through."""
    from safe_zone_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [
            (1, "this line is long enough to dedup\nshort\nunique first line here"),
            (2, "this line is long enough to dedup\nshort\nanother distinct long line"),
            (3, "short\nthis line is long enough to dedup\nunique first line here"),
            (4, ""),
            (5, "short"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text_deduped"] for r in dedup_lines(docs).collect()}
    assert out[1] == "this line is long enough to dedup\nshort\nunique first line here"
    assert out[2] == "short\nanother distinct long line"  # dup line removed
    # both long lines first occurred in doc 1 → doc 3 keeps only the short one
    assert out[3] == "short"
    assert out[4] == "" and out[5] == "short"


def test_multiprobe_superset_and_recall(spark):
    """Radius-1 probing scans the Hamming ball (5 buckets at 4 planes) and
    its top-k must dominate the single-bucket result against brute force."""
    from safe_zone_spark.operators.similarity import ann_lsh_topk, probe_buckets

    assert probe_buckets("1010", 0) == ["1010"]
    assert sorted(probe_buckets("1010", 1)) == sorted(
        ["1010", "0010", "1110", "1000", "1011"]
    )
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # k beyond the pool sizes → both return their WHOLE candidate pools
    single = {r["vec_id"] for r in ann_lsh_topk(emb, query_id=0, k=10**6).collect()}
    multi = ann_lsh_topk(emb, query_id=0, k=10**6, probe_radius=1).collect()
    multi_ids = {r["vec_id"] for r in multi}
    assert single < multi_ids  # STRICT superset: the Hamming-1 buckets add vectors
    assert len({r["bucket"] for r in multi}) > 1  # probes actually hit other buckets
    # top-10 min similarity can only improve with the larger verified pool
    s10 = ann_lsh_topk(emb, query_id=0, k=10).collect()
    m10 = ann_lsh_topk(emb, query_id=0, k=10, probe_radius=1).collect()
    assert min(r["cos_sim"] for r in m10) >= min(r["cos_sim"] for r in s10)


def test_ivf_topk_probes_cells_and_ranks(spark):
    from safe_zone_spark.operators.ivf import ivf_assign, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assigned = {r["vec_id"]: r["cell"] for r in ivf_assign(emb).collect()}
    assert set(assigned.values()) <= set(range(16))
    top = ivf_topk(emb, query_id=0, k=10).collect()
    assert top[0]["vec_id"] == 0 and top[0]["cos_sim"] == pytest.approx(1.0)
    sims = [r["cos_sim"] for r in top]
    assert sims == sorted(sims, reverse=True)
    assert len({r["cell"] for r in top}) <= 4  # only probed cells
    # every returned vector really lives in one of the probed cells
    for r in top:
        assert assigned[r["vec_id"]] == r["cell"]


def test_cdc_dedup_cross_and_within_doc(spark):
    """Content-defined chunking: a long span shared at DIFFERENT offsets
    dedups (first occurrence wins), short chunks never shred, empty and
    unique docs pass through byte-identical."""
    from safe_zone_spark.operators.dedup import cdc_dedup

    shared = (
        "this is a very long shared passage that should be deduplicated "
        "across documents because it exceeds the chunk threshold " * 3
    )
    rows = [
        (0, "intro A. " + shared + " tail A."),
        (1, "different opening text here! " + shared + " closing B."),
        (2, "no duplication in this one at all, just original prose."),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text_deduped"] for r in cdc_dedup(df).collect()}
    # doc 0 is the first occurrence: edges intact, within-doc repeats shrink
    assert out[0].startswith("intro A.") and out[0].endswith("tail A.")
    assert out[0].count("shared passage") < rows[0][1].count("shared passage")
    # doc 1's copy of the shared span (different offset!) dedups hard
    assert out[1].startswith("different opening") and out[1].endswith("closing B.")
    assert len(out[1]) < len(rows[1][1]) / 2
    assert out[2] == rows[2][1]
    assert out[3] == ""


def test_decontaminate_flags_benchmark_overlap(spark):
    from safe_zone_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog in the garden today"),
            (1, "completely unrelated text about query engines and shuffles at scale"),
            (2, "prefix words then the quick brown fox jumps over the lazy dog suffix"),
            (3, "short"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",)], "text string"
    )
    out = {r["doc_id"]: (r["contam_hits"], r["contaminated"])
           for r in decontaminate(docs, bench).collect()}
    assert out[0][1] and out[2][1]   # offset-independent 8-gram overlap
    assert out[0][0] == out[2][0] == 2
    assert out[1] == (0, False) and out[3] == (0, False)
