"""Fuzzy-dedup cluster resolution: connected components over near-dup
pairs and one-keeper-per-cluster semantics (VERDICT r3 #2)."""

from __future__ import annotations

from safe_zone_spark.operators import dedup
from safe_zone_spark.operators.dedup import (
    connected_components,
    connected_components_star,
    fuzzy_dedup_docs,
)


def _labels(df, stats=None):
    return {r["u"]: r["label"] for r in connected_components(df, stats=stats).collect()}


def _distributed(monkeypatch, rounds=None):
    """Send every graph past the driver union-find; ``rounds`` sets the
    min-label budget (a small one forces the star escalation)."""
    monkeypatch.setattr(dedup, "_DRIVER_EDGES", -1)
    if rounds is not None:
        monkeypatch.setattr(dedup, "_MINLABEL_ROUNDS", rounds)


def _cc(spark, monkeypatch, edges):
    """Run BOTH the driver union-find fast path (default threshold) and the
    distributed min-label loop (a budget no component here can exhaust:
    rounds needed <= edges + 1), assert they agree, return the label map."""
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = _labels(df)
    with monkeypatch.context() as m:
        _distributed(m, rounds=len(edges) + 1)
        stats: dict = {}
        assert _labels(df, stats=stats) == fast
        assert stats["path"] == "minlabel"
    return fast


def test_connected_components_basic(spark, monkeypatch):
    # two components: {1,2,3} (chain) and {7,9}
    labels = _cc(spark, monkeypatch, [(1, 2), (2, 3), (7, 9)])
    assert labels == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_connected_components_long_chain(spark, monkeypatch):
    # a 12-node path needs multiple propagation rounds (diameter 11) —
    # proves the fixpoint loop actually iterates past round one
    edges = [(i, i + 1) for i in range(10, 22)]
    labels = _cc(spark, monkeypatch, edges)
    assert set(labels.values()) == {10}
    assert len(labels) == 13


def test_connected_components_bridge_merge(spark, monkeypatch):
    # two dense families joined by one bridge edge collapse to ONE cluster
    fam_a = [(1, 2), (1, 3), (2, 3)]
    fam_b = [(20, 21), (20, 22), (21, 22)]
    labels = _cc(spark, monkeypatch, fam_a + fam_b + [(3, 20)])
    assert set(labels.values()) == {1}


def test_fuzzy_dedup_transitive_single_keeper(spark):
    # TRUE chain: under bands=8/threshold=0.5 the deterministic minhash
    # yields est(1,2)=est(2,3)=0.5625 (kept) but est(1,3)=0.25 (filtered) —
    # docs 1 and 3 never pair directly, yet transitive closure must put all
    # three in ONE cluster with exactly one keeper.
    w = [f"w{i:02d}" for i in range(30)]
    rows = [
        (1, " ".join(w)),
        (2, " ".join(w[:24] + [f"x{i}" for i in range(6)])),
        (3, " ".join([f"y{i}" for i in range(6)] + w[6:24]
                     + [f"x{i}" for i in range(6)])),
        (50, "completely different content about something else entirely ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = fuzzy_dedup_docs(df, threshold=0.5, bands=8).collect()
    by = {r["doc_id"]: r for r in out}
    assert len(by) == 4  # every input doc has a row
    cluster = {by[i]["cluster_id"] for i in (1, 2, 3)}
    assert cluster == {1}  # one transitive cluster, min-id label
    keepers = [r["doc_id"] for r in out if r["is_keeper"]]
    assert 1 in keepers and 2 not in keepers and 3 not in keepers
    assert by[1]["cluster_size"] == 3
    # the unrelated doc is its own singleton keeper
    assert by[50]["cluster_id"] == 50 and by[50]["is_keeper"]
    assert by[50]["cluster_size"] == 1


def test_fuzzy_dedup_partitioning_invariant(spark):
    rows = [(i, f"shared boilerplate text body number {i % 3} end") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(
        (r["doc_id"], r["cluster_id"], r["is_keeper"])
        for r in fuzzy_dedup_docs(df.repartition(2)).collect()
    )
    b = sorted(
        (r["doc_id"], r["cluster_id"], r["is_keeper"])
        for r in fuzzy_dedup_docs(df.repartition(7)).collect()
    )
    assert a == b
    # keepers == distinct clusters (exactly one keeper each)
    keepers = [t for t in a if t[2]]
    assert len(keepers) == len({t[1] for t in a})


def test_star_cc_equals_minlabel_on_random_graphs(spark):
    """large-star/small-star (the giant-component escalation) must produce
    the IDENTICAL label map as min-label propagation — seeded pseudo-random
    graphs with mixed component shapes, plus a long path and a bridge."""
    import random

    cases = []
    for seed in (11, 12, 13):
        rng = random.Random(seed)
        nodes = list(range(seed * 100, seed * 100 + 40))
        edges = [
            tuple(sorted(rng.sample(nodes, 2))) for _ in range(rng.randint(10, 50))
        ]
        cases.append(edges)
    cases.append([(i, i + 1) for i in range(200, 215)])          # path
    cases.append([(1, 2), (1, 3), (2, 3), (20, 21), (3, 20)])    # bridge
    cases.append([(5, 5), (6, 7), (7, 7)])                        # self-loops

    for edges in cases:
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        a = _labels(df)
        b = {r["u"]: r["label"] for r in connected_components_star(df).collect()}
        assert a == b, f"divergence on {edges[:5]}..."


def test_fuzzy_dedup_star_and_precontract_match_default(spark, monkeypatch):
    """Both the star escalation (forced by a one-round min-label budget) and
    exact-dup pre-contraction must leave the end-to-end cluster output
    unchanged on a corpus of >=shingle_n-word docs with verbatim replicas
    (the boilerplate shape pre-contraction exists to defuse)."""
    rows = [(i, f"shared boilerplate text body number {i % 3} end") for i in range(24)]
    rows += [(100 + i, f"wholly unique document number {i} talks about topic {i}")
             for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = sorted(tuple(r) for r in fuzzy_dedup_docs(df).collect())
    contracted = sorted(
        tuple(r) for r in fuzzy_dedup_docs(df, pre_contract_exact=True).collect()
    )
    _distributed(monkeypatch, rounds=1)
    stats: dict = {}
    star = sorted(tuple(r) for r in fuzzy_dedup_docs(df, cc_stats=stats).collect())
    assert stats["path"] == "minlabel→star"
    both = sorted(
        tuple(r) for r in fuzzy_dedup_docs(df, pre_contract_exact=True).collect()
    )
    assert base == star == contracted == both


def test_precontract_clusters_subshingle_exact_dups(spark):
    """Texts too short to shingle can never pair in the LSH graph; with
    pre-contraction their exact copies still collapse to one keeper — the
    documented strict improvement."""
    rows = [(1, "tiny doc"), (2, "tiny doc"), (3, "tiny doc"),
            (9, "some other text")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plain = {r["doc_id"]: r["cluster_id"] for r in fuzzy_dedup_docs(df).collect()}
    assert plain == {1: 1, 2: 2, 3: 3, 9: 9}  # unsignable -> singletons
    con = {r["doc_id"]: r for r in
           fuzzy_dedup_docs(df, pre_contract_exact=True).collect()}
    assert {con[i]["cluster_id"] for i in (1, 2, 3)} == {1}
    assert con[1]["is_keeper"] and not con[2]["is_keeper"]
    assert con[1]["cluster_size"] == 3


def test_cc_deep_path_escalates_to_star(spark, monkeypatch):
    """A component deeper than the min-label budget must still resolve
    fully — partial labels would ship corrupt keep/drop decisions — by
    escalating to large-star/small-star on the same edges."""
    edges = [(i, i + 1) for i in range(300, 330)]  # 31 nodes, diameter 30
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    _distributed(monkeypatch, rounds=3)
    stats: dict = {}
    labels = _labels(df, stats=stats)
    assert stats["path"] == "minlabel→star"
    assert stats["minlabel_rounds"] == 3 and stats["star_rounds"] > 0
    assert stats["sym_edges"] == 60
    assert len(labels) == 31 and set(labels.values()) == {300}


def test_cc_escalation_keeps_minlabel_progress(spark, monkeypatch):
    """A graph deeper than the min-label budget escalates after it, and
    star starts from min-label's labels, not from scratch: it gives
    star-alone's labels in fewer alternations than star alone."""
    edges = [(p * 100 + i, p * 100 + i + 1) for p in range(4) for i in range(63)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")  # four 64-node paths
    alone: dict = {}
    want = {r["u"]: r["label"] for r in connected_components_star(df, stats=alone).collect()}
    _distributed(monkeypatch)
    stats: dict = {}
    assert _labels(df, stats=stats) == want
    assert set(want.values()) == {0, 100, 200, 300}
    assert stats["path"] == "minlabel→star" and stats["minlabel_rounds"] == 12
    assert 0 < stats["star_rounds"] < alone["star_rounds"]


def test_cc_shallow_cliques_stay_on_minlabel(spark, monkeypatch):
    """Dense near-dup families (10-node cliques, diameter 1) converge in two
    min-label rounds: one that labels, one that sees no change."""
    edges = [
        (c * 100 + i, c * 100 + j)
        for c in range(5) for i in range(10) for j in range(i + 1, 10)
    ]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    _distributed(monkeypatch)
    stats: dict = {}
    labels = _labels(df, stats=stats)
    assert stats["path"] == "minlabel"
    assert stats["minlabel_rounds"] == 2 and stats["star_rounds"] == 0
    assert labels == {c * 100 + i: c * 100 for c in range(5) for i in range(10)}


def test_cc_string_ids_both_paths(spark, monkeypatch):
    """id_col is a public parameter — string ids (urls, hash-hex) must work
    on the driver fast path AND the distributed loops (the old convergence
    check summed ids and only worked for numerics)."""
    edges = [("urlB", "urlC"), ("urlA", "urlB"), ("x", "y")]
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    want = {"urlA": "urlA", "urlB": "urlA", "urlC": "urlA", "x": "x", "y": "x"}
    fast = _labels(df)
    _distributed(monkeypatch)
    dist = _labels(df)
    star = {r["u"]: r["label"] for r in connected_components_star(df).collect()}
    monkeypatch.setattr(dedup, "_MINLABEL_ROUNDS", 1)
    escalated = _labels(df)
    assert fast == dist == star == escalated == want


def test_precontract_null_text_stays_singleton(spark):
    """NULL text (failed extraction) is NOT an exact-dup family: md5(NULL)
    groups under one NULL key unless keyed uniquely — unrelated rows must
    not be discarded as duplicates of each other."""
    rows = [(1, None), (2, None), (3, "real text body here"), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           fuzzy_dedup_docs(df, pre_contract_exact=True).collect()}
    assert all(out[i]["cluster_id"] == i and out[i]["is_keeper"]
               and out[i]["cluster_size"] == 1 for i in (1, 2, 4))
