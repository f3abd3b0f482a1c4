"""Adversarial giant-component proof (VERDICT r4 #4).

The sf1 replica corpus's near-dup families have diameter 1, so the star
escalation and exact pre-contraction never earn their keep there. This
bench builds the adversarial shape they exist for — a CHAINED-OVERLAP
corpus: doc i's token window overlaps doc i+1's enough to pair
(est_jaccard ≈ 0.6 > threshold 0.5) while doc i+2 is already below
threshold, so the pair graph is one path of length L — diameter L-1, the
worst case for min-label propagation (site-wide boilerplate chains produce
exactly this at crawl scale).

Measured claims this script produces (→ BENCH/giant_component.json + a
marker-spliced section in BENCH/BASELINE.md):

1. The automatic path (``fuzzy_dedup_docs`` → ``connected_components``)
   resolves every chain and reports which path it took: the driver
   union-find on small pair graphs, min-label, or min-label→star once a
   chain is deeper than the min-label round budget.
2. Each distributed loop, run directly on the same pair graph: min-label
   rounds grow LINEARLY with chain length (rounds ≈ diameter) — run at
   small L only; star rounds grow ~LOGARITHMICALLY (Kiveris et al.
   large-star/small-star) — run up to a 16k-doc chain, where min-label
   would need ~1,600 shuffles.
3. Labels agree between every path that ran on a chain.
4. pre_contract_exact on a 10x verbatim-replica corpus shrinks the pair
   graph ~replica² fold (only one representative per family enters LSH).

The chain is synthesized deterministically: doc i = tokens [i*S, i*S + W)
of the infinite stream w0 w1 w2 ... with W=100, S=3 — word-level Jaccard
j(k steps) = (100-3k)/(100+3k), so docs link to their ~10 nearest
neighbors (j(10) ≈ 0.53) and nothing further: the pair graph is a banded
path with diameter ≈ L/10 — still Θ(L), min-label's worst case.

LSH parameters matter for chain INTEGRITY: fuzzy_dedup_docs is run with
num_hashes=32, bands=16 (2-row bands) instead of the 16/4 default. With
fixed hash functions, edge detection is deterministic per position, and
the failure mode is CORRELATED: when the window-minimizing shingle of
some hash exits the sliding window, that signature component flips for
every doc past the boundary, breaking all crossing links in the same
band at once — measured at 16/4 this cut the chain every ~250 docs
(giant 743 of 2000). With 16 two-row bands a single component flip
breaks at most 2 of 16 bands, the 10 links crossing any gap with
j >= 0.78 each need all 16 bands to fail, and the realized chain is one
component (the giant-component column in the output verifies giant == L).

Usage: python scripts/giant_component_bench.py [total_docs]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SECTION_BEGIN = "<!-- giant-component-begin -->"
SECTION_END = "<!-- giant-component-end -->"
W, S = 100, 3  # window/stride: j(k)=(100-3k)/(100+3k); links reach k<=11


def build_chain_corpus(spark, chain_len: int, total_docs: int):
    """chain_len chained docs + (total_docs - chain_len) disjoint fillers."""
    from pyspark.sql import functions as F

    base = spark.range(total_docs).select(F.col("id").alias("doc_id"))
    # chain doc i: tokens i*S .. i*S+W; filler doc i: a disjoint range far
    # above the chain's token space (offset by total chain tokens + i*2W)
    chain_top = chain_len * S + W
    start = F.when(F.col("doc_id") < chain_len, F.col("doc_id") * S).otherwise(
        F.lit(chain_top) + F.col("doc_id") * (2 * W)
    )
    toks = F.transform(
        F.sequence(start, start + W - 1),
        lambda x: F.concat(F.lit("w"), x.cast("string")),
    )
    return base.select(
        "doc_id", F.array_join(toks, " ").alias("text")
    ).repartition(32)


def build_replica_corpus(spark, families: int, replicas: int):
    """families × replicas verbatim copies (distinct ids, identical text) —
    the pre-contraction target."""
    from pyspark.sql import functions as F

    fam = spark.range(families).select(F.col("id").alias("fam"))
    rep = spark.range(replicas).select(F.col("id").alias("rep"))
    toks = F.transform(
        F.sequence(F.col("fam") * (2 * W), F.col("fam") * (2 * W) + W - 1),
        lambda x: F.concat(F.lit("f"), x.cast("string")),
    )
    return (
        fam.crossJoin(rep)
        .select(
            (F.col("fam") * replicas + F.col("rep")).alias("doc_id"),
            F.array_join(toks, " ").alias("text"),
        )
        .repartition(32)
    )


def minlabel_only(pairs, stats):
    """The min-label loop alone: past the driver union-find, no round
    budget (the two module constants the automatic path reads)."""
    from safe_zone_spark.operators import dedup

    saved = dedup._DRIVER_EDGES, dedup._MINLABEL_ROUNDS
    dedup._DRIVER_EDGES, dedup._MINLABEL_ROUNDS = -1, 1 << 30
    try:
        return dedup.connected_components(pairs, stats=stats)
    finally:
        dedup._DRIVER_EDGES, dedup._MINLABEL_ROUNDS = saved


def main() -> int:
    total_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    from pyspark.sql import functions as F

    from safe_zone_spark.operators.dedup import (
        connected_components_star,
        fuzzy_dedup_docs,
        minhash_lsh_pairs,
    )
    from safe_zone_spark.session import session_builder

    spark = session_builder("szs-giant-component", cores=len(os.sched_getaffinity(0))).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    lsh = dict(num_hashes=32, bands=16)  # 2-row bands: chain-integrity, see module doc

    def report(label, stats, t0, labels):
        """One run's row; ``labels`` (doc_id, cluster_id) is checkpointed so
        the aggregate and the label comparison reuse one compute."""
        agg = labels.groupBy("cluster_id").count().agg(
            F.max("count").alias("giant"), F.count(F.lit(1)).alias("n_clusters"),
        ).collect()[0]
        row = {
            "path": stats["path"], "label": label, "wall_sec": round(time.time() - t0, 2),
            "minlabel_rounds": stats.get("minlabel_rounds", 0),
            "star_rounds": stats.get("star_rounds", 0),
            "sym_edges": stats.get("sym_edges"),
            "giant_component": int(agg["giant"]),
            "n_clusters": int(agg["n_clusters"]),
        }
        print(json.dumps(row))
        return row

    def auto(df, label, **kw):
        stats: dict = {}
        t0 = time.time()
        out = fuzzy_dedup_docs(df, **lsh, cc_stats=stats, **kw).localCheckpoint()
        return report(label, stats, t0, out.select("doc_id", "cluster_id")), out

    def loop(pairs, label, cc):
        """One CC loop directly on the checkpointed pair graph (wall = CC only)."""
        stats: dict = {}
        t0 = time.time()
        lab = cc(pairs, stats=stats).select(
            F.col("u").alias("doc_id"), F.col("label").alias("cluster_id")
        ).localCheckpoint()
        return report(label, stats, t0, lab), lab

    results = {"total_docs": total_docs, "window": W, "stride": S, "runs": []}

    # --- automatic path per chain; each loop directly: min-label at small
    # L, star up to 16k --------------------------------------------------
    minlabel_L = (64, 128, 256)
    for L in (64, 128, 256, 1024, 4096, 16000):
        if L > total_docs:  # smoke runs: skip chains longer than the corpus
            continue
        label = f"chain_{L}"
        df = build_chain_corpus(spark, L, total_docs).localCheckpoint()
        row, out = auto(df, label)
        results["runs"].append(row)
        pairs = minhash_lsh_pairs(df, **lsh).filter(F.col("est_jaccard") >= 0.5).localCheckpoint()
        for cc in [connected_components_star] + ([minlabel_only] if L in minlabel_L else []):
            row, lab = loop(pairs, label, cc)
            results["runs"].append(row)
            # the pair graph's nodes carry the same labels as the auto path
            diff = lab.exceptAll(out.select("doc_id", "cluster_id")).count()
            assert diff == 0, f"label mismatch at L={L} ({row['path']}): {diff} rows"
        results["runs"].append({"label": label, "labels_match": True})

    # --- pre-contraction on verbatim replicas ------------------------------
    rep_df = build_replica_corpus(spark, families=total_docs // 100,
                                  replicas=10).localCheckpoint()
    row_plain, _ = auto(rep_df, "replicas_plain")
    row_pc, out = auto(rep_df, "replicas_pre_contract", pre_contract_exact=True)
    row_pc["full_families_resolved"] = (
        out.filter(F.col("cluster_size") == 10).select("cluster_id").distinct().count()
    )
    results["runs"].append(row_plain)
    results["runs"].append(row_pc)

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "giant_component.json"), "w") as f:
        json.dump(results, f, indent=1)

    # --- splice the BASELINE.md section ------------------------------------
    lines = [
        "## Giant-component escalation (chained-overlap adversary, "
        f"{total_docs} docs)",
        "",
        "Chain corpus: doc i = tokens [i*3, i*3+100) — docs pair with their",
        "~10 nearest neighbors only (j(10) ~ 0.53), so the pair graph is a",
        "banded PATH with diameter ~ L/10: min-label's worst case. Run with",
        "num_hashes=32/bands=16 (2-row bands) so correlated signature flips",
        "at window boundaries cannot cut the chain (see module docstring);",
        "giant == L in every row verifies one component end-to-end. The",
        "automatic rows (path driver-union-find / minlabel / minlabel→star)",
        "time the whole fuzzy_dedup_docs over all docs, the first one with",
        "Spark session warm-up; the other rows time one CC loop alone on the",
        "same checkpointed pair graph. min-label rounds track the diameter",
        "LINEARLY; star rounds track log2(L).",
        "",
        "| chain L | path | min-label rounds | star rounds | log2(L) | wall (s) | giant |",
        "|---|---|---|---|---|---|---|",
    ]
    for r in results["runs"]:
        if "path" in r and r["label"].startswith("chain_"):
            L = int(r["label"].split("_")[1])
            lines.append(
                f"| {L} | {r['path']} | {r['minlabel_rounds']} | "
                f"{r['star_rounds']} | {math.log2(L):.1f} | {r['wall_sec']} | "
                f"{r['giant_component']} |"
            )
    lines += [
        "",
        f"Pre-contraction (10x verbatim replicas, {total_docs // 100} "
        "families): symmetric edge count "
        f"{row_plain['sym_edges']} vs {row_pc['sym_edges']} after exact "
        "pre-contraction "
        f"({row_plain['wall_sec']}s vs {row_pc['wall_sec']}s; "
        f"{row_pc['full_families_resolved']} families fully "
        "resolved with it).",
    ]
    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    body = ""
    if os.path.exists(path):
        body = open(path).read()
        if SECTION_BEGIN in body:
            body = (body.split(SECTION_BEGIN)[0]
                    + body.split(SECTION_END, 1)[1].lstrip("\n"))
    with open(path, "w") as f:
        f.write(body.rstrip("\n") + "\n\n" + SECTION_BEGIN + "\n"
                + "\n".join(lines) + "\n" + SECTION_END + "\n")
    spark.stop()
    print("giant-component bench complete")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
