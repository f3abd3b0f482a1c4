"""Approximate nearest-neighbor search over embedding columns.

Two paths:
* ``knn_brute_cosine`` — exact top-k by cosine; JVM-side fold
  (zip_with/aggregate), no UDF. O(n) per query — the correctness baseline.
* ``lsh_buckets`` / ``ann_lsh_topk`` — random-hyperplane LSH: sign bits of
  ``dot(v, plane_p)`` form a bucket key; search only the query's bucket,
  then exact-cosine rerank. At 100 TB the bucket key is the shuffle/
  partition key (or Iceberg partition), so a query touches one partition
  instead of the whole corpus; multi-probe = also scan buckets at Hamming
  distance 1 (``probe_radius=1``).

Hyperplanes are **deterministic** — component (p, d) is derived from
``md5(f"{p}:{d}")`` mapped to [-1, 1) — so the DuckDB oracle can embed the
identical literal planes and reproduce bucket assignment bit-for-bit.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..crossing import apply_groups, map_batches


def hyperplanes(num_planes: int, dim: int, salt: int | None = None) -> list[list[float]]:
    """Deterministic pseudo-random planes; component in [-1, 1).
    ``salt`` derives an independent plane set per LSH table (multi-table
    OR-construction); None keeps the original single-table planes."""
    out = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            key = f"{p}:{d}" if salt is None else f"{salt}:{p}:{d}"
            h = int(hashlib.md5(key.encode()).hexdigest()[:8], 16)
            row.append(round(h / 2**31 - 1.0, 6))
        out.append(row)
    return out


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _matrix(col, dim: int):
    """An Arrow column of equal-length vectors as a float64 (rows, dim) matrix."""
    import numpy as np

    return col.flatten().to_numpy(zero_copy_only=False).astype(np.float64).reshape(-1, dim)


def _lit_array(vals: list[float]):
    return F.array(*[F.lit(float(v)) for v in vals])


def bucket_expr(vec_col, planes: list[list[float]]):
    """Sign-bit bucket key, e.g. '1010' for 4 planes. JVM-only."""
    bits = [
        F.when(_dot(vec_col, _lit_array(p)) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for p in planes
    ]
    return F.concat(*bits)


def lsh_buckets(
    emb: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding",
    num_planes: int = 4,
) -> DataFrame:
    """(id, bucket) assignment — the index-build stage."""
    dim = len(emb.select(vec_col).head()[0])
    planes = hyperplanes(num_planes, dim)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return emb.select(F.col(id_col), bucket_expr(v, planes).alias("bucket"))


def probe_buckets(qbits: str, probe_radius: int) -> list[str]:
    """The query bucket plus every bucket within Hamming distance
    ``probe_radius`` — multi-probe LSH's recall lever: neighbors split by
    one narrow plane margin live one bit-flip away, so probing those
    buckets recovers them without a second hash table."""
    out = {qbits}
    frontier = {qbits}
    for _ in range(probe_radius):
        nxt = set()
        for bits in frontier:
            for i in range(len(bits)):
                nxt.add(bits[:i] + ("0" if bits[i] == "1" else "1") + bits[i + 1:])
        out |= nxt
        frontier = nxt
    return sorted(out)


def ann_lsh_topk(
    emb: DataFrame, *, query_id: int = 0, id_col: str = "vec_id",
    vec_col: str = "embedding", num_planes: int = 4, k: int = 10,
    probe_radius: int = 0,
) -> DataFrame:
    """Top-k cosine neighbors of ``query_id``'s vector, searched only inside
    its LSH bucket (the scale path: bucket = partition key; one-partition
    scan instead of full corpus) — plus, with ``probe_radius`` > 0, the
    buckets within that Hamming distance (multi-probe: 1+num_planes
    partitions at radius 1 instead of a second table).
    Output: (vec_id, cos_sim, bucket)."""
    row = emb.filter(F.col(id_col) == query_id).select(vec_col).head()
    qvec = [float(x) for x in row[0]]
    planes = hyperplanes(num_planes, len(qvec))
    qbits = ""
    for p in planes:
        qbits += "1" if sum(a * b for a, b in zip(qvec, p)) >= 0 else "0"
    probes = probe_buckets(qbits, probe_radius)

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    qarr = _lit_array(qvec)
    cand = emb.select(F.col(id_col), v.alias("v"), bucket_expr(v, planes).alias("bucket"))
    cos = _dot(F.col("v"), qarr) / (F.sqrt(_dot(F.col("v"), F.col("v"))) * F.sqrt(_dot(qarr, qarr)))
    return (
        cand.filter(F.col("bucket").isin(probes))
        .select(id_col, F.round(cos, 4).alias("cos_sim"), "bucket")
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def embedding_near_dups(
    emb: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding",
    num_planes: int = 6, num_tables: int = 16, threshold: float = 0.5,
) -> DataFrame:
    """Multi-table LSH embedding near-dup pairs: ``num_tables`` independent
    hyperplane sign-bit buckets per vector, candidate = pair sharing a
    bucket in ANY table (OR-construction), exact-cosine verify ≥ threshold.
    Output: (id_a, id_b, cos_sim), id_a < id_b. Precision is exact (every
    emitted pair is verified); recall per true pair at angle θ is
    1 - (1 - (1-θ/π)^num_planes)^num_tables.

    This is the scale path the exact quadratic verifier
    (dedup.embedding_near_dup_pairs) sits behind: the only shuffles are the
    (table, bucket) self-join and the pair dedup, so pairwise work is
    O(Σ bucket²) per table instead of O(n²); size num_planes ≈
    log2(n / target_bucket) so buckets stay O(thousands) at any corpus
    size. Regime note: for true near-dups (cos ≥ 0.9) these defaults give
    >95% recall at a tiny candidate rate; at mid thresholds (~0.5) over
    isotropic vectors the candidate rate necessarily climbs (measured
    11/14 pairs found, 23% candidate rate on the synthetic corpus) — that
    is the LSH bound, not an implementation artifact; mid-similarity search
    at scale wants IVF instead."""
    import numpy as np
    import pyarrow as pa

    dim = len(emb.select(vec_col).head()[0])
    # (dim, tables*planes) plane matrix — ONE numpy matmul per Arrow batch
    # replaces tables*planes interpreted zip_with/aggregate folds per row
    # (Catalyst never codegens HOF lambdas; this stage alone was seconds).
    plane_mat = np.array(
        [p for t in range(num_tables) for p in hyperplanes(num_planes, dim, salt=t)],
        dtype=np.float64,
    ).T
    id_type = emb.schema[id_col].dataType.simpleString()
    vec_type = emb.schema[vec_col].dataType.simpleString()

    def bucketize(batch):
        # every row once per table, table-major
        n = batch.num_rows
        bits = (_matrix(batch.column(vec_col), dim) @ plane_mat >= 0).reshape(
            n, num_tables, num_planes)
        return {id_col: pa.concat_arrays([batch.column(id_col)] * num_tables),
                "tbl": np.repeat(np.arange(num_tables, dtype=np.int32), n),
                "bucket": ["".join("1" if b else "0" for b in row)
                           for t in range(num_tables) for row in bits[:, t, :]],
                vec_col: pa.concat_arrays([batch.column(vec_col)] * num_tables)}

    # Verification happens INSIDE each (table, bucket) group: one shuffle of
    # (id, bucket, vec) rows — num_tables × n rows total — then the O(bucket²)
    # pairwise cosines run as chunked numpy gathers over the group's local
    # vector matrix. The previous shape materialized every candidate pair
    # relationally (self-join → dropDuplicates → two vector re-attach joins →
    # Arrow-shipping BOTH 64-dim vectors per pair) — at sf1.0 that moved
    # tens of GB through the pair dedup exchange and the Python boundary and
    # measured 84 s; this form measures ~3 s with bit-identical output (the
    # per-pair einsum/norm arithmetic is unchanged, only batching differs).
    # Pairs surviving in several tables dedup AFTER verification, when they
    # are survivors-only (a handful of rows, not the candidate set).
    # Distribution (r6, guide §2.5/§6): the embeddings table is one
    # single-row-group parquet file → a 1-task scan feeds bucketize, and the
    # verify exchange then inherits that skew — spread the input and pin the
    # verify exchange to one partition per core. Interleaved A/B at both
    # sf0.1 and the sf1.0-shaped set: no-repartition 1.4 / 5.4 s, input-only
    # 1.5 / 1.8 s, input+par verify 0.95 / 1.78 s (chosen), input+4·par
    # verify 2.6 / 3.3 s (task-launch overhead). Results are
    # partition-invariant.
    par = emb.sparkSession.sparkContext.defaultParallelism
    banded = map_batches(
        emb.select(id_col, vec_col).repartition(par), bucketize,
        f"{id_col} {id_type}, tbl int, bucket string, {vec_col} {vec_type}")

    def verify_bucket(batch):
        n = batch.num_rows
        empty = {"id_a": [], "id_b": [], "cos_sim": []}
        if n < 2:
            return empty
        ids = batch.column(id_col).to_numpy(zero_copy_only=False)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        V = _matrix(batch.column(vec_col), dim)[order]
        norms = np.linalg.norm(V, axis=1)
        inv = 1.0 / norms
        # BLAS matmul PREFILTER, exact einsum DECIDE: the O(bucket²) dot
        # products run as blocked GEMMs (GFLOP-cheap), keeping every pair
        # whose approximate cosine clears threshold - eps; the survivors —
        # a band around the threshold, tiny vs bucket² — are then recomputed
        # with the EXACT per-pair einsum/norm arithmetic the old verify
        # stage used, so emitted pairs and cos_sim values are bit-identical.
        # eps = 1e-9 dwarfs the fp64 GEMM-vs-einsum summation-order error
        # (~1e-14 for dim-64 unit-scale dots), so no true survivor can be
        # prefiltered away; false keeps are removed by the exact compare.
        eps = 1e-9
        out_a, out_b, out_c = [], [], []
        block = 2048  # rows per GEMM block — bounds the (block × n) temporary
        for s in range(0, n - 1, block):
            e = min(s + block, n)
            g = (V[s:e] * inv[s:e, None]) @ (V.T * inv[None, :])
            # only j > i pairs: mask the lower triangle of this row block
            cols = np.arange(n)
            mask = (g >= threshold - eps) & (cols[None, :] > np.arange(s, e)[:, None])
            bi, bj = np.nonzero(mask)
            if not len(bi):
                continue
            ia = bi + s
            ib = bj
            # identical per-pair arithmetic to the old verify stage:
            # row-wise einsum dot over float64 gathers / product of norms
            cos = np.einsum("ij,ij->i", V[ia], V[ib]) / (norms[ia] * norms[ib])
            keep = cos >= threshold  # filter on RAW cosine like the SQL twin
            if keep.any():
                out_a.append(ids[ia[keep]])
                out_b.append(ids[ib[keep]])
                out_c.append(np.round(cos[keep], 4))
        if not out_a:
            return empty
        return {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b),
                "cos_sim": np.concatenate(out_c)}

    pairs = apply_groups(banded.repartition(par, "tbl", "bucket").groupBy("tbl", "bucket"),
                         verify_bucket, f"id_a {id_type}, id_b {id_type}, cos_sim double")
    return pairs.dropDuplicates(["id_a", "id_b"])  # OR across tables: one row per pair


def embedding_near_dups_sql(
    *, dim: int = 64, table: str = "embeddings", id_col: str = "vec_id",
    num_planes: int = 6, num_tables: int = 16, threshold: float = 0.5,
) -> str:
    """DuckDB twin of :func:`embedding_near_dups` (identical literal planes
    per table)."""

    def arr(vals):
        return "[" + ", ".join(repr(float(x)) for x in vals) + "]"

    unions = []
    for t in range(num_tables):
        bits = " || ".join(
            f"CASE WHEN list_dot_product(v, {arr(p)}) >= 0 THEN '1' ELSE '0' END"
            for p in hyperplanes(num_planes, dim, salt=t)
        )
        unions.append(
            f"SELECT {t} AS tbl, {id_col}, v, norm, {bits} AS bucket FROM e"
        )
    cos = "list_dot_product(a.v, b.v) / (a.norm * b.norm)"
    return f"""
WITH base AS (SELECT {id_col}, CAST(embedding AS DOUBLE[]) AS v FROM {table}),
e AS (SELECT {id_col}, v, sqrt(list_dot_product(v, v)) AS norm FROM base),
bk AS ({" UNION ALL ".join(unions)}),
cand AS (
  SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
         any_value(a.v) AS va, any_value(b.v) AS vb,
         any_value(a.norm) AS na, any_value(b.norm) AS nb
  FROM bk a JOIN bk b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.{id_col} < b.{id_col}
  GROUP BY 1, 2
)
SELECT id_a, id_b,
  round(list_dot_product(va, vb) / (na * nb), 4) AS cos_sim
FROM cand
WHERE list_dot_product(va, vb) / (na * nb) >= {threshold}
"""


def ann_lsh_topk_sql(
    *, dim: int = 64, query_id: int = 0, table: str = "embeddings",
    id_col: str = "vec_id", num_planes: int = 4, k: int = 10,
    probe_radius: int = 0,
) -> str:
    """DuckDB twin of :func:`ann_lsh_topk` — identical literal planes, query
    vector pulled from the table itself (self-contained, any sf); the
    multi-probe set is the Hamming ball bucket-distance <= probe_radius."""
    planes = hyperplanes(num_planes, dim)

    def arr(vals):
        return "[" + ", ".join(repr(float(x)) for x in vals) + "]"

    def bits(v):
        return " || ".join(
            f"CASE WHEN list_dot_product({v}, {arr(p)}) >= 0 THEN '1' ELSE '0' END"
            for p in planes
        )

    return f"""
WITH e AS (SELECT {id_col}, CAST(embedding AS DOUBLE[]) AS v FROM {table}),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM {table} WHERE {id_col} = {query_id}),
b AS (SELECT {id_col}, v, {bits("v")} AS bucket FROM e),
qb AS (SELECT qv, {bits("qv")} AS bucket FROM q)
SELECT b.{id_col},
  round(list_dot_product(b.v, qb.qv)
        / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(qb.qv, qb.qv))), 4)
    AS cos_sim,
  b.bucket
FROM b, qb WHERE len(list_filter(range(1, {num_planes + 1}), i -> substr(b.bucket, CAST(i AS INT), 1) <> substr(qb.bucket, CAST(i AS INT), 1))) <= {probe_radius}
ORDER BY cos_sim DESC, b.{id_col} ASC LIMIT {k}
"""
