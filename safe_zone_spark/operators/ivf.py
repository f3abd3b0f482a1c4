"""IVF (inverted-file) approximate nearest-neighbor search.

The right index for MID-similarity regimes where hyperplane LSH's
collision probability decays too fast (see similarity.embedding_near_dups'
regime note): partition the vector space into cells around centroids,
assign every vector to its nearest centroid, and search only the
``nprobe`` cells whose centroids score best against the query.

Scale design (10^12 vectors): ``cell`` is the partition key — the
assignment is one narrow numpy-batched pass, the index is a cell-
partitioned table (Iceberg partition or bucketed parquet), and a query
touches nprobe partitions instead of the corpus. Centroids here are the
deterministic seed set (the ``num_cells`` lowest-id vectors) so the DuckDB
referee reproduces the index bit-for-bit; production swaps in k-means
centroids as a model table — every downstream step is unchanged (the same
model-table pattern as functions/langid.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..crossing import map_batches
from .similarity import _matrix


def _centroid_matrix(emb: DataFrame, id_col: str, vec_col: str,
                     num_cells: int) -> np.ndarray:
    rows = (
        emb.filter(F.col(id_col) < num_cells)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    return np.array([[float(x) for x in r[1]] for r in rows], dtype=np.float64)


def ivf_assign(
    emb: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding",
    num_cells: int = 16,
) -> DataFrame:
    """(id, cell) — nearest-centroid assignment by cosine (argmax, ties →
    lowest cell id). One numpy matmul per Arrow batch; the collected
    centroid matrix rides the UDF closure like a broadcast."""
    cents = _centroid_matrix(emb, id_col, vec_col, num_cells)
    cnorm = np.linalg.norm(cents, axis=1)
    id_type = emb.schema[id_col].dataType.simpleString()

    def assign(batch):
        v = _matrix(batch.column(vec_col), cents.shape[1])
        scores = (v @ cents.T) / (np.linalg.norm(v, axis=1)[:, None] * cnorm[None, :])
        return {"cell": np.argmax(scores, axis=1).astype("int32")}

    return map_batches(emb.select(id_col, vec_col), assign, f"{id_col} {id_type}, cell int")


def ivf_topk(
    emb: DataFrame, *, query_id: int = 0, id_col: str = "vec_id",
    vec_col: str = "embedding", num_cells: int = 16, nprobe: int = 4,
    k: int = 10,
) -> DataFrame:
    """Top-k cosine neighbors of ``query_id`` searching only the ``nprobe``
    cells nearest the query. Output: (vec_id, cos_sim, cell)."""
    cents = _centroid_matrix(emb, id_col, vec_col, num_cells)
    cnorm = np.linalg.norm(cents, axis=1)
    qvec = np.array(
        [float(x) for x in emb.filter(F.col(id_col) == query_id)
         .select(vec_col).head()[0]],
        dtype=np.float64,
    )
    qscores = (cents @ qvec) / (cnorm * np.linalg.norm(qvec))
    # top-nprobe cells; ties broken by lowest cell id (lexsort is stable)
    order = np.lexsort((np.arange(len(qscores)), -qscores))
    probed = sorted(int(c) for c in order[:nprobe])

    assigned = ivf_assign(
        emb, id_col=id_col, vec_col=vec_col, num_cells=num_cells
    ).filter(F.col("cell").isin(probed))
    cand = assigned.join(emb.select(id_col, vec_col), id_col)
    id_type = emb.schema[id_col].dataType.simpleString()

    def rerank(batch):
        v = _matrix(batch.column(vec_col), len(qvec))
        cos = (v @ qvec) / (np.linalg.norm(v, axis=1) * np.linalg.norm(qvec))
        return {"cos_sim": np.round(cos, 4)}

    return (
        map_batches(cand, rerank, f"{id_col} {id_type}, cos_sim double, cell int")
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def ivf_topk_sql(
    *, query_id: int = 0, table: str = "embeddings", id_col: str = "vec_id",
    num_cells: int = 16, nprobe: int = 4, k: int = 10,
) -> str:
    """DuckDB twin: same seed centroids (lowest ids), same cosine argmax
    assignment (ties → lowest cell), same nprobe cell selection."""
    return f"""
WITH e AS (SELECT {id_col}, CAST(embedding AS DOUBLE[]) AS v FROM {table}),
cents AS (
  SELECT {id_col} AS cell, v AS cv,
         sqrt(list_dot_product(v, v)) AS cn
  FROM e WHERE {id_col} < {num_cells}
),
q AS (SELECT v AS qv, sqrt(list_dot_product(v, v)) AS qn
      FROM e WHERE {id_col} = {query_id}),
assign AS (
  SELECT {id_col}, cell FROM (
    SELECT e.{id_col}, c.cell,
           row_number() OVER (
             PARTITION BY e.{id_col}
             ORDER BY list_dot_product(e.v, c.cv)
                      / (sqrt(list_dot_product(e.v, e.v)) * c.cn) DESC,
                      c.cell ASC
           ) AS rk
    FROM e CROSS JOIN cents c
  ) WHERE rk = 1
),
probed AS (
  SELECT cell FROM (
    SELECT c.cell,
           row_number() OVER (
             ORDER BY list_dot_product(c.cv, q.qv) / (c.cn * q.qn) DESC,
                      c.cell ASC
           ) AS rk
    FROM cents c, q
  ) WHERE rk <= {nprobe}
)
SELECT e.{id_col},
  round(list_dot_product(e.v, q.qv)
        / (sqrt(list_dot_product(e.v, e.v)) * q.qn), 4) AS cos_sim,
  CAST(a.cell AS INT) AS cell
FROM e
JOIN assign a ON a.{id_col} = e.{id_col}
JOIN probed p ON p.cell = a.cell
CROSS JOIN q
ORDER BY cos_sim DESC, e.{id_col} ASC LIMIT {k}
"""
