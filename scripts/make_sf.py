"""Regenerate an sf1.0-shaped measurement dataset from the shipped sf0.1.

The driver measures BENCH rounds at a driver-generated sf1.0 that is not
shipped with the repo (BENCH_r05.json: "sf": 1.0).  For in-round
before/after measurement we need a dataset of the same shape and size.
This script deterministically synthesizes one by extrapolating the
empirical distributions of /root/testdata/sf0.1 (seed fixed, so repeated
runs produce identical bytes):

  documents  5,000 ->  50,000   word-bag resample of the sf0.1 vocabulary,
                                uniform length 10..100, empirical lang
                                weights, src0..src19 uniform, ~0.16% exact
                                duplicate pairs (sf0.1 rate)
  embeddings 2,000 ->  20,000   iid N(0, 0.125^2) 64-dim (sf0.1 fit),
                                labels uniform 0..9
  events   100,000 -> 1,000,000 empirical per-column resample, exponential
                                timestamp deltas over the same 30-day span,
                                user_id uniform 0..14999
  lineitem/orders/customer/part/supplier  x10 replicas with consistent key
                                offsets (joins keep their fan-out shape)
  nation/region                 copied verbatim (fixed-size dimensions)

This is measurement infrastructure only — nothing in queries() or the
oracle reads it unless SPARK_GRAFT_SF_DIR points at the output.

Usage: python scripts/make_sf.py [outdir=/tmp/szs_sf1.0]
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/szs_sf1.0"
    if os.path.exists(os.path.join(out, "_DONE")):
        print(f"{out} already complete")
        return
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(420)

    # --- documents -------------------------------------------------------
    docs = pq.read_table(f"{SRC}/documents.parquet").to_pandas()
    words = pd.Series(" ".join(docs.text).split())
    vocab = words.value_counts()
    vwords = vocab.index.to_numpy()
    vprobs = (vocab / vocab.sum()).to_numpy()
    n_docs = 50_000
    lang_w = (docs.lang.value_counts() / len(docs))
    langs = rng.choice(lang_w.index.to_numpy(), size=n_docs, p=lang_w.to_numpy())
    sources = np.char.add("src", rng.integers(0, 20, size=n_docs).astype(str))
    lengths = rng.integers(10, 101, size=n_docs)
    flat = rng.choice(vwords, size=int(lengths.sum()), p=vprobs)
    texts: list[str] = []
    pos = 0
    for L in lengths:
        texts.append(" ".join(flat[pos:pos + L]))
        pos += L
    # plant exact duplicate pairs at the sf0.1 rate (8/5000)
    dup_targets = rng.choice(n_docs, size=int(n_docs * 8 / 5000), replace=False)
    for t in dup_targets:
        src_doc = int(rng.integers(0, n_docs))
        if src_doc != t:
            texts[t] = texts[src_doc]
    ddf = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": sources,
    })
    ddf["n_chars"] = ddf.text.str.len().astype(np.int64)
    pq.write_table(pa.Table.from_pandas(ddf, preserve_index=False),
                   f"{out}/documents.parquet")

    # --- embeddings ------------------------------------------------------
    n_emb = 20_000
    vecs = rng.normal(0.0, 0.125, size=(n_emb, 64)).astype(np.float64)
    edf = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, size=n_emb).astype(np.int64),
    })
    pq.write_table(pa.Table.from_pandas(edf, preserve_index=False),
                   f"{out}/embeddings.parquet")

    # --- events ----------------------------------------------------------
    ev = pq.read_table(f"{SRC}/events.parquet").to_pandas()
    n_ev = 1_000_000
    span_s = (ev.ts.max() - ev.ts.min()).total_seconds()
    deltas = rng.exponential(span_s / n_ev, size=n_ev)
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(np.cumsum(deltas), unit="s")
    evdf = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 15_000, size=n_ev).astype(np.int64),
        "event_type": rng.choice(ev.event_type.unique(), size=n_ev),
        "value": np.round(rng.choice(ev.value.to_numpy(), size=n_ev), 2),
        "props": np.char.add(np.char.add('{"k": ',
                 rng.integers(0, 100, size=n_ev).astype(str)), "}"),
    })
    evdf["ts"] = evdf.ts.astype("datetime64[us]")  # Spark rejects TIMESTAMP(NANOS)
    pq.write_table(pa.Table.from_pandas(evdf, preserve_index=False),
                   f"{out}/events.parquet")

    # --- TPC-H-ish fact/dim tables: x10 key-offset replicas --------------
    offsets = {
        "customer": ("c_custkey",),
        "orders": ("o_orderkey", "o_custkey"),
        "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
        "part": ("p_partkey",),
        "supplier": ("s_suppkey",),
    }
    key_base: dict[str, int] = {}
    for tbl in ("customer", "orders", "part", "supplier", "lineitem"):
        df = pq.read_table(f"{SRC}/{tbl}.parquet").to_pandas()
        reps = []
        for k in range(10):
            r = df.copy()
            for col in offsets[tbl]:
                ent = {"c_custkey": "customer", "o_custkey": "customer",
                       "o_orderkey": "orders", "l_orderkey": "orders",
                       "l_partkey": "part", "l_suppkey": "supplier",
                       "p_partkey": "part", "s_suppkey": "supplier"}[col]
                if ent not in key_base:
                    ekeys = pq.read_table(
                        f"{SRC}/{ent}.parquet",
                        columns=[offsets[ent][0]]).to_pandas()
                    key_base[ent] = int(ekeys.iloc[:, 0].max()) + 1
                r[col] = r[col] + k * key_base[ent]
            reps.append(r)
        big = pd.concat(reps, ignore_index=True)
        pq.write_table(pa.Table.from_pandas(big, preserve_index=False),
                       f"{out}/{tbl}.parquet")

    for tbl in ("nation", "region"):
        shutil.copy(f"{SRC}/{tbl}.parquet", f"{out}/{tbl}.parquet")

    open(os.path.join(out, "_DONE"), "w").close()
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
