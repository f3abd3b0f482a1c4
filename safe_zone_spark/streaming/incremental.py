"""Continuous-ingestion incremental dedup: a crawl arriving as a stream,
judged against the persisted signature store of all PRIOR crawls.

The batch operator (operators/dedup.py:incremental_minhash_dedup) answers
"which of these new docs are near-new vs the prior store?" — this module
runs the same decision per micro-batch via ``foreachBatch``, the idiomatic
Structured Streaming shape when each batch needs full batch-API semantics
(a distributed banded join + per-doc aggregation) against a large static
table. A stream-static join alone cannot express the NOT-EXISTS decision
without a watermarked stateful aggregation; foreachBatch keeps the prior
store a TABLE (never collected, never broadcast) and reuses the exact
batch plan, so batch ≡ streaming by construction (pinned in
tests/test_streaming_incremental.py).

Exactly-once: every write lands in a deterministic ``batch_id=N``
subdirectory with overwrite mode, so a replayed micro-batch (foreachBatch
is at-least-once on failure) overwrites its own previous attempt instead
of duplicating rows — the same per-unit idempotency contract as the
lineage manifests (plans/pipeline.py).

With ``update_store=True`` the kept docs' signatures are appended to the
store (same per-batch overwrite discipline, ``stream-<run_token>-batch-N/``
dirs — the token namespaces each streaming run so a LATER crawl streamed
over the same store, whose batch ids restart at 0, treats this run's
appends as prior crawls instead of excluding/overwriting them), so later
micro-batches also
dedup against earlier ones — the store is re-read from disk each batch to
pick up those appends. In-batch self-duplicates remain out of scope here,
exactly as in the batch operator: that is fuzzy_dedup_docs' job on the
survivors.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "stream_incremental_dedup", "compact_signature_store",
    "run_token_for_checkpoint",
]


def run_token_for_checkpoint(checkpoint_dir: str) -> str:
    """Per-stream token namespacing this run's store appends, kept in a
    ``run_token`` file inside the (local) checkpoint dir.

    The checkpoint IS the stream's identity: a restart from the same
    checkpoint continues the same batch-id sequence (replay exclusion must
    keep applying across the restart), while a NEW crawl streamed over the
    same store uses a fresh checkpoint — its batch ids restart at 0, and
    without namespacing its `K >= batch_id` replay exclusion silently
    excluded ALL of the prior run's appends from dedup and overwrote the
    prior run's same-named dirs (cross-run dedup loss + store corruption).

    So the token is read from the checkpoint when present and otherwise
    created there: a fresh uuid, so a checkpoint dir that is deleted and
    reused starts a new namespace (a token derived from the path would
    return the old one). A checkpoint that already holds Spark's
    ``offsets/`` but no token file was started before tokens were stored;
    it gets the md5-of-path token that run has been writing under.

    Upgrade constraint: a stream started on code that wrote un-tokened
    ``stream-batch-K`` dirs must be drained before it restarts on this
    code. Under its new token those dirs count as prior appends
    (``_prior_store_paths``), so a batch replayed across the upgrade
    would dedup against its own earlier attempt and drop every doc it had
    kept."""
    import hashlib
    import uuid

    path = os.path.join(checkpoint_dir, "run_token")
    try:
        with open(path) as f:
            return f.read().strip()
    except FileNotFoundError:
        pass
    if os.path.isdir(os.path.join(checkpoint_dir, "offsets")):
        token = hashlib.md5(os.path.abspath(checkpoint_dir).encode()).hexdigest()[:8]
    else:
        token = uuid.uuid4().hex
    os.makedirs(checkpoint_dir, exist_ok=True)
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        f.write(token)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    return token


def compact_signature_store(
    spark,
    store_path: str,
    out_path: str,
    *,
    target_partitions: int | None = None,
) -> int:
    """Rewrite a signature store (prior crawls' flat part files + this
    stream's ``stream-batch-N/`` append dirs) as ONE flat parquet
    directory, and return the row count written.

    Why: every streamed micro-batch appends its own directory of part
    files; at 10^12-doc scale that is millions of small files — the
    classic small-file problem that slows every subsequent store read
    (listing + per-file open cost dominates). Compaction is one narrow
    read → write job: no shuffle unless ``target_partitions`` forces a
    coalesce/repartition to a chosen file count.

    The caller swaps the store path after success (write-new-then-repoint,
    the same publish-by-rename discipline as the stage caches) — on a
    table format with snapshots (Iceberg's rewrite_data_files) the swap is
    a metadata commit instead. Reading mid-compaction is safe: the old
    store stays untouched until the caller repoints.
    """
    sigs = (
        spark.read.option("recursiveFileLookup", "true").parquet(store_path)
    )
    if target_partitions is not None:
        sigs = sigs.coalesce(target_partitions)
    sigs.write.mode("error").parquet(out_path)
    return spark.read.parquet(out_path).count()


def stream_incremental_dedup(
    stream_df: DataFrame,
    prior_store: str,
    output_path: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    update_store: bool = False,
):
    """Start the dedup stream; returns the StreamingQuery.

    ``prior_store`` is a parquet directory of (id, sigs) rows written by
    minhash_signatures — the only artifact prior crawls persist. Kept-doc
    ids land under ``output_path/batch_id=N/`` as (id_col, is_new).
    """
    spark = stream_df.sparkSession
    run_token = run_token_for_checkpoint(checkpoint_dir)

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        _dedup_one_batch(
            spark, batch_df, batch_id,
            prior_store=prior_store, output_path=output_path,
            id_col=id_col, text_col=text_col, num_hashes=num_hashes,
            bands=bands, shingle_n=shingle_n, threshold=threshold,
            update_store=update_store, run_token=run_token,
        )

    return (
        stream_df.writeStream.foreachBatch(dedup_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _prior_store_paths(
    spark, store_path: str, batch_id: int, run_token: "str | None" = None,
) -> "list[str]":
    """The store paths a micro-batch may legally dedup against: the prior
    crawls' flat part files, every OTHER run's append dirs, plus THIS run's
    ``stream-<run_token>-batch-K`` append dirs for K < batch_id ONLY.
    Excluding this run's K >= batch_id is load-bearing for replay
    idempotency: foreachBatch is at-least-once, and a replayed batch that
    read its OWN previous attempt's appended signatures would collide with
    itself at est_jaccard 1.0, drop every doc it previously kept, and
    overwrite the correct output with an empty one. The token scoping is
    load-bearing for MULTI-RUN stores: a later crawl's batch ids restart
    at 0, and un-namespaced exclusion silently dropped every prior run's
    append from dedup. Legacy un-tokened ``stream-batch-K`` dirs (written
    by pre-token code) are excluded as this run's only when no token is in
    play; under a token they all count as prior. That is right for another
    run's appends but not for a stream that was started on pre-token code
    and restarted on tokened code: its own legacy dirs then count as prior,
    and a replayed batch collides with its own previous attempt. Drain such
    a stream (let every started batch commit) before upgrading it; see
    ``run_token_for_checkpoint``. Listed via the Hadoop FileSystem API so
    any Spark-supported store URI works."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(store_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []  # no prior crawls yet — first micro-batch of a fresh store
    own_prefix = (
        f"stream-{run_token}-batch-" if run_token is not None
        else "stream-batch-"
    )
    paths: list[str] = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if st.isDirectory():
            if name.startswith(own_prefix):
                try:
                    k = int(name.rsplit("-", 1)[1])
                except ValueError:
                    k = batch_id  # unparseable → not provably prior: skip
                if k >= batch_id:
                    continue
            paths.append(st.getPath().toString())
        elif not name.startswith(("_", ".")):
            paths.append(st.getPath().toString())
    return paths


def _dedup_one_batch(
    spark, batch_df: DataFrame, batch_id: int, *,
    prior_store: str, output_path: str,
    id_col: str, text_col: str, num_hashes: int, bands: int,
    shingle_n: int, threshold: float, update_store: bool,
    run_token: "str | None" = None,
) -> None:
    """One micro-batch's decision + writes (module-level so a replay — the
    at-least-once case — is directly testable without driving a stream)."""
    from ..operators.dedup import incremental_minhash_dedup, minhash_signatures

    src = _prior_store_paths(spark, prior_store, batch_id, run_token)
    if src:
        # recursiveFileLookup: the listed dirs are plain file trees, not a
        # partitioned layout — partition discovery would reject the mix of
        # flat files and append dirs (schema is uniform: id, sigs)
        prior = (
            spark.read.option("recursiveFileLookup", "true").parquet(*src)
        )
    else:
        # empty prior (first batch over a store with no prior crawls):
        # derive an empty, correctly-typed signature relation
        prior = minhash_signatures(
            batch_df.limit(0), id_col=id_col, text_col=text_col,
            num_hashes=num_hashes, shingle_n=shingle_n,
        )
    kept = incremental_minhash_dedup(
        batch_df,
        prior,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        threshold=threshold,
    )
    if update_store:
        # materialize once so the store append and the output agree
        # even though foreachBatch may recompute lazily
        kept = kept.localCheckpoint(eager=True)
    kept.write.mode("overwrite").parquet(
        os.path.join(output_path, f"batch_id={batch_id}")
    )
    if update_store:
        sigs = minhash_signatures(
            batch_df.join(kept.select(id_col), id_col, "left_semi"),
            id_col=id_col,
            text_col=text_col,
            num_hashes=num_hashes,
            shingle_n=shingle_n,
        )
        append_dir = (
            f"stream-{run_token}-batch-{batch_id}" if run_token is not None
            else f"stream-batch-{batch_id}"
        )
        sigs.write.mode("overwrite").parquet(
            os.path.join(prior_store, append_dir)
        )
