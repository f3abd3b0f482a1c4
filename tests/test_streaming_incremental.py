"""stream_incremental_dedup: the foreachBatch twin of the batch
cross-crawl dedup — batch ≡ stream on the same input, and with
update_store=True later micro-batches dedup against earlier ones through
the on-disk store (the continuous-crawl workflow)."""

from __future__ import annotations

import os
import random

import pandas as pd
import pytest

from safe_zone_spark.operators.dedup import (
    incremental_minhash_dedup,
    minhash_signatures,
)
from safe_zone_spark.streaming.incremental import (
    compact_signature_store,
    stream_incremental_dedup,
)

WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
).split()


def _sentence(rng: random.Random, n: int = 40) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


@pytest.fixture(scope="module")
def corpora():
    rng = random.Random(7)
    c1 = [(i, _sentence(rng)) for i in range(20)]
    # crawl 2 in two ingestion files: file A = 5 dups of crawl 1 + 5 fresh;
    # file B = 3 dups of crawl 1 + 2 dups of FILE A's fresh docs + 5 fresh
    file_a = [(100 + i, c1[i][1]) for i in range(5)] + [
        (105 + i, _sentence(rng)) for i in range(5)
    ]
    file_b = (
        [(200 + i, c1[10 + i][1]) for i in range(3)]
        + [(203, file_a[5][1]), (204, file_a[6][1])]  # dup earlier batch
        + [(205 + i, _sentence(rng)) for i in range(5)]
    )
    return c1, file_a, file_b


def _stage(tmp_path, file_a, file_b):
    src = tmp_path / "incoming"
    os.makedirs(src)
    pd.DataFrame(file_a, columns=["doc_id", "text"]).to_parquet(
        src / "crawl2_part0.parquet"
    )
    pd.DataFrame(file_b, columns=["doc_id", "text"]).to_parquet(
        src / "crawl2_part1.parquet"
    )
    # force deterministic batch order (FileStreamSource orders by mtime)
    os.utime(src / "crawl2_part0.parquet", (1_000_000, 1_000_000))
    os.utime(src / "crawl2_part1.parquet", (1_000_100, 1_000_100))
    return src


def _run(spark, tmp_path, corpora, *, update_store: bool):
    c1, file_a, file_b = corpora
    store = str(tmp_path / "store")
    minhash_signatures(
        spark.createDataFrame(c1, "doc_id long, text string")
    ).write.parquet(store)
    src = _stage(tmp_path, file_a, file_b)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = str(tmp_path / "kept")
    q = stream_incremental_dedup(
        stream,
        store,
        out,
        str(tmp_path / "ckpt"),
        bands=8,
        update_store=update_store,
    )
    q.awaitTermination(120)
    kept = spark.read.parquet(out)
    return {r.doc_id for r in kept.select("doc_id").collect()}, kept


def test_stream_matches_batch_without_store_update(spark, tmp_path, corpora):
    c1, file_a, file_b = corpora
    got, kept = _run(spark, tmp_path, corpora, update_store=False)
    batch = incremental_minhash_dedup(
        spark.createDataFrame(file_a + file_b, "doc_id long, text string"),
        minhash_signatures(spark.createDataFrame(c1, "doc_id long, text string")),
        bands=8,
    )
    want = {r.doc_id for r in batch.collect()}
    assert got == want
    # crawl-1 dups dropped, fresh docs kept; 203/204 dup only the STREAM
    # itself, so without store updates they survive
    assert {203, 204} <= got
    assert not any(100 <= d <= 104 or 200 <= d <= 202 for d in got)
    # partition column records which micro-batch kept each doc
    assert set(kept.columns) >= {"doc_id", "is_new", "batch_id"}


def test_compaction_preserves_store_semantics(spark, tmp_path, corpora):
    """After a streamed run grew the store with stream-batch-N dirs,
    compacting to one flat dir keeps the exact signature set — and a later
    crawl judged against the compacted store decides identically."""
    c1, file_a, file_b = corpora
    _run(spark, tmp_path, corpora, update_store=True)
    store = str(tmp_path / "store")
    compacted = str(tmp_path / "store_compacted")
    n = compact_signature_store(spark, store, compacted, target_partitions=1)

    before = (
        spark.read.option("recursiveFileLookup", "true").parquet(store)
    )
    after = spark.read.parquet(compacted)
    assert n == before.count() == after.count()
    assert before.exceptAll(after).count() == 0
    assert after.exceptAll(before).count() == 0
    # single flat dir, one data file
    files = [
        f
        for f in os.listdir(compacted)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    assert len(files) == 1

    crawl3 = spark.createDataFrame(
        [(300, c1[0][1]), (301, file_a[5][1]), (302, _sentence(random.Random(99)))],
        "doc_id long, text string",
    )
    from_old = {
        r.doc_id
        for r in incremental_minhash_dedup(crawl3, before, bands=8).collect()
    }
    from_new = {
        r.doc_id
        for r in incremental_minhash_dedup(crawl3, after, bands=8).collect()
    }
    assert from_old == from_new == {302}


def test_update_store_dedups_across_micro_batches(spark, tmp_path, corpora):
    got, _ = _run(spark, tmp_path, corpora, update_store=True)
    # now 203/204 (near-dups of batch 0's fresh docs) are dropped too
    assert not {203, 204} & got
    assert {105, 106, 107, 108, 109} <= got  # batch 0 fresh all kept
    assert {205, 206, 207, 208, 209} <= got  # batch 1 fresh all kept
    assert not any(100 <= d <= 104 or 200 <= d <= 202 for d in got)


def test_replayed_micro_batch_is_idempotent(spark, tmp_path, corpora):
    """foreachBatch is at-least-once: a batch can run, write its output
    AND its store append, then be replayed after a crash before the
    checkpoint commit. The replay must reproduce the original kept set —
    it must NOT see its own previous attempt's appended signatures (which
    would collide every previously-kept doc with itself at est_jaccard
    1.0 and overwrite the correct output with an empty one)."""
    from safe_zone_spark.streaming.incremental import _dedup_one_batch

    c1, file_a, file_b = corpora
    got, _ = _run(spark, tmp_path, corpora, update_store=True)
    out = str(tmp_path / "kept")
    store = str(tmp_path / "store")
    kept_b1_before = {
        r.doc_id
        for r in spark.read.parquet(os.path.join(out, "batch_id=1")).collect()
    }
    assert kept_b1_before  # batch 1 kept its fresh docs

    # replay batch 1 (file_b) with its store append already on disk — the
    # replay runs under the SAME run token (same checkpoint) as the stream
    from safe_zone_spark.streaming.incremental import run_token_for_checkpoint

    _dedup_one_batch(
        spark,
        spark.createDataFrame(file_b, "doc_id long, text string"),
        1,
        prior_store=store,
        output_path=out,
        id_col="doc_id",
        text_col="text",
        num_hashes=16,
        bands=8,
        shingle_n=3,
        threshold=0.5,
        update_store=True,
        run_token=run_token_for_checkpoint(str(tmp_path / "ckpt")),
    )
    kept_b1_after = {
        r.doc_id
        for r in spark.read.parquet(os.path.join(out, "batch_id=1")).collect()
    }
    assert kept_b1_after == kept_b1_before
    # and the overall kept set is unchanged
    total = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert total == got


def test_second_run_dedups_against_first_runs_appends(spark, tmp_path, corpora):
    """A LATER crawl streamed over the same store restarts batch ids at 0.
    Its replay exclusion (K >= batch_id) must scope to ITS OWN run token:
    un-namespaced, batch 0 of run 2 excluded every stream-batch-K append of
    run 1 (K >= 0) — silently losing cross-run dedup — and its own appends
    overwrote run 1's same-named dirs (store corruption)."""
    c1, file_a, file_b = corpora
    _run(spark, tmp_path, corpora, update_store=True)
    store = str(tmp_path / "store")
    store_files_before = sorted(os.listdir(store))

    # crawl 3: one near-dup of a doc that entered the store ONLY via run
    # 1's stream appends (105 = batch 0 fresh), one genuinely fresh doc
    src3 = tmp_path / "incoming3"
    os.makedirs(src3)
    pd.DataFrame(
        [(300, file_a[5][1]), (301, _sentence(random.Random(123)))],
        columns=["doc_id", "text"],
    ).to_parquet(src3 / "crawl3.parquet")
    out3 = str(tmp_path / "kept3")
    q = stream_incremental_dedup(
        spark.readStream.schema("doc_id long, text string").parquet(str(src3)),
        store,
        out3,
        str(tmp_path / "ckpt3"),  # NEW checkpoint → new run, batch ids from 0
        bands=8,
        update_store=True,
    )
    q.awaitTermination(120)
    kept3 = {r.doc_id for r in spark.read.parquet(out3).collect()}
    assert kept3 == {301}  # 300 deduped against run 1's append
    # run 1's append dirs are intact (no overwrite), run 2 added its own
    store_files_after = sorted(os.listdir(store))
    assert set(store_files_before) <= set(store_files_after)
    assert len(store_files_after) > len(store_files_before)


def test_run_token_follows_the_checkpoint_not_its_path(tmp_path):
    """The same checkpoint keeps its token; a deleted-and-reused checkpoint
    path starts a new namespace; a checkpoint Spark already wrote offsets
    into before tokens were stored keeps the md5-of-path token its appends
    carry."""
    import hashlib
    import shutil

    from safe_zone_spark.streaming.incremental import run_token_for_checkpoint

    ckpt = str(tmp_path / "ckpt")
    first = run_token_for_checkpoint(ckpt)
    assert run_token_for_checkpoint(ckpt) == first
    shutil.rmtree(ckpt)
    assert run_token_for_checkpoint(ckpt) != first

    legacy = tmp_path / "legacy"
    (legacy / "offsets").mkdir(parents=True)
    want = hashlib.md5(os.path.abspath(str(legacy)).encode()).hexdigest()[:8]
    assert run_token_for_checkpoint(str(legacy)) == want
    assert run_token_for_checkpoint(str(legacy)) == want
