"""Stream-sync incremental scrubber — the reference's stateful streaming op.

Replicates the gateway's `stream-sync` mode
(/root/reference/internal/handlers/gateway_stream.go:54-226): accumulate
delta chunks into a per-stream buffer (capped, keep-last truncation), re-run
the detector over the FULL accumulated text after each chunk, and emit only
the *new sanitized suffix* (prefix-diff). The guarantee — the reference's
e2e invariant — is that a secret split across chunk boundaries
("4111 1111 " + "1111 1111") never appears COMPLETE in the output: the
moment it completes, the new suffix is emitted sanitized. Bytes already
sent before the pattern completed cannot be retracted (the reference has
the same property — docs/concepts/STREAMING.md:117-134 — which is why its
`halt` onFail mode exists for strict deployments).

Observable semantics replicated exactly:
* prefix-diff emit: `sanitized[validated:]` (gateway_stream.go:164-170);
* shrink guard: if a re-scan yields a *shorter* sanitized text than already
  emitted, log-and-skip — emit nothing, keep `validated`
  (gateway_stream.go:172-176);
* buffer cap with keep-last truncation, default 256 KiB
  (config.go:80, gateway_stream.go:153-162); `validated` stays monotonic
  across truncation exactly like the reference's validatedSoFar (output is
  suppressed by the shrink guard until sanitized length catches up).

Spark mapping: ``applyInPandasWithState`` keyed by stream id; state =
(buffer, validated_len, last_seq). It is the package's one pandas crossing
(every other stage goes through ``crossing``): Spark 4.1 has no Arrow-typed
form of it with the same ``GroupState`` API. Chunks are applied in ``seq`` order
within each micro-batch, one detector pass per chunk over the accumulated
buffer — O(buffer) per chunk, exactly the reference's cost model, bounded by
the cap. At scale each stream is independent state (hash-partitioned by
key); throughput scales with executors, state size is bounded per stream.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd

from ..operators.scan import detect_batch
from ..rules import RuleSet

DEFAULT_MAX_BUFFER = 256 * 1024


HALT_DEFAULT_MSG = "Assistant response blocked by TSZ security policy"


def _scrub_once(buffer: str, rules: RuleSet) -> Tuple[str, bool, str]:
    res = detect_batch(pd.Series([buffer]), rules)
    return (
        res["scrubbed_text"].iloc[0],
        bool(res["blocked"].iloc[0]),
        res["message"].iloc[0],
    )


def _decode_state(st: tuple) -> "Tuple[str, int, int, bool]":
    """Decode a checkpointed state row into (buffer, validated, emit_count,
    halted) — STATE SCHEMA v2 (the 'halted' field was added for
    on_fail=halt). A checkpoint written by the 3-field v1 schema that the
    state store still decodes is padded with halted=False (a v1 stream can
    never have been halted: the mode didn't exist); checkpoints the store
    rejects outright at schema validation must be discarded on upgrade —
    state is NOT silently reinterpreted. Restart-from-v1 is pinned by
    tests/test_streaming.py::test_v1_state_pad_decode."""
    return (st + (False,))[:4]


def _advance(
    buffer: str, validated: int, chunk: str, rules: RuleSet, max_buffer: int,
    on_fail: str = "filter",
) -> Tuple[str, int, str, bool, str]:
    """One chunk step → (new_buffer, new_validated, emitted_text,
    halted, halt_message)."""
    buffer = buffer + (chunk or "")
    if len(buffer.encode("utf-8")) > max_buffer:
        # keep-last truncation on byte length (gateway_stream.go:153-162).
        # `validated` stays MONOTONIC like the reference's validatedSoFar —
        # clamping it down would re-emit text the client already received;
        # the shrink guard below simply suppresses output until the
        # sanitized length grows past the watermark again.
        data = buffer.encode("utf-8")[-max_buffer:]
        buffer = data.decode("utf-8", "ignore")
    sanitized, blocked, msg = _scrub_once(buffer, rules)
    if blocked and on_fail == "halt":
        # gateway_stream.go:316-329 + 165-170: emit ONE error event and
        # terminate the stream; the sanitized delta is NOT sent.
        return buffer, validated, "", True, msg or HALT_DEFAULT_MSG
    if len(sanitized) > validated:
        emitted = sanitized[validated:]
        return buffer, len(sanitized), emitted, False, ""
    # shrink or no growth → emit nothing, keep watermark (log-and-skip)
    return buffer, validated, "", False, ""


def stream_sync_scrub(
    stream_df,
    rules: RuleSet,
    *,
    key_col: str = "stream_id",
    seq_col: str = "seq",
    chunk_col: str = "delta",
    max_buffer_bytes: int = DEFAULT_MAX_BUFFER,
    on_fail: str = "filter",
):
    """streaming DataFrame (key, seq, delta) → streaming
    (key, emit_seq, emit, is_error) rows.

    Each output row is one non-empty prefix-diff emission (one SSE chunk in
    the reference). Concatenating a stream's emits in order reconstructs the
    sanitized stream; raw PII never appears even when split across chunks.

    ``on_fail='halt'`` (gateway_stream.go:316-329): the first chunk whose
    accumulated scan comes back *blocked* emits a single ``is_error=True``
    row carrying the block message and terminates that stream — all later
    chunks (this batch or any future one) are dropped. ``'filter'`` keeps
    streaming sanitized text regardless.

    Checkpoint compatibility: the state schema is v2 (4 fields; v1 lacked
    ``halted``). Restarting on a v1 checkpoint either pads halted=False
    (when the state store tolerates the narrower row) or fails Spark's
    state-schema validation — in the latter case discard the checkpoint
    directory and replay the source; state is never silently corrupted.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    spark = stream_df.sparkSession
    b_rules = spark.sparkContext.broadcast(rules)

    out_schema = StructType(
        [
            StructField(key_col, StringType()),
            StructField("emit_seq", LongType()),
            StructField("emit", StringType()),
            StructField("is_error", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("buffer", StringType()),
            StructField("validated", IntegerType()),
            StructField("emit_count", LongType()),
            StructField("halted", BooleanType()),
        ]
    )

    def fn(key: Any, pdf_iter: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        r = b_rules.value
        if not state.exists:
            buffer, validated, emit_count, halted = "", 0, 0, False
        else:
            buffer, validated, emit_count, halted = _decode_state(tuple(state.get))
        chunks: list[tuple[int, str]] = []
        for pdf in pdf_iter:
            chunks.extend(zip(pdf[seq_col].tolist(), pdf[chunk_col].tolist()))
        chunks.sort(key=lambda t: t[0])
        keys, seqs, emits, errs = [], [], [], []
        for _, chunk in chunks:
            if halted:
                break  # stream terminated by a halt error event
            buffer, validated, emitted, halted, halt_msg = _advance(
                buffer, validated, chunk, r, max_buffer_bytes, on_fail
            )
            if halted:
                keys.append(key[0])
                seqs.append(emit_count)
                emits.append(halt_msg)
                errs.append(True)
                emit_count += 1
            elif emitted:
                keys.append(key[0])
                seqs.append(emit_count)
                emits.append(emitted)
                errs.append(False)
                emit_count += 1
        state.update((buffer, validated, emit_count, halted))
        if keys:
            yield pd.DataFrame(
                {key_col: keys, "emit_seq": seqs, "emit": emits, "is_error": errs}
            )

    return (
        stream_df.groupBy(key_col)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


# ---------------------------------------------------------------------------
# G3 final-only and G5 stream-async modes (gateway_stream.go:18-50, 230-294)
# ---------------------------------------------------------------------------


def stream_final_only(stream_df):
    """G3 `final-only`: pass the stream through untouched (the guardrail
    runs on the assembled final text elsewhere). Deliberately a no-op —
    kept as a named stage so mode dispatch (gateway.go:126-137) maps 1:1."""
    return stream_df


def stream_async_audit(
    stream_df,
    rules: RuleSet,
    audit_path: str,
    checkpoint_dir: str,
    *,
    key_col: str = "stream_id",
    chunk_col: str = "delta",
):
    """G5 `stream-async`: chunks pass through raw (zero added latency); a
    side foreachBatch job runs the detector over each micro-batch's chunks
    and appends findings to the audit table — the durable analog of the
    reference's detached-goroutine SIEM scan (gateway_stream.go:281-293),
    off the serving path.

    Returns the started side-audit StreamingQuery; the caller keeps using
    ``stream_df`` unchanged as the serving stream.
    """
    from pyspark.sql import functions as F

    from ..operators.scan import scan

    def audit_batch(batch_df, batch_id: int) -> None:
        scanned = scan(batch_df, rules, text_col=chunk_col)
        (
            scanned.select(key_col, F.explode("detections").alias("d"))
            .select(
                F.lit(batch_id).alias("batch_id"),
                F.col(key_col),
                F.col("d.type").alias("type"),
                F.col("d.action").alias("action"),
                F.col("d.confidence").alias("confidence"),
            )
            .write.mode("append")
            .parquet(audit_path)
        )

    return (
        stream_df.writeStream.foreachBatch(audit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
