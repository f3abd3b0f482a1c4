"""Gateway operators (G1/G2/G6) and side-effect sinks (E1/L1) as batch ops.

The reference wraps the detector in an OpenAI-compatible gateway
(/root/reference/internal/handlers/gateway.go): input guardrails per user
message (:204-253), output guardrails per assistant choice (:280-371), and
a triggered-guardrail rollup — distinct names, sorted — attached as
``tsz_meta`` (:424-454). Per kept detection it fires a SecurityEvent webhook
(guardrails.go:293-303, siem.go:16-40).

Corpus mapping: a conversation is rows (conv_id, turn, role, content); both
guardrail passes are the same scan over different row subsets, the rollup
is a groupBy, and the SIEM webhook becomes an append-only
``security_events`` table (at scale: an Iceberg append per micro-batch in
foreachBatch — never on the hot path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rules import RuleSet, default_rules
from .scan import scan
from .scrub_sql import scrub_cte_chain


def gateway_guardrails(
    conv: DataFrame,
    rules: RuleSet | None = None,
    *,
    conv_col: str = "conv_id",
    turn_col: str = "turn",
    role_col: str = "role",
    content_col: str = "content",
    block_mode: str = "MASK",
    pre_scanned: bool = False,
) -> DataFrame:
    """Per-conversation guardrail envelope.

    Runs the detector over every message (user = input pass G1, assistant =
    output pass G2 — same engine, one scan), redacts content, and rolls up:
    (conv_id, blocked, triggered array<string>, messages array<struct>).
    A blocked *user* message always blocks the conversation (the reference
    never forwards it upstream — gateway.go:57-74); a blocked *assistant*
    message blocks only when ``block_mode='BLOCK'`` (GATEWAY_BLOCK_MODE ∈
    {BLOCK, MASK, WARN}, .env.example:69-75) — MASK redacts it and passes,
    WARN passes assistant content through UNREDACTED and only annotates
    (the triggered rollup carries the findings; docs/API_REFERENCE.md
    WARN envelope). User messages are always redacted in every mode.
    """
    rules = rules or default_rules()
    # pre_scanned: caller already ran scan() over the conversation (e.g.
    # to share ONE detector pass across several block modes)
    scanned = conv if pre_scanned else scan(conv, rules, text_col=content_col)
    out_content = (
        F.when(F.col(role_col) == "user", F.col("scrubbed_text")).otherwise(
            F.col(content_col)
        )
        if block_mode == "WARN"
        else F.col("scrubbed_text")
    )
    msg = F.struct(
        F.col(role_col).alias("role"),
        out_content.alias("content"),
        F.col("blocked").alias("blocked"),
    )
    input_blocked = (
        F.max(F.when((F.col(role_col) == "user") & F.col("blocked"), 1).otherwise(0)) == 1
    )
    output_blocked = (
        F.max(F.when((F.col(role_col) != "user") & F.col("blocked"), 1).otherwise(0)) == 1
    )
    blocked = (
        (input_blocked | output_blocked) if block_mode == "BLOCK" else input_blocked
    )
    return (
        scanned.withColumn("_types", F.map_keys(F.col("breakdown")))
        .groupBy(conv_col)
        .agg(
            blocked.alias("blocked"),
            (F.max(F.col("blocked").cast("int")) == 1).alias("any_message_blocked"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("_types")))).alias(
                "triggered"
            ),
            F.sort_array(
                F.collect_list(F.struct(F.col(turn_col).alias("turn"), msg.alias("m")))
            ).alias("_ordered"),
        )
        .withColumn("messages", F.transform(F.col("_ordered"), lambda x: x["m"]))
        .drop("_ordered")
    )


def triggered_rollup(
    hits: DataFrame, *, id_col: str = "doc_id"
) -> DataFrame:
    """G6 as a standalone relational op over the (id, type, hits) relation:
    (id, triggered = sorted distinct types, total_hits)."""
    return hits.groupBy(id_col).agg(
        F.array_sort(F.collect_set("type")).alias("triggered"),
        F.sum("hits").alias("total_hits"),
    )


TRIGGERED_ROLLUP_SQL_TEMPLATE = (
    "SELECT doc_id, list_sort(list(DISTINCT type)) AS triggered, "
    "CAST(sum(hits) AS BIGINT) AS total_hits FROM ({hits}) GROUP BY doc_id"
)


def write_security_events(
    scanned: DataFrame, path: str, *, id_col: str = "doc_id", run_id: str = "run"
) -> None:
    """E1: one appended row per kept detection — the SIEM webhook's durable
    analog (fire-and-forget POST → append-only table; at scale an Iceberg
    append inside foreachBatch, off the hot path)."""
    ev = (
        scanned.select(id_col, F.explode("detections").alias("d"))
        .select(
            F.lit(run_id).alias("run_id"),
            F.col(id_col),
            F.col("d.type").alias("type"),
            F.col("d.action").alias("action"),
            F.col("d.confidence").alias("confidence"),
            F.col("d.start").alias("start"),
            F.col("d.end").alias("end"),
            F.current_timestamp().alias("emitted_at"),
        )
    )
    ev.write.mode("append").parquet(path)


def security_events_oracle_sql(aug_cte: str, rules: RuleSet) -> str:
    """DuckDB twin of ``write_security_events(scan(aug, rules))`` read back
    with run_id 'drv': the scrub chain's kept relation with the threshold
    action mapping. ``aug_cte`` as for ``scrub_sql.scrub_full_sql``."""
    return scrub_cte_chain(aug_cte, rules) + """
SELECT 'drv' AS run_id, doc_id, typ AS type,
  CASE WHEN conf >= 0.85 THEN 'BLOCK'
       WHEN conf < 0.30 THEN 'ALLOW' ELSE 'MASK' END AS action,
  conf AS confidence,
  CAST(sta AS INT) AS start, CAST(fin AS INT) AS "end"
FROM kept
"""


def gateway_modes_oracle_sql(aug_cte: str, rules: RuleSet) -> str:
    """DuckDB twin of the per-conversation block-mode matrix: docs pair up
    into conversations (conv_id = doc_id % 50, even ids are user turns),
    and the scrub chain's per-doc blocked/type relations roll up once per
    conversation, crossed with the three GATEWAY_BLOCK_MODE values.
    ``aug_cte`` as for ``scrub_sql.scrub_full_sql``."""
    return scrub_cte_chain(aug_cte, rules) + """
, per_msg AS (
  SELECT a.doc_id, a.doc_id % 50 AS conv_id,
         CASE WHEN a.doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
         coalesce(r.blocked, FALSE) AS blocked
  FROM aug a LEFT JOIN rebuilt r USING (doc_id)
),
conv_types AS (
  SELECT m.conv_id,
         array_to_string(list_sort(list(DISTINCT k.typ)), ',') AS triggered
  FROM per_msg m JOIN kept k USING (doc_id) GROUP BY 1
),
conv AS (
  SELECT conv_id,
    bool_or(role = 'user' AND blocked) AS in_b,
    bool_or(role <> 'user' AND blocked) AS out_b,
    bool_or(blocked) AS any_b
  FROM per_msg GROUP BY 1
)
SELECT c.conv_id, m.mode,
  CASE WHEN m.mode = 'BLOCK' THEN (c.in_b OR c.out_b) ELSE c.in_b END AS blocked,
  c.any_b AS any_message_blocked,
  coalesce(ct.triggered, '') AS triggered
FROM conv c
CROSS JOIN (VALUES ('BLOCK'), ('MASK'), ('WARN')) m(mode)
LEFT JOIN conv_types ct USING (conv_id)
"""
