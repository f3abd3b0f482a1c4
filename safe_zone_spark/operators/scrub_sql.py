"""Independent DuckDB twin of the FULL multi-pattern scrub (C1+C2+R1+D2).

The flagship `scan()` pipeline — blocklist + 20-pattern candidate scan,
stable (start ASC, end DESC) sort, greedy interval scheduling, placeholder
splice, BLOCK decision — re-derived entirely in SQL so the driver can
hash-match `scrub_full` instead of trusting the shared-code pytest oracle
(reference semantics: /root/reference/internal/guardrails/guardrails.go:
232-267 sort+greedy, 326-338 splice, 286-314 decisions).

Key constructions (all pure SQL, no Python in the referee path):

* **Match byte-offsets** — DuckDB exposes no match positions, so they are
  recovered from the complementary pair ``regexp_split_to_array`` (the text
  BETWEEN matches; RE2 split never emits capture groups) and
  ``regexp_extract_all`` (the matches): the i-th match starts at
  ``strlen(parts[1:i]) + strlen(matches[1:i-1])``. Both functions walk the
  same leftmost non-overlapping match sequence, so the reconstruction is
  exact. The corpus is ASCII (pinned by the driver generator), hence
  byte offsets == char offsets and plain ``substr`` splices correctly.
* **Stable sort** — the engine's ``sorted(key=(start, -end))`` is stable
  over generation order (blocklist words sorted, then patterns in seed
  order). ``pord`` reproduces generation order, so
  ``ORDER BY sta, fin DESC, pord`` is the identical total order.
* **Greedy overlap** — `keep iff start >= end-of-last-KEPT` is a running
  fold, NOT a prefix max (a dropped long candidate must not shadow later
  ones), so it is a recursive CTE stepping one candidate per doc per
  iteration — all docs advance in parallel, iterations = max candidates
  per doc.
"""

from __future__ import annotations

import re

from ..oracle import compute_confidence, round_confidence
from ..rules import RuleSet, compile_patterns


def _sq(s: str) -> str:
    """Escape a string for a single-quoted SQL literal."""
    return s.replace("'", "''")


def _candidate_union(rules: RuleSet) -> str:
    """UNION ALL of per-source candidate relations over ``aug`` with
    recovered byte offsets. ``pord`` = generation order rank."""
    selects: list[str] = []

    def one(regex: str, typ: str, ph: str, conf: float, pord: int) -> str:
        r = _sq(regex)
        return f"""
  SELECT doc_id, '{typ}' AS typ, '{_sq(ph)}' AS ph,
         CAST({conf!r} AS DOUBLE) AS conf, {pord} AS pord,
         ms[i] AS value,
         -- NB: sta derived from fin (a DuckDB slice l[1:0] is NULL, not [])
         strlen(array_to_string(parts[1:i], ''))
           + strlen(array_to_string(ms[1:i], '')) - strlen(ms[i]) AS sta,
         strlen(array_to_string(parts[1:i], ''))
           + strlen(array_to_string(ms[1:i], '')) AS fin
  FROM (
    SELECT doc_id, ms, parts, unnest(range(1, len(ms) + 1)) AS i
    FROM (SELECT doc_id, regexp_extract_all(text, '{r}') AS ms,
                 regexp_split_to_array(text, '{r}') AS parts FROM aug)
    WHERE len(ms) > 0
  )"""

    # Blocklist first (sorted words), 1.0 confidence, '[BLOCKED]'
    # (guardrails.go:129-168; oracle.blocklist_candidates). None of the
    # blocklist literals self-overlap, so left-to-right regex matching ==
    # the engine's greedy find loop.
    for w_i, word in enumerate(sorted(rules.blocklist)):
        selects.append(one(re.escape(word), "BLOCKLIST", "[BLOCKED]", 1.0, w_i))
    base = len(rules.blocklist)
    for p_i, (p, _) in enumerate(compile_patterns(rules)):  # RE2-syntax rules only
        conf = round_confidence(
            compute_confidence(category=p.category, active=p.is_active)
        )
        selects.append(one(p.regex, p.name, f"[{p.name}]", conf, base + p_i))
    return " UNION ALL ".join(selects)


def scrub_full_sql(aug_cte: str, rules: RuleSet) -> str:
    """Full-scrub twin over the augmented docs: returns
    (doc_id, scrubbed_text, keep, n_detections) matching
    ``scan(df, rules).select(...)`` with mode='MASK' and no validators.

    ``aug_cte`` must start with ``WITH aug AS`` — rewritten to
    ``WITH RECURSIVE`` for the greedy fold.
    """
    return scrub_cte_chain(aug_cte, rules) + """
SELECT a.doc_id,
  CASE WHEN r.doc_id IS NULL THEN a.text
       ELSE r.head || substr(a.text, CAST(r.last_end + 1 AS INT)) END
    AS scrubbed_text,
  coalesce(NOT r.blocked, TRUE) AS keep,
  CAST(coalesce(r.n_det, 0) AS INT) AS n_detections
FROM aug a LEFT JOIN rebuilt r USING (doc_id)
"""


def scrub_cte_chain(aug_cte: str, rules: RuleSet) -> str:
    """The reusable CTE chain ``aug → cand → numbered → greedy → kept →
    ordered → rebuilt`` (see module docstring); callers append their own
    final SELECT. ``rebuilt`` carries per doc: head (spliced prefix),
    last_end, n_det, blocked, and msg (the '; '-joined BLOCK messages in
    detection order — guardrails.go:286-314)."""
    allow_filter = ""
    if rules.allowlist:
        vals = ", ".join(f"'{_sq(v)}'" for v in sorted(rules.allowlist))
        allow_filter = f"WHERE value NOT IN ({vals})"
    block_t = rules.block_threshold
    recursive_cte = aug_cte.replace("WITH aug AS", "WITH RECURSIVE aug AS", 1)
    return f"""
{recursive_cte},
cand AS ({_candidate_union(rules)}),
numbered AS (
  SELECT doc_id, typ, ph, conf, sta, fin,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY sta ASC, fin DESC, pord ASC) AS rn
  FROM cand {allow_filter}
),
greedy AS (
  SELECT doc_id, CAST(0 AS BIGINT) AS rn, CAST(0 AS BIGINT) AS cur_end,
         FALSE AS kept, CAST(NULL AS VARCHAR) AS typ,
         CAST(NULL AS VARCHAR) AS ph, CAST(NULL AS DOUBLE) AS conf,
         CAST(NULL AS BIGINT) AS sta, CAST(NULL AS BIGINT) AS fin
  FROM (SELECT DISTINCT doc_id FROM numbered)
  UNION ALL
  SELECT n.doc_id, n.rn,
         CASE WHEN n.sta >= g.cur_end THEN n.fin ELSE g.cur_end END,
         n.sta >= g.cur_end, n.typ, n.ph, n.conf, n.sta, n.fin
  FROM greedy g JOIN numbered n ON n.doc_id = g.doc_id AND n.rn = g.rn + 1
),
kept AS (SELECT * FROM greedy WHERE kept),
ordered AS (
  SELECT k.doc_id, k.typ, k.ph, k.conf, k.sta, k.fin, a.text,
         coalesce(lag(k.fin) OVER (PARTITION BY k.doc_id ORDER BY k.sta), 0)
           AS prev_end
  FROM kept k JOIN aug a USING (doc_id)
),
rebuilt AS (
  SELECT doc_id,
    string_agg(substr(text, CAST(prev_end + 1 AS INT),
                      CAST(sta - prev_end AS INT)) || ph, '' ORDER BY sta)
      AS head,
    max(fin) AS last_end,
    count(*) AS n_det,
    bool_or(conf >= {block_t!r}) AS blocked,
    coalesce(string_agg('Blocked due to high confidence detection: ' || typ, '; '
               ORDER BY sta) FILTER (WHERE conf >= {block_t!r}), '') AS msg
  FROM ordered GROUP BY doc_id
)"""


def stream_scrub_oracle_sql(
    base_select: str, rules: RuleSet, *,
    halt_default_msg: str = "Assistant response blocked by TSZ security policy",
) -> str:
    """DuckDB twin of the STATEFUL stream-sync scrubber for the driver's
    fixed 3-chunk split (30 / 30 / rest): because the chunking is static,
    the per-stream fold unrolls — step i's buffer is a text PREFIX, each
    prefix runs through the full scrub chain, and the prefix-diff emit /
    monotone watermark / shrink guard / halt semantics
    (streaming/scrub_stream.py:_advance; gateway_stream.go:164-176,
    316-329) become closed-form column algebra:

        v_i   = max(v_{i-1}, len(s_i))           (watermark)
        emit_i = s_i[v_{i-1}:]  iff len(s_i) > v_{i-1}   (shrink guard)
        halt: first blocked step emits its block message once, ends stream.

    ``base_select`` yields (doc_id, text) — the stream sources. Output
    matches q_stream_scrub: (stream_id, emit_seq, emit, is_error, mode)
    for BOTH onFail modes."""
    steps_aug = f"""WITH aug AS (
  SELECT base.doc_id * 4 + s.step AS doc_id,
         CASE s.step WHEN 1 THEN substr(base.text, 1, 30)
                     WHEN 2 THEN substr(base.text, 1, 60)
                     ELSE base.text END AS text
  FROM ({base_select}) base
  CROSS JOIN (VALUES (1), (2), (3)) s(step)
)"""
    dm = _sq(halt_default_msg)
    return scrub_cte_chain(steps_aug, rules) + f"""
, scrubbed AS (
  SELECT a.doc_id // 4 AS doc, a.doc_id % 4 AS step,
    CASE WHEN r.doc_id IS NULL THEN a.text
         ELSE r.head || substr(a.text, CAST(r.last_end + 1 AS INT)) END AS s,
    coalesce(r.blocked, FALSE) AS blocked,
    coalesce(r.msg, '') AS msg
  FROM aug a LEFT JOIN rebuilt r USING (doc_id)
),
piv AS (
  SELECT doc,
    max(CASE WHEN step = 1 THEN s END) AS s1,
    max(CASE WHEN step = 2 THEN s END) AS s2,
    max(CASE WHEN step = 3 THEN s END) AS s3,
    bool_or(step = 1 AND blocked) AS b1,
    bool_or(step = 2 AND blocked) AS b2,
    bool_or(step = 3 AND blocked) AS b3,
    max(CASE WHEN step = 1 THEN msg END) AS m1,
    max(CASE WHEN step = 2 THEN msg END) AS m2,
    max(CASE WHEN step = 3 THEN msg END) AS m3
  FROM scrubbed GROUP BY doc
),
fold AS (
  SELECT *, length(s1) AS l1, length(s2) AS l2, length(s3) AS l3,
         greatest(0, length(s1)) AS v1,
         greatest(0, length(s1), length(s2)) AS v2
  FROM piv
),
all_emits AS (
  SELECT doc, 1 AS step, s1 AS emit, FALSE AS is_error, 'filter' AS mode
    FROM fold WHERE l1 > 0
  UNION ALL
  SELECT doc, 2, substr(s2, CAST(v1 + 1 AS INT)), FALSE, 'filter'
    FROM fold WHERE l2 > v1
  UNION ALL
  SELECT doc, 3, substr(s3, CAST(v2 + 1 AS INT)), FALSE, 'filter'
    FROM fold WHERE l3 > v2
  UNION ALL
  SELECT doc, 1, CASE WHEN b1 THEN coalesce(nullif(m1, ''), '{dm}') ELSE s1 END,
         b1, 'halt'
    FROM fold WHERE b1 OR l1 > 0
  UNION ALL
  SELECT doc, 2,
         CASE WHEN b2 THEN coalesce(nullif(m2, ''), '{dm}')
              ELSE substr(s2, CAST(v1 + 1 AS INT)) END, b2, 'halt'
    FROM fold WHERE NOT b1 AND (b2 OR l2 > v1)
  UNION ALL
  SELECT doc, 3,
         CASE WHEN b3 THEN coalesce(nullif(m3, ''), '{dm}')
              ELSE substr(s3, CAST(v2 + 1 AS INT)) END, b3, 'halt'
    FROM fold WHERE NOT b1 AND NOT b2 AND (b3 OR l3 > v2)
)
SELECT CAST(doc AS VARCHAR) AS stream_id,
       CAST(row_number() OVER (PARTITION BY doc, mode ORDER BY step) - 1
            AS BIGINT) AS emit_seq,
       emit, is_error, mode
FROM all_emits
"""
