"""Relational projections of the validator/checksum operators (V1-V5).

``validator_columns`` runs the format validators as per-doc boolean columns
(V1 JSON, V3 REGEX seeds) in one vectorized batch pass — the corpus analog
of ValidateFormat (/root/reference/internal/guardrails/validators.go:50-91),
where each document plays the role of one request body.

``checksum_candidates`` extracts the first CREDIT_CARD / TCKN candidate per
document (same RE2-compatible seed regexes as the scan) and validates the
checksums (Luhn; TCKN per init.sql:108's spelled-out arithmetic) with the
numpy-vectorized validators — the north-star's "checksum-validated (Luhn)"
stage as a standalone, oracle-checkable operator.
"""

from __future__ import annotations

import re

import numpy as np

from ..checksums import luhn_valid_np, tckn_valid_np
from ..crossing import map_batches, pylist, strings
from ..validators import is_valid_json, is_valid_xml, regex_match

# Seed REGEX validators (init.sql:96-100) — all ^…$-anchored.
REGEX_VALIDATORS = {
    "email_ok": r"^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$",
    "numeric_ok": r"^[0-9]+$",
    "alnum_ok": r"^[a-zA-Z0-9]+$",
}

# Same candidate shapes as the seed detection patterns (init.sql:25,28).
_CC_RE = re.compile(r"\b(?:\d[ -]*?){13,16}\b")
_TCKN_RE = re.compile(r"\b[1-9][0-9]{9}[02468]\b")


def validator_columns(df, *, id_col: str = "doc_id", text_col: str = "text"):
    """(id, json_ok, xml_ok, email_ok, numeric_ok, alnum_ok) — one batch pass."""
    id_type = df.schema[id_col].dataType.simpleString()
    schema = (
        f"{id_col} {id_type}, json_ok boolean, xml_ok boolean, "
        "email_ok boolean, numeric_ok boolean, alnum_ok boolean"
    )

    def run(batch):
        texts = strings(pylist(batch.column(text_col)))
        out = {"json_ok": [is_valid_json(t) for t in texts],
               "xml_ok": [is_valid_xml(t) for t in texts]}
        for name, rule in REGEX_VALIDATORS.items():
            out[name] = [regex_match(rule, t)[0] for t in texts]
        return out

    return map_batches(df.select(id_col, text_col), run, schema)


def checksum_candidates(df, *, id_col: str = "doc_id", text_col: str = "text"):
    """(id, card_candidate, luhn_ok, tckn_candidate, tckn_ok).

    First match per doc (leftmost, RE2-parity patterns); null candidate →
    false. Vectorized checksum arithmetic over the whole batch.
    """
    id_type = df.schema[id_col].dataType.simpleString()
    schema = (
        f"{id_col} {id_type}, card_candidate string, luhn_ok boolean, "
        "tckn_candidate string, tckn_ok boolean"
    )

    def run(batch):
        texts = strings(pylist(batch.column(text_col)))
        cards = [(m.group(0) if (m := _CC_RE.search(t)) else None) for t in texts]
        tckns = [(m.group(0) if (m := _TCKN_RE.search(t)) else None) for t in texts]
        luhn = luhn_valid_np(np.array(["" if c is None else c for c in cards], dtype=object))
        # TCKN regex guarantees 11 digits; checksum still must pass
        tv = tckn_valid_np(np.array(["" if c is None else c for c in tckns], dtype=object))
        return {"card_candidate": cards,
                "luhn_ok": [bool(x) and c is not None for x, c in zip(luhn, cards)],
                "tckn_candidate": tckns,
                "tckn_ok": [bool(x) and c is not None for x, c in zip(tv, tckns)]}

    return map_batches(df.select(id_col, text_col), run, schema)


# --- DuckDB twins ----------------------------------------------------------


def checksum_sql(aug_cte: str) -> str:
    """DuckDB twin of :func:`checksum_candidates` over the augmented docs.

    Luhn: double every 2nd digit from the right via a lookup list;
    TCKN: the init.sql:108 arithmetic, digit-by-digit.
    """
    return f"""
{aug_cte},
cand AS (
  SELECT doc_id,
    nullif(regexp_extract(text, '\\b(?:\\d[ -]*?){{13,16}}\\b'), '') AS card_candidate,
    nullif(regexp_extract(text, '\\b[1-9][0-9]{{9}}[02468]\\b'), '') AS tckn_candidate
  FROM aug
),
luhn AS (
  SELECT doc_id, card_candidate,
    CASE WHEN card_candidate IS NULL THEN FALSE ELSE (
      SELECT len(d) >= 12 AND
        list_sum(list_transform(range(1, len(d) + 1), i ->
          CASE WHEN (len(d) - i) % 2 = 1
               THEN [0,2,4,6,8,1,3,5,7,9][d[i] + 1]
               ELSE d[i] END)) % 10 = 0
      FROM (SELECT list_transform(regexp_extract_all(card_candidate, '[0-9]'),
                                  x -> CAST(x AS INT)) AS d)
    ) END AS luhn_ok
  FROM cand
),
tckn AS (
  SELECT doc_id, tckn_candidate,
    CASE WHEN tckn_candidate IS NULL THEN FALSE ELSE (
      -- ((x % 10) + 10) % 10: DuckDB % is truncated (negative for negative
      -- dividends, e.g. 7*odd < even) while the engine/init.sql:108 use
      -- mathematical floor mod — wrap so both agree on every digit mix.
      SELECT d[1] <> 0
        AND d[10] = ((((d[1]+d[3]+d[5]+d[7]+d[9]) * 7 - (d[2]+d[4]+d[6]+d[8])) % 10) + 10) % 10
        AND d[11] = (d[1]+d[2]+d[3]+d[4]+d[5]+d[6]+d[7]+d[8]+d[9]+d[10]) % 10
      FROM (SELECT list_transform(regexp_extract_all(tckn_candidate, '[0-9]'),
                                  x -> CAST(x AS INT)) AS d)
    ) END AS tckn_ok
  FROM cand
)
SELECT l.doc_id, l.card_candidate, l.luhn_ok, t.tckn_candidate, t.tckn_ok
FROM luhn l JOIN tckn t ON l.doc_id = t.doc_id
"""


def validator_sql(aug_cte: str) -> str:
    """DuckDB twin of the SQL-expressible validator columns (JSON via
    json_valid; anchored REGEX seeds via RE2 regexp_matches). XML has no
    DuckDB twin — it stays in the rows-only query."""
    regexes = " , ".join(
        f"regexp_matches(text, '{rule}') AS {name}"
        for name, rule in REGEX_VALIDATORS.items()
    )
    return f"""
{aug_cte}
SELECT doc_id, json_valid(text) AS json_ok, {regexes}
FROM aug
"""
