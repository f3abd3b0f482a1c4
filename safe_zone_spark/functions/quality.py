"""Gopher/C4-style heuristic quality rules as vectorized column expressions.

Mandated by the north-star spec (BASELINE.json) on top of the reference's
detector — classic web-corpus filters (Rae et al. Gopher §A1.1, Raffel et al.
C4 §2.2 lineage), all expressed JVM-side so they run inside whole-stage
codegen *before* the Python scan stage (cheap rules first — the Spark analog
of the reference's early-block short-circuit, gateway.go:57-74).

Every formula here has an exact ANSI-SQL twin used as the DuckDB oracle in
``__spark_entry__.py`` — keep the two in sync.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..crossing import text_udf

# word tokens = single-space split (our corpus normalizes whitespace);
# the SQL twin is len(string_split(text, ' ')).
STOPWORD_RE = r"\b(the|and|of|to|in|is|that|with|for|was)\b"
SYMBOL_RE = r"[#{}<>|]"
BULLET_RE = r"(^|\n)[-*•] "

# Gopher-style bounds (public Gopher paper §A1.1, adapted to short synthetic docs)
MIN_WORDS, MAX_WORDS = 5, 100000
MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN = 2.0, 12.0
MAX_SYMBOL_RATIO = 0.1


def gopher_quality_columns(text: Column | str = "text") -> dict[str, Column]:
    """Returns the quality feature/flag columns, keyed by output name."""
    t = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(t)
    word_count = F.size(F.split(t, " "))
    # words are single-space separated → total word chars = n_chars - (wc-1)
    mean_word_len = F.round(
        (n_chars - word_count + F.lit(1)).cast("double") / word_count.cast("double"), 4
    )
    stop_hits = F.regexp_count(t, F.lit(STOPWORD_RE))
    symbol_count = F.regexp_count(t, F.lit(SYMBOL_RE))
    symbol_ratio = F.round(symbol_count.cast("double") / word_count.cast("double"), 4)
    bullet_lines = F.regexp_count(t, F.lit(BULLET_RE))
    ellipsis_end = t.endswith("...") | t.endswith("…")
    # Gopher repetition signals: fraction of duplicate lines / duplicate word
    # occurrences (Rae et al. §A1.1 "repetitious" filters, O(n) forms)
    lines = F.split(t, "\n")
    dup_line_ratio = F.round(
        (F.size(lines) - F.size(F.array_distinct(lines))).cast("double")
        / F.size(lines),
        4,
    )
    words = F.split(t, " ")
    dup_word_ratio = F.round(
        (word_count - F.size(F.array_distinct(words))).cast("double") / word_count, 4
    )

    quality_keep = (
        (word_count >= MIN_WORDS)
        & (word_count <= MAX_WORDS)
        & (mean_word_len >= MIN_MEAN_WORD_LEN)
        & (mean_word_len <= MAX_MEAN_WORD_LEN)
        & (symbol_ratio <= MAX_SYMBOL_RATIO)
    )
    return {
        "n_chars": n_chars.cast("long"),
        "word_count": word_count.cast("long"),
        "mean_word_len": mean_word_len,
        "stop_hits": stop_hits.cast("long"),
        "symbol_ratio": symbol_ratio,
        "bullet_lines": bullet_lines.cast("long"),
        "ellipsis_end": ellipsis_end,
        "dup_line_ratio": dup_line_ratio,
        "dup_word_ratio": dup_word_ratio,
        "quality_keep": quality_keep,
    }


# --- Gopher repetition filters (Rae et al. §A1.1, Table A1) ------------------
# The heavier "repetitious text" family the O(n) array forms above cannot
# express: duplicate-line CHARACTER fraction and most-frequent-n-gram
# character fractions need per-doc counting, done doc-locally in one numpy
# batch (``repetition_metrics_fused``); ``repetition_oracle_sql`` is the
# relational DuckDB twin.

MAX_DUP_LINE_FRAC = 0.30
MAX_DUP_LINE_CHAR_FRAC = 0.20
TOP_NGRAM_CAPS = {2: 0.20, 3: 0.18, 4: 0.16}  # Gopher Table A1


def _repetition_raw(t: str) -> tuple[float, float, float, float, float]:
    """One doc → raw (dup_line_frac, dup_line_char_frac, top2/3/4 gram char
    fracs), as defined in :func:`repetition_metrics_fused` — np.unique's
    sorted-ascending output makes argmax(counts) EXACTLY the (count DESC,
    gram ASC) tie-break the SQL twin's window uses (argmax returns the
    FIRST max, and first-in-sorted = lexicographically smallest)."""
    n_chars = max(len(t), 1)
    lines = [ln for ln in t.split("\n") if ln]
    if lines:
        uline, lc = np.unique(lines, return_counts=True)
        llen = np.array([len(ln) for ln in uline], dtype=np.int64)
        n_lines = int(lc.sum())
        line_chars = int((lc * llen).sum())
        dup_chars = int((lc * llen)[lc > 1].sum())
        dlf = (n_lines - len(uline)) / n_lines
        dcf = dup_chars / line_chars if line_chars > 0 else 0.0
    else:
        dlf = dcf = 0.0
    words = [w for w in t.split(" ") if w]
    fr = []
    for n in (2, 3, 4):
        if len(words) < n:
            fr.append(0.0)
            continue
        grams = [" ".join(words[i:i + n]) for i in range(len(words) - n + 1)]
        ug, gc = np.unique(grams, return_counts=True)
        i = int(np.argmax(gc))
        fr.append(int(gc[i]) * len(ug[i]) / n_chars)
    return dlf, dcf, fr[0], fr[1], fr[2]


def repetition_columns(texts) -> dict[str, np.ndarray]:
    """Texts (each non-str as "") → columns of RAW repetition fractions + keep —
    the batch entry point (module-level, picklable by name for fused
    extra_scorers use). Rounding is deliberately NOT done here: np.round /
    Python round are banker's while Spark F.round and DuckDB round are
    half-up for positives — an exactly-representable boundary like 1/32 =
    0.03125 would emit 0.0312 here vs 0.0313 in the oracle. Callers round
    JVM-side."""
    rows = [_repetition_raw(t if isinstance(t, str) else "") for t in texts]
    arr = np.array(rows, dtype=np.float64).reshape(len(rows), 5)
    keep = (
        (arr[:, 0] <= MAX_DUP_LINE_FRAC)
        & (arr[:, 1] <= MAX_DUP_LINE_CHAR_FRAC)
        & (arr[:, 2] <= TOP_NGRAM_CAPS[2])
        & (arr[:, 3] <= TOP_NGRAM_CAPS[3])
        & (arr[:, 4] <= TOP_NGRAM_CAPS[4])
    )
    return {"dlf": arr[:, 0], "dcf": arr[:, 1], "f2": arr[:, 2], "f3": arr[:, 3],
            "f4": arr[:, 4], "rep_keep": keep}


def repetition_metrics_fused(df, *, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document Gopher repetition metrics + keep flag, as ONE Arrow
    crossing with zero shuffles (the metrics are doc-local; a relational
    plan shuffles ~3× the corpus words through 4 shuffle/sort stages).

    Definitions (identical in the DuckDB twin, ``repetition_oracle_sql``):
    * lines = split on \\n, EMPTY LINES EXCLUDED — blank-line paragraph
      separators are formatting, not repetition; counting them as
      duplicates would fail every normally-formatted multi-paragraph page
      at the 0.30 cap;
      dup_line_frac     = (n_lines - n_distinct_lines) / n_lines (0 when
      there are no non-empty lines);
      dup_line_char_frac = chars in lines occurring more than once / chars
      in all lines (0 when the denominator is 0);
    * words = non-empty single-space tokens; the top n-gram (n = 2, 3, 4)
      is the most frequent space-joined word n-gram, ties broken by the
      lexicographically smallest gram;
      top{{n}}gram_char_frac = count · len(gram) / len(text).
    rep_keep applies the raw (unrounded) fractions against the Gopher
    Table A1 caps; emitted fractions are rounded to 4 JVM-side (filter on
    RAW, emit rounded — the repo-wide twin convention)."""
    raw_udf = text_udf(
        repetition_columns,
        "dlf double, dcf double, f2 double, f3 double, f4 double, rep_keep boolean")
    r = df.select(F.col(id_col), raw_udf(F.col(text_col)).alias("_r"))
    return r.select(
        id_col,
        F.round("_r.dlf", 4).alias("dup_line_frac"),
        F.round("_r.dcf", 4).alias("dup_line_char_frac"),
        F.round("_r.f2", 4).alias("top2gram_char_frac"),
        F.round("_r.f3", 4).alias("top3gram_char_frac"),
        F.round("_r.f4", 4).alias("top4gram_char_frac"),
        F.col("_r.rep_keep").alias("rep_keep"),
    )


def repetition_oracle_sql(*, table: str = "documents", id_col: str = "doc_id") -> str:
    """DuckDB twin of :func:`repetition_metrics_fused` (identical
    definitions, identical tie-breaks, raw-filter/rounded-emit convention)."""

    def gram_expr(n: int) -> str:
        return " || ' ' || ".join(
            f"w[i+{j}]" if j else "w[i]" for j in range(n)
        )

    gram_sel = "\n  UNION ALL\n".join(
        f"  SELECT {id_col}, {n} AS n,\n"
        f"    unnest(CASE WHEN len(w) < {n} THEN []\n"
        f"           ELSE list_transform(range(1, len(w) - {n - 1} + 1),\n"
        f"                               i -> {gram_expr(n)}) END) AS gram\n"
        f"  FROM wrds"
        for n in (2, 3, 4)
    )
    return f"""
WITH base AS (SELECT {id_col}, text AS t, length(text) AS n_chars FROM {table}),
lines AS (SELECT {id_col}, unnest(string_split(t, chr(10))) AS line FROM base),
per_line AS (SELECT {id_col}, line, count(*) AS c FROM lines
             WHERE length(line) > 0 GROUP BY 1, 2),
line_stats AS (
  SELECT {id_col}, sum(c) AS n_lines, count(*) AS n_distinct,
         sum(c * length(line)) AS line_chars,
         sum(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END) AS dup_chars
  FROM per_line GROUP BY 1
),
wrds AS (SELECT {id_col}, list_filter(string_split(t, ' '), x -> x <> '') AS w
         FROM base),
grams AS (
{gram_sel}
),
gcnt AS (SELECT {id_col}, n, gram, count(*) AS c FROM grams GROUP BY 1, 2, 3),
topg AS (
  SELECT {id_col}, n, gram, c,
         row_number() OVER (PARTITION BY {id_col}, n
                            ORDER BY c DESC, gram ASC) AS rk
  FROM gcnt
),
top_chars AS (
  SELECT {id_col},
         max(CASE WHEN n = 2 THEN c * length(gram) END) AS t2,
         max(CASE WHEN n = 3 THEN c * length(gram) END) AS t3,
         max(CASE WHEN n = 4 THEN c * length(gram) END) AS t4
  FROM topg WHERE rk = 1 GROUP BY 1
),
fr AS (
  SELECT b.{id_col},
         CASE WHEN coalesce(ls.n_lines, 0) > 0
              THEN CAST(ls.n_lines - ls.n_distinct AS DOUBLE) / ls.n_lines
              ELSE 0.0 END AS dlf,
         CASE WHEN coalesce(ls.line_chars, 0) > 0
              THEN CAST(ls.dup_chars AS DOUBLE) / ls.line_chars
              ELSE 0.0 END AS dcf,
         CAST(coalesce(tc.t2, 0) AS DOUBLE) / greatest(b.n_chars, 1) AS f2,
         CAST(coalesce(tc.t3, 0) AS DOUBLE) / greatest(b.n_chars, 1) AS f3,
         CAST(coalesce(tc.t4, 0) AS DOUBLE) / greatest(b.n_chars, 1) AS f4
  FROM base b
  LEFT JOIN line_stats ls USING ({id_col})
  LEFT JOIN top_chars tc USING ({id_col})
)
SELECT {id_col},
       round(dlf, 4) AS dup_line_frac,
       round(dcf, 4) AS dup_line_char_frac,
       round(f2, 4) AS top2gram_char_frac,
       round(f3, 4) AS top3gram_char_frac,
       round(f4, 4) AS top4gram_char_frac,
       (dlf <= {MAX_DUP_LINE_FRAC} AND dcf <= {MAX_DUP_LINE_CHAR_FRAC}
        AND f2 <= {TOP_NGRAM_CAPS[2]} AND f3 <= {TOP_NGRAM_CAPS[3]}
        AND f4 <= {TOP_NGRAM_CAPS[4]}) AS rep_keep
FROM fr
"""

LOREM_RE = r"(?i)lorem ipsum"
POLICY_RE = r"(?i)(terms of use|privacy policy|cookie policy|uses cookies)"
JS_RE = r"(?i)\bjavascript\b"
MIN_SENTENCES = 3
# C4 keeps only lines ending in terminal punctuation; sentence count ~=
# terminal-punct runs (ASCII ". ! ?" — identical in RE2 and Java regex)
SENTENCE_END_RE = r"[.!?]([ \t\n\r\f]|$)"  # explicit class: Java \s has \x0B, RE2's does not


def c4_filter_columns(text: Column | str = "text") -> dict[str, Column]:
    """The C4 page filters the Gopher set doesn't cover: lorem-ipsum
    placeholder pages, source-code leakage ('{'), boilerplate policy
    notices, javascript-warning lines, and a minimum sentence count.
    Pure JVM expressions with an exact SQL twin (C4_ORACLE_SQL)."""
    t = F.col(text) if isinstance(text, str) else text
    lorem = F.regexp_count(t, F.lit(LOREM_RE)) > 0
    brace = t.contains("{")
    policy_hits = F.regexp_count(t, F.lit(POLICY_RE))
    js_hits = F.regexp_count(t, F.lit(JS_RE))
    sentences = F.regexp_count(t, F.lit(SENTENCE_END_RE))
    c4_keep = (
        ~lorem & ~brace & (policy_hits == 0) & (sentences >= MIN_SENTENCES)
    )
    return {
        "lorem_flag": lorem,
        "brace_flag": brace,
        "policy_hits": policy_hits.cast("long"),
        "js_hits": js_hits.cast("long"),
        "sentences": sentences.cast("long"),
        "c4_keep": c4_keep,
    }


C4_ORACLE_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{LOREM_RE}')) > 0 AS lorem_flag,
       position('{{' IN text) > 0 AS brace_flag,
       CAST(len(regexp_extract_all(text, '{POLICY_RE}')) AS BIGINT) AS policy_hits,
       CAST(len(regexp_extract_all(text, '{JS_RE}')) AS BIGINT) AS js_hits,
       CAST(len(regexp_extract_all(text, '[.!?]([ \\t\\n\\r\\f]|$)')) AS BIGINT) AS sentences,
       (len(regexp_extract_all(text, '{LOREM_RE}')) = 0
        AND position('{{' IN text) = 0
        AND len(regexp_extract_all(text, '{POLICY_RE}')) = 0
        AND len(regexp_extract_all(text, '[.!?]([ \\t\\n\\r\\f]|$)')) >= {MIN_SENTENCES}
       ) AS c4_keep
FROM aug
"""

# The exact DuckDB twin of the above (RE2 engine; \b is ASCII in both RE2 and
# default Java regex, and all markers are ASCII).
GOPHER_ORACLE_SQL = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS word_count,
       round(CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
             / len(string_split(text, ' ')), 4) AS mean_word_len,
       CAST(len(regexp_extract_all(text, '{STOPWORD_RE}')) AS BIGINT) AS stop_hits,
       round(CAST(len(regexp_extract_all(text, '[#{{}}<>|]')) AS DOUBLE)
             / len(string_split(text, ' ')), 4) AS symbol_ratio,
       CAST(len(regexp_extract_all(text, '(^|\n)[-*•] ')) AS BIGINT) AS bullet_lines,
       (text LIKE '%...' OR text LIKE '%…') AS ellipsis_end,
       round(CAST(len(string_split(text, chr(10)))
                  - len(list_distinct(string_split(text, chr(10)))) AS DOUBLE)
             / len(string_split(text, chr(10))), 4) AS dup_line_ratio,
       round(CAST(len(string_split(text, ' '))
                  - len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / len(string_split(text, ' ')), 4) AS dup_word_ratio,
       (len(string_split(text, ' ')) BETWEEN {MIN_WORDS} AND {MAX_WORDS}
        AND round(CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
                  / len(string_split(text, ' ')), 4)
            BETWEEN {MIN_MEAN_WORD_LEN} AND {MAX_MEAN_WORD_LEN}
        AND round(CAST(len(regexp_extract_all(text, '[#{{}}<>|]')) AS DOUBLE)
                  / len(string_split(text, ' ')), 4) <= {MAX_SYMBOL_RATIO}
       ) AS quality_keep
FROM documents
"""
