"""Deterministic BPE tokenizer as a model table (VERDICT r4 #2).

Real mixing/packing budgets are subword-token budgets, not whitespace-word
budgets (CJK text is ~1 whitespace token per paragraph). This module trains
a small character-level BPE vocabulary deterministically from the embedded
multilingual word stocks (persisted as a model table and loaded through
functions/model_store.py), scores documents in an Arrow-batched series fn, and
carries an exact DuckDB twin: the merge table is data, and inference is a
recursive CTE applying the same merge rule.

Merge-application spec (identical on all three implementations — token-list
Python, string-form Python, DuckDB SQL — pinned by tests/test_bpe.py):

  tokens(word) = [chars]; repeat:
    pick the PRESENT adjacent pair with the lowest merge rank;
    merge ALL its non-overlapping occurrences left-to-right;
  until no adjacent pair is in the merge table.

This is the standard GPT-2-style BPE inference loop. The string form
encodes a token list as ``SEP+t+SEP`` per token concatenated, so a pair's
pattern ``SEP a SEP SEP b SEP`` occurs iff the tokens are adjacent, and
adjacent occurrences share no characters — one left-to-right
``replace()`` pass (Python and DuckDB have identical non-overlapping
semantics) merges exactly the occurrences the token-list walk merges.

Words longer than ``MAX_WORD_LEN`` codepoints skip merging entirely and
count as one token per character (both engines): overlong "words" are
URLs/garbage, and an unbounded word would make the oracle's recursion
depth unbounded.
"""

from __future__ import annotations

from .model_store import ModelSpec, load_or_train, write_tables

# \x1f (unit separator) encodes token boundaries in the string form, so it
# must never appear inside a word: the word-split class includes it on BOTH
# engines (Python re and DuckDB RE2 agree on every escape here).
SEP = "\x1f"
WORD_SPLIT_CLASS = "[ \\t\\n\\r\\f\\v\\x1f]+"
BPE_NUM_MERGES = 256
MAX_WORD_LEN = 64


def _split_words(text: str) -> list[str]:
    import re

    return [w for w in re.split(WORD_SPLIT_CLASS, text) if w]


# --- training ----------------------------------------------------------------


def _merge_once(toks: list[str], a: str, b: str) -> list[str]:
    """One left-to-right non-overlapping pass merging every (a, b)."""
    out: list[str] = []
    i, n = 0, len(toks)
    while i < n:
        if i < n - 1 and toks[i] == a and toks[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


def train_bpe_merges(
    word_freq: "dict[str, int]", *, num_merges: int = BPE_NUM_MERGES,
) -> "list[tuple[str, str]]":
    """Standard BPE training over a word-frequency table: repeatedly merge
    the most frequent adjacent token pair. Fully deterministic — ties break
    to the lexicographically smallest (a, b). Stops early when no pair
    occurs twice (merging singletons adds vocab without compression)."""
    vocab: list[tuple[list[str], int]] = [
        (list(w), f) for w, f in sorted(word_freq.items()) if w
    ]
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for toks, f in vocab:
            for i in range(len(toks) - 1):
                p = (toks[i], toks[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        (a, b), best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best < 2:
            break
        merges.append((a, b))
        vocab = [(_merge_once(t, a, b), f) for t, f in vocab]
    return merges


def _default_training_words() -> "dict[str, int]":
    """Deterministic multilingual word-frequency table: the same seeded
    word-salad sentences the langid model trains on (all 16 languages, so
    merges cover the CJK/latin mix a web corpus carries)."""
    from .langid_data import LANGID_LANGS, make_sentences, split_words

    freq: dict[str, int] = {}
    for i, lang in enumerate(LANGID_LANGS):
        train_w, held_w = split_words(lang)
        pool = train_w + held_w if lang == "zh" else train_w
        for s in make_sentences(pool, lang=lang, n=60, seed=7 + i,
                                min_words=10, max_words=32):
            for w in _split_words(s):
                freq[w] = freq.get(w, 0) + 1
    return freq


# --- model table (load-don't-train: functions/model_store.py) ----------------


def _merges_table(merges):
    import pyarrow as pa

    return pa.table(
        {
            "rank": pa.array(range(len(merges)), pa.int64()),
            "a": pa.array([a for a, _ in merges], pa.string()),
            "b": pa.array([b for _, b in merges], pa.string()),
        }
    )


def _merges_from_table(t) -> "list[tuple[str, str]]":
    return list(zip(t.column("a").to_pylist(), t.column("b").to_pylist()))


def write_bpe_parquet(path: str, merges=None, *, train_key: str | None = None) -> str:
    """Persist the merge table as (rank, a, b) rows — the model table the
    DuckDB twin reads and the swap point for an externally trained
    tokenizer (any ranked merge list drives the identical scoring).
    ``merges`` defaults to the embedded model."""
    write_tables([_merges_table(_MERGES if merges is None else merges)], [path],
                 train_key)
    return path


def load_bpe_parquet(path: str) -> "list[tuple[str, str]]":
    import pyarrow.parquet as pq

    return _merges_from_table(pq.read_table(path))


SPEC = ModelSpec(
    files=("bpe_merges.parquet",),
    key_sources=(train_bpe_merges, _default_training_words, _merge_once, _split_words),
    key_extra=f"|bpe|{BPE_NUM_MERGES}|{MAX_WORD_LEN}|n=60|seed=7".encode(),
    train=lambda: train_bpe_merges(_default_training_words()),
    encode=lambda merges: [_merges_table(merges)],
    decode=lambda tables: _merges_from_table(*tables),
)
_MERGES: list[tuple[str, str]] = load_or_train(SPEC)
_RANKS: dict[tuple[str, str], int] = {p: r for r, p in enumerate(_MERGES)}


# --- inference ----------------------------------------------------------------


def tokenize_word(word: str, merges=None) -> list[str]:
    """GPT-2-style BPE inference (token-list form — the fast path)."""
    if merges is None:
        ranks, pairs = _RANKS, _MERGES
    else:
        pairs = list(merges)
        ranks = {p: r for r, p in enumerate(pairs)}
    if len(word) > MAX_WORD_LEN:
        return list(word)
    toks = list(word)
    while len(toks) > 1:
        best: int | None = None
        for i in range(len(toks) - 1):
            r = ranks.get((toks[i], toks[i + 1]))
            if r is not None and (best is None or r < best):
                best = r
        if best is None:
            break
        toks = _merge_once(toks, *pairs[best])
    return toks


def tokenize_word_strform(word: str, merges=None) -> list[str]:
    """String-form twin mirroring the DuckDB recursion exactly (token list
    as ``SEP t SEP`` concatenated; min-rank pattern containment; one
    ``str.replace`` pass). Exists so pytest can pin the three-way
    equivalence — any drift between this and :func:`tokenize_word` means
    the SQL twin diverged from the fast path."""
    pairs = _MERGES if merges is None else list(merges)
    if len(word) > MAX_WORD_LEN:
        return list(word)
    s = "".join(SEP + c + SEP for c in word)
    while True:
        hit = None
        for a, b in pairs:
            pat = SEP + a + SEP + SEP + b + SEP
            if pat in s:
                hit = (pat, SEP + a + b + SEP)
                break
        if hit is None:
            break
        s = s.replace(*hit)
    return s[1:-1].split(SEP + SEP) if s else []


_COUNT_CACHE: dict[str, int] = {}


def bpe_token_counts(texts: "list[str]") -> "tuple[list[int], list[int]]":
    """Per text: (whitespace word count, BPE token count). Words are
    Zipfian, so a module-level word→count cache makes the hot path a dict
    lookup; only first-seen words pay the merge loop."""
    n_words: list[int] = []
    n_tokens: list[int] = []
    cache = _COUNT_CACHE
    for t in texts:
        words = _split_words(t or "")
        total = 0
        for w in words:
            k = cache.get(w)
            if k is None:
                k = len(tokenize_word(w))
                if len(cache) < 1_000_000:  # bound executor memory
                    cache[w] = k
            total += k
        n_words.append(len(words))
        n_tokens.append(total)
    return n_words, n_tokens


# --- DuckDB twin --------------------------------------------------------------


def bpe_token_count_sql(merges_path: str, *, table: str = "documents") -> str:
    """DuckDB twin of the tokenize query: unique words → recursive
    min-rank-merge loop on the string form → join counts back, sum per doc.
    The recursion runs over UNIQUE words only (web text is Zipfian; the
    sf corpus has ~31), and every word's chain is linear, so the terminal
    state is the unique row with no applicable pattern."""
    sep = "chr(31)"
    return f"""
WITH RECURSIVE m AS (
  SELECT rank,
         {sep} || a || {sep} || {sep} || b || {sep} AS pat,
         {sep} || a || b || {sep} AS rep
  FROM read_parquet('{merges_path}')
),
w AS (
  SELECT doc_id, unnest(string_split_regex(coalesce(text, ''),
         '{WORD_SPLIT_CLASS}')) AS word
  FROM {table}
),
wf AS (SELECT doc_id, word FROM w WHERE word <> ''),
uw AS (SELECT DISTINCT word FROM wf),
short AS (SELECT word FROM uw WHERE length(word) <= {MAX_WORD_LEN}),
init AS (
  SELECT word,
         {sep} || array_to_string(regexp_extract_all(word, '.'),
                                  {sep} || {sep}) || {sep} AS s
  FROM short
),
bpe AS (
  SELECT word, s FROM init
  UNION ALL
  SELECT b.word, replace(b.s, mm.pat, mm.rep)
  FROM (SELECT word, s,
          (SELECT min(rank) FROM m WHERE position(m.pat IN s) > 0) AS mr
        FROM bpe) b
  JOIN m mm ON mm.rank = b.mr
),
fin AS (
  SELECT word, len(string_split(s, {sep} || {sep})) AS k
  FROM bpe b
  WHERE NOT EXISTS (SELECT 1 FROM m WHERE position(m.pat IN b.s) > 0)
),
wk AS (
  SELECT u.word,
         coalesce(f.k, length(u.word)) AS k  -- overlong words: 1 tok/char
  FROM uw u LEFT JOIN fin f USING (word)
),
per_doc AS (
  SELECT wf.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(wk.k) AS BIGINT) AS bpe_tokens
  FROM wf JOIN wk USING (word) GROUP BY 1
)
SELECT d.doc_id,
       coalesce(p.n_words, 0) AS n_words,
       coalesce(p.bpe_tokens, 0) AS bpe_tokens
FROM (SELECT doc_id FROM {table}) d
LEFT JOIN per_doc p USING (doc_id)
"""
