"""The core scan operator: TSZ's ``Detect`` as one narrow Spark map stage.

The reference processes one HTTP request at a time
(/root/reference/internal/guardrails/guardrails.go:60-377); here a whole
Arrow batch of documents flows through ``mapInPandas`` at once, and each
needle — the blocklist words (sorted, as escaped regexes) then the active
patterns in table order — follows one rule, domain × window × mode, all
read from Python's own parse of the needle's regex (``_plan``):

* **domain** — the docs holding every *factor* of the regex, a set of
  byte strings one of which each match must contain (a required byte
  class, a run of literals, or the union over an alternation's branches);
  factors only shrink the domain, they never add or drop a match;
* **window** — inside the domain's sub-blob, the maximal runs of the
  needle's *alphabet* (every byte a consuming node can match, both cases
  only in a ``(?i)`` scope) at least its minimum width long and holding a
  byte of its rarest one-byte factor. Runs come from a ``bytes.translate``
  mark and C-level ``find``: from each anchor byte when anchors × width <
  alphabet bytes in the batch, else from ``find(b"\\x01" * width)``. A
  needle with a lookaround or a minimum width of 0 has one window, its
  whole domain;
* **mode** — a blob-safe needle runs finditer per window of its domain's
  NUL-joined sub-blob and routes matches back to docs with one vectorized
  ``np.searchsorted`` over the doc starts; a needle that could match the
  NUL separator or anchor to text edges (``^``, ``$``, ``\\B``, ``.``,
  negated classes …) runs finditer doc by doc over its domain.

The blob mode is semantics-preserving because a blob-safe pattern cannot
match a NUL byte, so no match crosses a document boundary, and ``\\b``
sees the separator exactly as a document edge. Windows keep that: a match
holds only alphabet bytes, so it lies inside one run; ``finditer(sub, s,
e + 1)`` lets ``\\b`` see the real bytes on both sides of the run (SRE
reads ``sub[s - 1]`` past ``pos`` but treats ``endpos`` as the end of the
text), and ``sub[e]`` is outside the alphabet, so no match holds it.
On perfbench's ``commit_pii_long`` job path (long PII-dense docs, 4-core
VM, 36 interleaved 5-s pairs) windows raised ``docs_per_cpu_s`` from a
median 187 to 227 (+21%); the change won 32 of the 36 pairs, so by the
nine-in-ten rule the gain is not established. The reference scans its 20
patterns serially per request (guardrails.go:171) — the blob scan is the
genuine improvement Spark's batching buys, with identical results.

Per-document sequential steps (canonical sort, greedy overlap resolution,
scrub rebuild) reuse the oracle's functions directly — those are cheap
(few candidates per doc) and being shared code makes Spark≡oracle structural.

Scale notes (100 TB / 1000 executors):
* narrow stage — no shuffle; parallelism = input partitions. Callers defuse
  host skew with ``salted_repartition`` (plans/pipeline.py) *before* this op.
* rules ride a Spark broadcast (collected once on the driver, like the
  reference's Redis cache, cache/redis.go:40-58); regexes compile once per
  executor process via the module-level cache (rules.py), mirroring the
  reference's ``sync.Map`` (guardrails.go:19-32).
* Arrow batch size is controlled by ``spark.sql.execution.arrow.maxRecordsPerBatch``
  — keep batches ~10k docs so the blob stays L2/L3-friendly for long pages.
"""

from __future__ import annotations

import functools
import re
from dataclasses import replace
from itertools import repeat
from re import _constants as C
from re import _parser
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd

from ..oracle import (
    Detection,
    compute_confidence,
    make_placeholder,
    resolve_action,
    resolve_overlaps,
    round_confidence,
    scrub_text,
)
from ..rules import RuleSet, compile_bytes_regex, compile_patterns, default_rules
from ..validators import validate_format

# Appended by scan(); every input column is passed through unchanged.
SCAN_OUTPUT_FIELDS = (
    "detections", "breakdown", "contains_pii", "blocked", "keep",
    "scrubbed_text", "overall_confidence", "message", "n_detections",
)


def scan_output_schema(input_schema):
    """Input schema + the scan's appended columns."""
    from pyspark.sql import types as T

    det = T.ArrayType(
        T.StructType(
            [
                T.StructField("type", T.StringType()),
                T.StructField("value", T.StringType()),
                T.StructField("placeholder", T.StringType()),
                T.StructField("start", T.IntegerType()),
                T.StructField("end", T.IntegerType()),
                T.StructField("confidence", T.DoubleType()),
                T.StructField("action", T.StringType()),
            ]
        )
    )
    fields = list(input_schema.fields) + [
        T.StructField("detections", det),
        T.StructField("breakdown", T.MapType(T.StringType(), T.IntegerType())),
        T.StructField("contains_pii", T.BooleanType()),
        T.StructField("blocked", T.BooleanType()),
        T.StructField("keep", T.BooleanType()),
        T.StructField("scrubbed_text", T.StringType()),
        T.StructField("overall_confidence", T.DoubleType()),
        T.StructField("message", T.StringType()),
        T.StructField("n_detections", T.IntegerType()),
    ]
    return T.StructType(fields)

_SEP = b"\x00"


def _join(parts: list[bytes]) -> tuple[bytes, np.ndarray]:
    """NUL-join ``parts`` into one blob; part i occupies
    ``blob[starts[i] : starts[i] + len(parts[i])]``."""
    n = len(parts)
    lengths = np.fromiter((len(b) for b in parts), dtype=np.int64, count=n)
    starts = np.zeros(n, dtype=np.int64)
    if n > 1:
        np.cumsum(lengths[:-1] + 1, out=starts[1:])
    return _SEP.join(parts), starts


_ALL = frozenset(range(256))
_DIGIT, _SPACE = frozenset(b"0123456789"), frozenset(b" \t\n\r\f\v")
_WORD = _DIGIT | frozenset(b"_abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")
# in a bytes regex \d \s \w and their complements are ASCII classes
_CATEGORY = {C.CATEGORY_DIGIT: _DIGIT, C.CATEGORY_SPACE: _SPACE, C.CATEGORY_WORD: _WORD,
             C.CATEGORY_NOT_DIGIT: _ALL - _DIGIT, C.CATEGORY_NOT_SPACE: _ALL - _SPACE,
             C.CATEGORY_NOT_WORD: _ALL - _WORD}


def _node_bytes(op, av) -> frozenset[int] | None:
    """The bytes a one-byte node can match, case-sensitively, or ``None``
    for any other node."""
    if op is C.LITERAL:
        return frozenset((av,))
    if op is C.NOT_LITERAL:
        return _ALL - {av}
    if op is C.ANY:
        return _ALL
    if op is not C.IN:
        return None
    got = set()
    for iop, iav in av:
        if iop is C.LITERAL:
            got.add(iav)
        elif iop is C.RANGE:
            got.update(range(iav[0], iav[1] + 1))
        elif iop is C.CATEGORY and iav in _CATEGORY:
            got |= _CATEGORY[iav]
        elif iop is not C.NEGATE:  # unknown item: any byte
            return _ALL
    return _ALL - got if av and av[0][0] is C.NEGATE else frozenset(got)


def _fold(got: frozenset[int]) -> frozenset[int]:
    """``got`` with the other case of each ASCII letter: all that a bytes
    regex's IGNORECASE folds."""
    return got | {b ^ 32 for b in got if 97 <= b | 32 <= 122}


class Plan(NamedTuple):
    """How one needle is scanned, read from its regex's bytes parse."""

    safe: bool  # no node can match byte 0 and no anchor but \b: blob mode
    icase: bool
    factors: tuple[frozenset[bytes], ...]  # every match holds a string of each
    # every byte a match can hold (both cases only in a (?i) scope), or None:
    # the needle scans its whole domain (not blob-safe, a lookaround, width 0)
    alphabet: frozenset[int] | None
    width: int  # the shortest match's length


@functools.cache
def _plan(source: str) -> Plan:
    """The needle's :class:`Plan` from the regex's bytes parse. Blob-safe:
    no node can match byte 0 and no anchor but ``\\b``. Every match holds
    a string of each factor: a required byte class (ASCII-folded); a run of
    2+ required literals (lowercased under ``(?i)``); one factor per
    alternation branch, unioned. Min-0 repeats and lookarounds add none; an
    unknown opcode adds none and is unsafe. The alphabet is the union of
    every consuming node's bytes, folded only inside an IGNORECASE scope. A
    plan may widen a scan, never drop a match."""
    tree = _parser.parse(source.encode("utf-8"))
    icase = bool(tree.state.flags & C.SRE_FLAG_IGNORECASE)
    if tree.state.flags & C.SRE_FLAG_LOCALE:  # locale classes and folding
        return Plan(False, icase, (), None, 0)
    safe, lookaround, alphabet = True, False, set()

    def walk(seq, runs: bool, fold: bool) -> list[frozenset[bytes]]:
        # runs=False in a case-sensitive regex's (?i:…) group (raw-blob find);
        # fold: inside an IGNORECASE scope
        nonlocal safe, lookaround
        out: list[frozenset[bytes]] = []
        run = bytearray()
        for op, av in [*seq, (None, None)]:
            got = _node_bytes(op, av)
            if got is not None:
                folded = _fold(got)
                alphabet.update(folded if fold else got)
                safe &= 0 not in folded
            if op is C.LITERAL and runs:
                run.append(av)
                continue
            if run:
                out.append(frozenset(bytes((b,)) for b in _fold({run[0]})) if len(run) == 1
                           else frozenset((bytes(run).lower() if icase else bytes(run),)))
            run.clear()
            if got is not None:
                out.append(frozenset(bytes((b,)) for b in folded))
            elif op is C.SUBPATTERN and not av[1] & C.SRE_FLAG_LOCALE:
                add, drop = av[1] & C.SRE_FLAG_IGNORECASE, av[2] & C.SRE_FLAG_IGNORECASE
                out += walk(av[3], runs and (icase or not add), (fold or add) and not drop)
            elif op is C.BRANCH:
                branches = [walk(b, runs, fold) for b in av[1]]
                if all(branches):
                    out.append(frozenset().union(
                        *(min(b, key=lambda f: (-min(map(len, f)), len(f))) for b in branches)))
            elif op in (C.MAX_REPEAT, C.MIN_REPEAT, C.POSSESSIVE_REPEAT):
                inner = walk(av[2], runs, fold)
                out += inner if av[0] else []
            elif op is C.ATOMIC_GROUP:
                out += walk(av, runs, fold)
            elif op is C.ASSERT or op is C.ASSERT_NOT:
                lookaround = True  # it reads bytes outside the match
                walk(av[1], runs, fold)
            elif op is C.AT:
                safe &= av is C.AT_BOUNDARY  # \B matches an empty doc's NUL
            elif op is not None:
                safe = False
        return out

    factors = walk(tree, True, icase)
    # drop a factor that holds all of another's strings (it admits every doc
    # the other does); one-byte factors first, as they only read the table
    factors = [f for f in dict.fromkeys(factors) if not any(g < f for g in factors)]
    width = tree.getwidth()[0]
    windowed = safe and not lookaround and width > 0
    return Plan(safe, icase, tuple(sorted(factors, key=lambda f: max(map(len, f)) > 1)),
                frozenset(alphabet) if windowed else None, width)


@functools.cache
def _marker(alphabet: frozenset[int]) -> bytes:
    """A ``bytes.translate`` table: bytes of ``alphabet`` → 1, the rest → 0."""
    return bytes(b in alphabet for b in range(256))


def _windows(sub: bytes, plan: Plan, counts: np.ndarray) -> Iterator[tuple[int, int]]:
    """``(s, e)`` of each maximal run ``sub[s:e]`` of the plan's alphabet
    bytes, at least its width long, that holds an anchor, in order. The
    anchors are the bytes of its rarest (by the batch's byte ``counts``)
    one-byte factor inside the alphabet, or the alphabet when it has none:
    every match holds one. Runs are reached from the anchors when anchors ×
    width < alphabet bytes in the batch; otherwise the runs ``width`` long
    are found first, then checked for an anchor. ``sub[e]`` (if any) is
    outside the alphabet. The marks (translated copies of ``sub``) are
    dropped with the generator."""
    alphabet, width, n = plan.alphabet, plan.width, len(sub)
    anchors = min((alphabet & {s[0] for s in f} for f in plan.factors
                   if all(len(s) == 1 for s in f)),
                  key=lambda a: counts[list(a)].sum(), default=alphabet)
    mark = sub.translate(_marker(alphabet))
    if len(anchors) == 1:
        hay, needle = sub, bytes(anchors)
    else:
        hay, needle = (mark if anchors == alphabet else sub.translate(_marker(anchors))), b"\x01"
    if counts[list(anchors)].sum() * width < counts[list(alphabet)].sum():
        at = hay.find(needle)
        while at != -1:
            s, e = mark.rfind(b"\x00", 0, at) + 1, mark.find(b"\x00", at)
            e = n if e == -1 else e
            if e - s >= width:
                yield s, e
            at = hay.find(needle, e)
    else:
        run = b"\x01" * width
        s = mark.find(run)
        while s != -1:
            e = mark.find(b"\x00", s + width)
            e = n if e == -1 else e
            if hay.find(needle, s, e) != -1:
                yield s, e
            s = mark.find(run, e)


def _factor_docs(factor, table: np.ndarray, hay: bytes, starts: np.ndarray) -> np.ndarray:
    """Doc mask of a factor: bytes read the table, strings ``find`` ``hay``."""
    mask = table[:, [s[0] for s in factor if len(s) == 1]].any(axis=1)
    hits = []
    for lit in (s for s in factor if len(s) > 1):
        idx = hay.find(lit)
        while idx != -1:
            hits.append(idx)
            idx = hay.find(lit, idx + 1)
    mask[np.searchsorted(starts, hits, side="right") - 1] = True
    return mask


def _needles(rules: RuleSet) -> list[tuple]:
    """``(type, regex, compiled, placeholder, score, allowlist)`` in candidate
    order: sorted blocklist words as escaped regexes, then active patterns."""
    out = [("BLOCKLIST", src, compile_bytes_regex(src), "[BLOCKED]", 1.0, frozenset())
           for src in (re.escape(w) for w in sorted(rules.blocklist) if w)]
    for p, compiled in compile_patterns(rules):
        score = round_confidence(compute_confidence(category=p.category, active=p.is_active))
        out.append((p.name, p.regex, compiled, make_placeholder(p.name), score, rules.allowlist))
    return out


def _scan_blob(encoded: list[bytes], blob: bytes, starts: np.ndarray,
               rules: RuleSet) -> list[list[Detection]]:
    """Per-doc candidates for one batch (``blob, starts`` = ``_join(encoded)``),
    each needle by domain × window × mode. A factor's doc mask and a
    domain's sub-blob are built once per batch; the all-docs domain is the
    batch blob. Offsets are byte offsets into each doc's UTF-8 encoding."""
    n_docs = len(encoded)
    per_doc: list[list[Detection]] = [[] for _ in range(n_docs)]
    codes = np.frombuffer(blob, dtype=np.uint8)
    # doc × 256 byte presence (a doc's row also marks the NUL after it)
    table = np.zeros((n_docs, 256), dtype=bool)
    table[np.repeat(np.arange(n_docs, dtype=np.int32), np.diff(starts, append=len(blob) + 1))[:-1],
          codes] = True
    # byte counts pick each needle's anchors; chunks bound bincount's copy
    counts = sum((np.bincount(codes[k:k + (1 << 20)], minlength=256)
                  for k in range(0, len(codes), 1 << 20)), np.zeros(256, dtype=np.int64))
    hays = {False: blob, True: blob.lower()}
    masks, domains = {}, {}
    for name, source, compiled, placeholder, score, allow in _needles(rules):
        plan = _plan(source)
        admit = np.ones(n_docs, dtype=bool)
        for factor in plan.factors:
            if (plan.icase, factor) not in masks:
                masks[plan.icase, factor] = _factor_docs(factor, table, hays[plan.icase], starts)
            admit &= masks[plan.icase, factor]
        if admit.all():
            docs, sub, sub_starts = range(n_docs), blob, starts
        else:
            key = admit.tobytes()
            if key not in domains:
                docs = np.flatnonzero(admit).tolist()
                domains[key] = (docs, *_join([encoded[i] for i in docs]))
            docs, sub, sub_starts = domains[key]
        if not docs:
            continue
        if not plan.safe:
            hits = ((i, encoded[i], 0, m.span())
                    for i in docs for m in compiled.finditer(encoded[i]))
        else:
            if plan.alphabet is None:
                spans = [m.span() for m in compiled.finditer(sub)]
            else:  # endpos e + 1 lets \b see sub[e], which no match can hold
                spans = [m.span() for s, e in _windows(sub, plan, counts)
                         for m in compiled.finditer(sub, s, e + 1)]
            local = np.searchsorted(sub_starts, [s for s, _ in spans], side="right") - 1
            # plain ints: per-match numpy scalar indexing is measurably slower
            hits = zip([docs[j] for j in local.tolist()], repeat(sub),
                       sub_starts[local].tolist(), spans)
        for i, data, base, (s, e) in hits:
            value = data[s:e].decode("utf-8", "surrogateescape")
            if value in allow:
                continue
            per_doc[i].append(Detection(name, value, placeholder, s - base, e - base, score))
    return per_doc


def detect_batch(
    texts: "pd.Series",
    rules: RuleSet,
    *,
    mode: str = "MASK",
    validator_names: tuple[str, ...] = (),
    expected_formats=None,
) -> pd.DataFrame:
    """Run the full Detect pipeline over a pandas Series of texts; returns a
    DataFrame with the SCAN_OUTPUT_FIELDS columns (same row order).

    ``expected_formats`` — optional per-row validator names (list aligned
    with ``texts``; empty/None entries mean none): each document's validator
    set is the union of the job-global ``validator_names`` and its own
    expected format, executed in sorted order — the corpus analog of the
    reference's per-request ``expected_format`` field
    (/root/reference/internal/models/models.go:6-12, guardrails.go:64-75).
    """
    # one materialization up front — per-row Series.iloc in the doc loop
    # costs ~15us each (measured 0.2s per 13k rows)
    texts = texts.tolist() if hasattr(texts, "tolist") else list(texts)
    encoded = [("" if t is None else t).encode("utf-8") for t in texts]
    n = len(encoded)
    blob, starts = _join(encoded)

    per_doc = _scan_blob(encoded, blob, starts, rules)

    # shared per-doc validator results (same names for every doc in the job)
    out = {
        "detections": [],
        "breakdown": [],
        "contains_pii": np.zeros(n, dtype=bool),
        "blocked": np.zeros(n, dtype=bool),
        "keep": np.zeros(n, dtype=bool),
        "scrubbed_text": [],
        "overall_confidence": np.zeros(n, dtype=np.float64),
        "message": [],
        "n_detections": np.zeros(n, dtype=np.int32),
    }

    allow_t, block_t = rules.allow_threshold, rules.block_threshold
    for i in range(n):
        data = encoded[i]
        blocked = False
        messages: list[str] = []
        validator_results: list[tuple[bool, float]] = []
        row_names = set(validator_names)
        if expected_formats is not None:
            fmt = expected_formats[i]
            if fmt:
                row_names.add(fmt)
        if row_names:
            text = texts[i]
            for vname in sorted(row_names):
                valid, err = validate_format(text or "", vname, rules)
                if err is not None:
                    conf = 1.0
                    blocked = True
                    messages.append(f"Error in guardrail '{vname}': {err}")
                elif not valid:
                    conf = 0.9
                    blocked = True
                    messages.append(f"Content blocked by security policy: {vname}")
                else:
                    conf = 0.7
                validator_results.append((valid and err is None, round_confidence(conf)))

        detections = resolve_overlaps(per_doc[i])

        breakdown: dict[str, int] = {}
        rows = []
        overall = 0.0
        weight = 0.0
        for d in detections:
            breakdown[d.type] = breakdown.get(d.type, 0) + 1
            action = resolve_action(d.confidence, allow_t, block_t)
            if action == "BLOCK":
                blocked = True
                messages.append("Blocked due to high confidence detection: " + d.type)
            w = 2.0 if d.type == "BLOCKLIST" else 1.0
            overall += d.confidence * w
            weight += w
            rows.append(
                {
                    "type": d.type,
                    "value": d.value,
                    "placeholder": d.placeholder,
                    "start": d.start,
                    "end": d.end,
                    "confidence": d.confidence,
                    "action": action,
                }
            )

        contains = len(detections) > 0
        if mode == "BLOCK" and contains:
            blocked = True
            messages.append("PII detected, request blocked by mode.")

        for _, conf in validator_results:
            overall += conf * 1.5
            weight += 1.5
        if weight > 0:
            overall /= weight

        scrubbed = (
            scrub_text(data, detections).decode("utf-8", "surrogateescape")
            if contains
            else texts[i] or ""
        )

        out["detections"].append(rows)
        out["breakdown"].append(breakdown)
        out["contains_pii"][i] = contains
        out["blocked"][i] = blocked
        out["keep"][i] = not blocked
        out["scrubbed_text"].append(scrubbed)
        out["overall_confidence"][i] = round_confidence(overall)
        out["message"].append("; ".join(messages))
        out["n_detections"][i] = len(detections)

    return pd.DataFrame(out)


def extract_and_scan(
    df,
    rules: RuleSet | None = None,
    *,
    html_col: str = "html",
    keep_cols: tuple[str, ...] = ("url", "warc_ts"),
    mode: str | None = None,
    fields: tuple[str, ...] | None = None,
    extra_scorers: "dict[str, tuple[str, object]] | None" = None,
):
    """Fused html→text extraction + detect/scrub in ONE python stage.

    ``fields`` selects which SCAN_OUTPUT_FIELDS cross back to the JVM —
    Catalyst cannot column-prune through a mapInPandas schema, so a caller
    that only needs (keep, scrubbed_text) should say so and halve the
    Arrow return payload (detections arrays + breakdown maps are the bulk).

    ``extra_scorers`` fuses additional per-text batch scorers into the SAME
    crossing: ``{col_name: (spark_type_ddl, fn)}`` where ``fn`` takes the
    extracted text pd.Series and returns a same-length sequence. The
    north-star chain (langid + perplexity after extract+scan) rides here —
    each dropped ArrowEvalPython stage saves a full serialize/deserialize
    of the text column plus a stage scheduling barrier, overhead that does
    NOT shrink with cores and therefore taxes wide configs' scaling
    efficiency hardest. ``fn`` must be a module-level callable (or close
    over module-level state) so executors rebuild any model it uses on
    import, exactly like the standalone UDFs.

    Each mapInPandas stage is a full Arrow round trip (JVM columnar → Arrow
    → pandas → Arrow → JVM), and that conversion runs in the same task
    threads as the scan itself — measured at sf-bench scale, a separate
    extract stage + unpruned passthrough cost 3-5x the fused form (the scan
    alone sustains ~213k docs/s at 32 cores vs ~80k with two crossings).
    So the production path crosses once: html in → (kept cols, text, scan
    fields, extra scores) out. Quality exprs stay JVM-side AFTER this stage
    (free, whole-stage codegen over the emitted text column).
    """
    rules = rules or default_rules()
    mode_resolved = mode or rules.mode or "MASK"
    spark = df.sparkSession
    b_rules = spark.sparkContext.broadcast(rules)

    from pyspark.sql import types as T

    from ..sources.corpus import extract_text_from_html

    fields = fields or SCAN_OUTPUT_FIELDS
    extra_scorers = extra_scorers or {}
    base = T.StructType([df.schema[c] for c in keep_cols])
    full = scan_output_schema(
        T.StructType(base.fields + [T.StructField("text", T.StringType())])
    )
    wanted = list(keep_cols) + ["text"] + list(fields)
    schema = T.StructType(
        [f for f in full.fields if f.name in wanted]
        + [T.StructField(
            name,
            t if isinstance(t, T.DataType) else T._parse_datatype_string(t),
        ) for name, (t, _) in extra_scorers.items()]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        r = b_rules.value
        for pdf in batches:
            texts = pd.Series(
                [extract_text_from_html(h) for h in pdf[html_col]], index=pdf.index
            )
            res = detect_batch(texts, r, mode=mode_resolved)
            res.index = pdf.index
            out = pdf[list(keep_cols)].copy()
            out["text"] = texts
            parts = [out, res[list(fields)]]
            if extra_scorers:
                parts.append(pd.DataFrame(
                    {name: pd.Series(list(fn(texts)), index=pdf.index)
                     for name, (_, fn) in extra_scorers.items()},
                    index=pdf.index,
                ))
            yield pd.concat(parts, axis=1)

    # explicit projection (guide §4.1): Catalyst cannot see which columns an
    # opaque mapInPandas touches, so every input column would cross the
    # Arrow boundary — select exactly the kept columns + html
    return df.select(*dict.fromkeys(list(keep_cols) + [html_col])).mapInPandas(
        run, schema
    )


def pattern_hit_counts(df, rules: RuleSet | None = None, *, id_col: str = "doc_id",
                       text_col: str = "text"):
    """P1 as a standalone relational operator: per-(document, pattern)
    find-all hit counts **before** overlap resolution — the shape the
    reference exposes per request via its breakdown, exploded to rows so it
    is oracle-checkable in SQL (DuckDB twin: len(regexp_extract_all(...))).

    Output: (id_col, type string, hits bigint), rows with hits == 0 omitted.
    Narrow stage (no shuffle); allowlist anti-filter applies as in P2.
    """
    rules = rules or default_rules()
    spark = df.sparkSession
    b_rules = spark.sparkContext.broadcast(rules)
    id_field = df.schema[id_col]

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType),
            T.StructField("type", T.StringType()),
            T.StructField("hits", T.LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        r = b_rules.value
        for pdf in batches:
            texts = pdf[text_col]
            encoded = [("" if t is None else t).encode("utf-8") for t in texts]
            n = len(encoded)
            per_doc = _scan_blob(encoded, *_join(encoded), replace(r, blocklist=frozenset()))
            ids, types, hits = [], [], []
            id_values = pdf[id_col].tolist()
            for i in range(n):
                counts: dict[str, int] = {}
                for d in per_doc[i]:
                    counts[d.type] = counts.get(d.type, 0) + 1
                for t_name, c in counts.items():
                    ids.append(id_values[i])
                    types.append(t_name)
                    hits.append(c)
            yield pd.DataFrame({id_col: ids, "type": types, "hits": np.array(hits, dtype=np.int64)})

    return df.mapInPandas(run, schema=schema)


def scan(
    df,
    rules: RuleSet | None = None,
    *,
    text_col: str = "text",
    mode: str | None = None,
    validator_names: tuple[str, ...] = (),
    expected_format_col: str | None = None,
):
    """DataFrame → DataFrame: append detection/decision columns.

    ``spark.read...`` → ``scan(df)`` → ``.filter("keep")`` is the flagship
    pipeline. The rule bundle is shipped via Spark broadcast so executors
    deserialize it once per task-set instead of once per task closure.

    ``expected_format_col`` names a string column of per-row validator names
    (null/'' = none), set-unioned with the job-global ``validator_names``
    per document — the reference's per-request expected_format.
    """
    rules = rules or default_rules()
    mode_resolved = mode or rules.mode or "MASK"
    spark = df.sparkSession
    b_rules = spark.sparkContext.broadcast(rules)

    schema = scan_output_schema(df.schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        r = b_rules.value
        for pdf in batches:
            fmts = (
                ["" if v is None else v for v in pdf[expected_format_col]]
                if expected_format_col
                else None
            )
            res = detect_batch(
                pdf[text_col],
                r,
                mode=mode_resolved,
                validator_names=validator_names,
                expected_formats=fmts,
            )
            res.index = pdf.index
            yield pd.concat([pdf, res], axis=1)

    return df.mapInPandas(run, schema=schema)
