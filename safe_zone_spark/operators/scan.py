"""The core scan operator: TSZ's ``Detect`` as one narrow Spark map stage.

The reference processes one HTTP request at a time
(/root/reference/internal/guardrails/guardrails.go:60-377); here a whole
Arrow batch of documents flows through ``mapInArrow`` at once, and each
needle — the blocklist words (sorted, as escaped regexes) then the active
patterns in table order — follows one rule, domain × window × mode, all
read from the one walk of the needle's bytes parse that also decides it is
RE2 syntax (``rules._plan``; a rule outside RE2's syntax never reaches the
scan, as in the reference's ``regexp.Compile``):

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
  needle of minimum width 0 has one window, its whole domain;
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
They run only for a doc with candidates or validators, and build only the
fields the caller asked for (``_decide``).

Scale notes (100 TB / 1000 executors):
* narrow stage — no shuffle; parallelism = input partitions. Parquet row
  groups are row-count-uniform, so host skew does not skew splits; a scan
  that yields fewer splits than cores is salted by ``ensure_parallelism``,
  and the batch commit (``run_with_manifest``) rebalances a scan under two
  splits per core by work unit instead, the shuffle that also lays out its
  unit-partitioned write (plans/pipeline.py).
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
from collections import Counter
from dataclasses import replace
from itertools import repeat
from typing import Iterator

import numpy as np
import pandas as pd

from ..crossing import map_batches, pylist, spark_type
from ..oracle import (
    Detection,
    compute_confidence,
    make_placeholder,
    resolve_action,
    resolve_overlaps,
    round_confidence,
    scrub_text,
)
from ..rules import Plan, RuleSet, _plan, compile_patterns, default_rules
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
    """``(type, plan, placeholder, score, allowlist)`` in candidate order:
    sorted blocklist words as escaped regexes, then the active patterns in
    RE2's syntax."""
    out = [("BLOCKLIST", _plan(re.escape(w)), "[BLOCKED]", 1.0, frozenset())
           for w in sorted(rules.blocklist) if w]
    for p, _ in compile_patterns(rules):
        score = round_confidence(compute_confidence(category=p.category, active=p.is_active))
        out.append((p.name, _plan(p.regex), make_placeholder(p.name), score, rules.allowlist))
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
    for name, plan, placeholder, score, allow in _needles(rules):
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
                    for i in docs for m in plan.compiled.finditer(encoded[i]))
        else:
            if plan.alphabet is None:
                spans = [m.span() for m in plan.compiled.finditer(sub)]
            else:  # endpos e + 1 lets \b see sub[e], which no match can hold
                spans = [m.span() for s, e in _windows(sub, plan, counts)
                         for m in plan.compiled.finditer(sub, s, e + 1)]
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


def _decide(texts: list, encoded: list[bytes], per_doc: list[list[Detection]], rules: RuleSet,
            fields: tuple[str, ...], *, mode: str, validator_names: tuple[str, ...] = (),
            expected_formats=None) -> dict:
    """The decision columns ``fields`` (a subset of SCAN_OUTPUT_FIELDS) of one
    batch, from its ``texts`` (None reads as ""), their UTF-8 ``encoded``
    forms and their ``per_doc`` candidates (:func:`_scan_blob`). Only the
    requested fields are built. A doc with no candidate and no validator
    keeps the vectorized defaults (kept, its own text, confidence 0, no
    detections or message) and never enters the per-doc loop."""
    n = len(texts)
    want = set(fields)
    blocked = np.zeros(n, dtype=bool)
    n_det = np.zeros(n, dtype=np.int32)
    overall_conf = np.zeros(n, dtype=np.float64)
    scrubbed = [t or "" for t in texts] if "scrubbed_text" in want else None
    rows = [[] for _ in range(n)] if "detections" in want else None
    breakdowns = [{} for _ in range(n)] if "breakdown" in want else None
    messages = [""] * n if "message" in want else None
    job_names = set(validator_names)
    fmts = repeat(None, n) if expected_formats is None else expected_formats
    allow_t, block_t = rules.allow_threshold, rules.block_threshold
    for i, fmt in enumerate(fmts):
        if not (per_doc[i] or fmt or job_names):
            continue
        is_blocked = False
        msgs: list[str] = []
        validator_confs: list[float] = []
        for vname in sorted(job_names | {fmt} if fmt else job_names):
            valid, err = validate_format(texts[i] or "", vname, rules)
            if err is not None:
                conf, is_blocked = 1.0, True
                msgs.append(f"Error in guardrail '{vname}': {err}")
            elif not valid:
                conf, is_blocked = 0.9, True
                msgs.append(f"Content blocked by security policy: {vname}")
            else:
                conf = 0.7
            validator_confs.append(round_confidence(conf))

        detections = resolve_overlaps(per_doc[i])
        overall = weight = 0.0
        for d in detections:
            action = resolve_action(d.confidence, allow_t, block_t)
            if action == "BLOCK":
                is_blocked = True
                msgs.append("Blocked due to high confidence detection: " + d.type)
            w = 2.0 if d.type == "BLOCKLIST" else 1.0
            overall += d.confidence * w
            weight += w
            if rows is not None:
                rows[i].append({"type": d.type, "value": d.value, "placeholder": d.placeholder,
                                "start": d.start, "end": d.end, "confidence": d.confidence,
                                "action": action})
            if breakdowns is not None:
                breakdowns[i][d.type] = breakdowns[i].get(d.type, 0) + 1
        if mode == "BLOCK" and detections:
            is_blocked = True
            msgs.append("PII detected, request blocked by mode.")
        for conf in validator_confs:
            overall += conf * 1.5
            weight += 1.5
        if weight > 0:
            overall /= weight

        if scrubbed is not None and detections:
            scrubbed[i] = scrub_text(encoded[i], detections).decode("utf-8", "surrogateescape")
        if messages is not None:
            messages[i] = "; ".join(msgs)
        blocked[i] = is_blocked
        overall_conf[i] = round_confidence(overall)
        n_det[i] = len(detections)

    columns = {
        "detections": rows, "breakdown": breakdowns, "contains_pii": n_det > 0,
        "blocked": blocked, "keep": ~blocked, "scrubbed_text": scrubbed,
        "overall_confidence": overall_conf, "message": messages, "n_detections": n_det,
    }
    return {f: columns[f] for f in fields}


def _encode(texts: list) -> list[bytes]:
    return [("" if t is None else t).encode("utf-8") for t in texts]


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
    encoded = _encode(texts)
    per_doc = _scan_blob(encoded, *_join(encoded), rules)
    return pd.DataFrame(_decide(texts, encoded, per_doc, rules, SCAN_OUTPUT_FIELDS, mode=mode,
                                validator_names=validator_names,
                                expected_formats=expected_formats))


def _crossing_batch(texts: list, rules: RuleSet, fields: tuple[str, ...],
                    extra_scorers: dict, **decide) -> dict:
    """The crossing's columns for one batch of ``texts``: the decision
    ``fields``, then each extra scorer's column. A scorer takes the list of
    texts and returns a same-length sequence; NaN and None become nulls, as
    in a pandas UDF."""
    encoded = _encode(texts)
    got = _decide(texts, encoded, _scan_blob(encoded, *_join(encoded), rules), rules, fields,
                  **decide)
    return got | {name: fn(texts) for name, (_, fn) in extra_scorers.items()}


def _fields(fields) -> tuple[str, ...]:
    """``fields`` (all when None) in SCAN_OUTPUT_FIELDS order, as emitted."""
    return tuple(f for f in SCAN_OUTPUT_FIELDS if f in (fields or SCAN_OUTPUT_FIELDS))


def _crossing_schema(passed, fields: tuple[str, ...], extra_scorers: dict):
    """The ``passed`` StructFields, then the scan ``fields``, then one
    column per extra scorer (``{name: (type, fn)}``, the type a DataType or
    DDL string)."""
    from pyspark.sql import types as T

    return T.StructType([
        *passed, *(f for f in scan_output_schema(T.StructType()).fields if f.name in fields),
        *(T.StructField(name, spark_type(t)) for name, (t, _) in extra_scorers.items())])


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
    """Fused html→text extraction + detect/scrub in ONE Arrow map stage.

    ``fields`` selects which SCAN_OUTPUT_FIELDS are built and cross back to
    the JVM (in SCAN_OUTPUT_FIELDS order). Catalyst cannot column-prune
    through a ``mapInArrow`` schema, so a caller that only needs (keep,
    scrubbed_text) should say so: detections arrays, breakdown maps and
    messages are the bulk of both the return payload and the per-doc work.

    ``extra_scorers`` fuses per-text batch scorers into the SAME crossing
    (langid and perplexity in ``plans.flagship``): ``{col_name:
    (spark_type_ddl, fn)}``, ``fn`` taking the batch's list of texts and
    returning a same-length sequence; it must be module-level (or close
    over module-level state) so executors rebuild its model on import.

    The stage reads the html as Arrow binary and returns one Arrow batch
    per input batch (``crossing.map_batches``): the kept columns are the
    input batch's own arrays, and the rest are built straight from the
    Python values, so no pandas frame is built on either side. Output: kept cols,
    ``text``, the scan fields, the extra scores. Quality exprs stay
    JVM-side AFTER this stage (whole-stage codegen over the emitted text).
    """
    rules = rules or default_rules()
    mode_resolved = mode or rules.mode or "MASK"
    b_rules = df.sparkSession.sparkContext.broadcast(rules)

    from pyspark.sql import types as T

    from ..sources.corpus import extract_text_from_html

    fields = _fields(fields)
    extra_scorers = extra_scorers or {}

    def run(batch):
        texts = [extract_text_from_html(h) for h in pylist(batch.column(html_col))]
        return {"text": texts} | _crossing_batch(texts, b_rules.value, fields, extra_scorers,
                                                 mode=mode_resolved)

    # explicit projection (guide §4.1): Catalyst cannot see which columns an
    # opaque Python map touches, so every input column would cross the
    # Arrow boundary — select exactly the kept columns + html
    passed = [*(df.schema[c] for c in keep_cols), T.StructField("text", T.StringType())]
    return map_batches(df.select(*dict.fromkeys(list(keep_cols) + [html_col])), run,
                       _crossing_schema(passed, fields, extra_scorers))


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
    b_rules = df.sparkSession.sparkContext.broadcast(rules)
    schema = f"{id_col} {df.schema[id_col].dataType.simpleString()}, type string, hits bigint"

    def run(batch):
        encoded = _encode(pylist(batch.column(text_col)))
        r = replace(b_rules.value, blocklist=frozenset())
        per_doc = _scan_blob(encoded, *_join(encoded), r)
        ids, types, hits = [], [], []
        for doc_id, dets in zip(batch.column(id_col).to_pylist(), per_doc):
            for t_name, c in Counter(d.type for d in dets).items():
                ids.append(doc_id)
                types.append(t_name)
                hits.append(c)
        return {id_col: ids, "type": types, "hits": hits}

    return map_batches(df.select(id_col, text_col), run, schema)


def scan(
    df,
    rules: RuleSet | None = None,
    *,
    text_col: str = "text",
    mode: str | None = None,
    validator_names: tuple[str, ...] = (),
    expected_format_col: str | None = None,
    fields: tuple[str, ...] | None = None,
    extra_scorers: "dict[str, tuple[str, object]] | None" = None,
):
    """DataFrame → DataFrame: append detection/decision columns.

    ``spark.read...`` → ``scan(df)`` → ``.filter("keep")`` is the flagship
    pipeline. The rule bundle is shipped via Spark broadcast so executors
    deserialize it once per task-set instead of once per task closure. The
    input columns cross as one Arrow batch and return as the same arrays,
    in one ``mapInArrow`` stage, followed by the ``fields`` (all when None)
    and the ``extra_scorers`` of ``text_col`` (see :func:`extract_and_scan`).

    ``expected_format_col`` names a string column of per-row validator names
    (null/'' = none), set-unioned with the job-global ``validator_names``
    per document — the reference's per-request expected_format.
    """
    rules = rules or default_rules()
    mode_resolved = mode or rules.mode or "MASK"
    b_rules = df.sparkSession.sparkContext.broadcast(rules)
    fields = _fields(fields)
    extra_scorers = extra_scorers or {}

    def run(batch):
        fmts = pylist(batch.column(expected_format_col)) if expected_format_col else None
        return _crossing_batch(pylist(batch.column(text_col)), b_rules.value, fields,
                               extra_scorers, mode=mode_resolved,
                               validator_names=validator_names, expected_formats=fmts)

    return map_batches(df, run, _crossing_schema(df.schema.fields, fields, extra_scorers))
