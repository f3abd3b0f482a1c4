"""The core scan operator: TSZ's ``Detect`` as one narrow Spark map stage.

The reference processes one HTTP request at a time
(/root/reference/internal/guardrails/guardrails.go:60-377); here a whole
Arrow batch of documents flows through ``mapInPandas`` at once, and each
pattern's regex find-all follows one rule, domain × mode:

* **domain** — the pattern's gate picks the docs it can possibly match:
  every doc, the docs holding an ASCII digit, or the docs holding one of
  its necessary literals (gates are keyed by exact regex source and only
  shrink the domain; they never add or drop a match);
* **mode** — a blob-safe pattern runs ONE finditer per batch over its
  domain's NUL-joined sub-blob and routes matches back to docs with one
  vectorized ``np.searchsorted`` over the doc starts; a pattern that could
  match the NUL separator or anchor to text edges (``^``, ``$``, ``.``,
  negated classes …) runs finditer doc by doc over its domain.

The blob mode is semantics-preserving because a blob-safe pattern cannot
match a NUL byte, so no match crosses a document boundary, and ``\\b``
sees the separator exactly as a document edge. The reference scans its 20
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

from itertools import repeat
from typing import Iterator

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
from ..rules import RuleSet, compile_patterns, default_rules
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


def _blob_safe(src: str) -> bool:
    """True if the pattern may scan the NUL-joined batch blob: it must be
    unable to match across the NUL separator or anchor to text boundaries.

    Unsafe constructs — in a *bytes* regex: unescaped ``.`` matches \\x00;
    negated classes ``[^…]`` and the complements ``\\S \\D \\W`` match \\x00;
    ``^ $ \\A \\Z`` anchor to the blob, not the document. ``\\b``/``\\B``
    ARE safe: \\x00 is a non-word byte, so boundaries behave exactly as at
    document edges. Literal ``.``/``^``/``$`` inside character classes are
    fine. Conservative on anything it can't prove."""
    i, n = 0, len(src)
    in_class = False
    while i < n:
        c = src[i]
        if c == "\\":
            nxt = src[i + 1] if i + 1 < n else ""
            if nxt in ("S", "D", "W"):  # complement shorthands match \x00
                return False
            if not in_class and nxt in ("A", "Z", "z"):  # text anchors
                return False
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
            i += 1
            continue
        if c == "[":
            in_class = True
            if i + 1 < n and src[i + 1] == "^":
                return False  # negated class matches \x00
            i += 1
            continue
        if c in ".^$":
            return False
        i += 1
    return True


# ---------------------------------------------------------------------------
# Necessary-condition gates: a pattern keyed here (by EXACT regex source, so
# custom rules never inherit a wrong gate) can only match text that either
# contains an ASCII digit ("digit") or contains one of the listed lowercase
# literals. Gates shrink the scan domain — they can never add or drop a
# match (pinned by the oracle-parity and property tests).
# ---------------------------------------------------------------------------

_DIGIT_GATED = frozenset({
    r"\b[1-9][0-9]{9}[02468]\b",                                   # TCKN
    r"\b(?:(?:\+?90)|0)?5\d{2}(?:\s*|-)\d{3}(?:\s*|-)\d{2}(?:\s*|-)\d{2}\b",  # PHONE_TR
    r"\b\+(?:[0-9] ?){6,14}[0-9]\b",                               # PHONE_INT
    r"\b(?:\d[ -]*?){13,16}\b",                                    # CREDIT_CARD
    r"\bTR\d{2}\s?(\d{4}\s?){5}\d{2}\b",                           # IBAN_TR
    r"\b\d{2}[./-]\d{2}[./-]\d{4}\b",                              # DATE
    r"\b(0[1-9]|[1-7][0-9]|8[01])\s?[A-Z]{1,3}\s?\d{2,4}\b",       # TURKISH_PLATE
    r"\b\d{10}\b",                                                  # VKN
    r"\b\d{16}\b",                                                  # MERSIS
    r"\b\d{3}-\d{2}-\d{4}\b",                                       # US_SSN
    r"\b[A-CEGHJ-PR-TW-Z]{1}[A-CEGHJ-NPR-TW-Z]{1}[0-9]{6}[A-D]{1}\b",  # UK_NINO
})

_LITERAL_GATES = {
    r"(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}": (b"@",),               # EMAIL
    r"\bAKIA[0-9A-Z]{16}\b": (b"akia",),                                  # AWS_ACCESS_KEY
    r"-----BEGIN (?:RSA|DSA|EC|PGP) PRIVATE KEY-----": (b"-----begin ",),
    r"\b(api_key|apikey|access_token|auth_token)\s*[:=]\s*[A-Za-z0-9-_]{16,64}\b":
        (b"api_key", b"apikey", b"access_token", b"auth_token"),
    r"(?i)(ignore previous instructions|forget all prior instructions)":
        (b"ignore previous instructions", b"forget all prior instructions"),
    r"(?i)(DAN mode|do anything now)": (b"dan mode", b"do anything now"),
}
# NB: UUID_PII / MAC_ADDRESS / AWS_SECRET_KEY have NO valid digit gate —
# their hex/base62 classes can match letters-only values — so they scan
# every doc.


def _gate_docs(gate, blob: bytes, starts: np.ndarray, lower: bytes | None) -> list[int]:
    """Sorted indices of the docs a gate admits: docs holding an ASCII digit
    (``"digit"``), or docs whose ASCII-lowercased bytes (``lower``) contain
    one of the gate's literals."""
    if gate == "digit":
        # pad one byte so reduceat indices stay in range when the last doc
        # is empty (starts[last] == len(blob))
        arr = np.frombuffer(blob + _SEP, dtype=np.uint8)
        return np.flatnonzero(np.add.reduceat((arr >= 48) & (arr <= 57), starts)).tolist()
    hits = []
    for lit in gate:
        idx = lower.find(lit)
        while idx != -1:
            hits.append(idx)
            idx = lower.find(lit, idx + 1)
    if not hits:
        return []
    return np.unique(np.searchsorted(starts, hits, side="right") - 1).tolist()


def _scan_blob_patterns(
    encoded: list[bytes],
    blob: bytes,
    starts: np.ndarray,
    rules: RuleSet,
) -> list[list[Detection]]:
    """Per-doc pattern candidates for one batch (``blob, starts`` =
    ``_join(encoded)``), by one rule: domain × mode.

    * Domain — a pattern's gate picks the docs it can possibly match: all
      docs, digit docs, or docs holding one of its literals.
    * Mode — a blob-safe pattern (``_blob_safe``) runs one finditer over
      its domain's NUL-joined sub-blob, built once per gate per batch, and
      its matches are routed back to docs by one vectorized searchsorted;
      any other pattern runs finditer doc by doc over its domain.

    Both modes feed one emit loop (decode → allowlist → ``Detection``).
    Offsets are byte offsets into each doc's UTF-8 encoding."""
    n_docs = len(encoded)
    per_doc: list[list[Detection]] = [[] for _ in range(n_docs)]
    allow = rules.allowlist
    # gate -> (domain doc indices, sub-blob, sub-blob starts)
    domains = {None: (range(n_docs), blob, starts)}
    lower = None
    for p, compiled in compile_patterns(rules):
        gate = "digit" if p.regex in _DIGIT_GATED else _LITERAL_GATES.get(p.regex)
        if gate not in domains:
            if gate != "digit" and lower is None:
                lower = blob.lower()
            docs = _gate_docs(gate, blob, starts, lower)
            domains[gate] = (docs, *_join([encoded[i] for i in docs]))
        docs, sub, sub_starts = domains[gate]
        if not docs:
            continue
        if _blob_safe(p.regex):
            spans = [m.span() for m in compiled.finditer(sub)]
            if not spans:
                continue
            local = np.searchsorted(sub_starts, [s for s, _ in spans], side="right") - 1
            # plain ints: per-match numpy scalar indexing is measurably slower
            hits = zip([docs[j] for j in local.tolist()], repeat(sub),
                       sub_starts[local].tolist(), spans)
        else:
            hits = ((i, encoded[i], 0, m.span())
                    for i in docs for m in compiled.finditer(encoded[i]))
        score = round_confidence(compute_confidence(category=p.category, active=p.is_active))
        placeholder = make_placeholder(p.name)
        for i, data, base, (s, e) in hits:
            value = data[s:e].decode("utf-8", "surrogateescape")
            if value in allow:
                continue
            per_doc[i].append(Detection(p.name, value, placeholder, s - base, e - base, score))
    return per_doc


def _scan_blob_blocklist(
    blob: bytes, starts: np.ndarray, n_docs: int, rules: RuleSet
) -> list[list[Detection]]:
    per_doc: list[list[Detection]] = [[] for _ in range(n_docs)]
    for word in sorted(rules.blocklist):
        wb = word.encode("utf-8")
        if not wb:
            continue
        pos = 0
        while True:
            idx = blob.find(wb, pos)
            if idx == -1:
                break
            di = int(np.searchsorted(starts, idx, side="right") - 1)
            base = int(starts[di])
            per_doc[di].append(
                Detection("BLOCKLIST", word, "[BLOCKED]", idx - base, idx - base + len(wb), 1.0)
            )
            pos = idx + len(wb)
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

    block_per_doc = _scan_blob_blocklist(blob, starts, n, rules)
    pat_per_doc = _scan_blob_patterns(encoded, blob, starts, rules)

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

        detections = resolve_overlaps(block_per_doc[i] + pat_per_doc[i])

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
            per_doc = _scan_blob_patterns(encoded, *_join(encoded), r)
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
