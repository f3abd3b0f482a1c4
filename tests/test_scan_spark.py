"""Spark scan operator ⟷ pure-Python oracle, diffed row by row on the
deterministic synthetic corpus (the BASELINE acceptance shape: keep/drop
agreement = F1 1.0 at fixture scale + byte-identical scrubbed text per url)."""

import pandas as pd
import pytest

from safe_zone_spark.operators import detect_batch, scan
from safe_zone_spark.operators.scan import SCAN_OUTPUT_FIELDS
from safe_zone_spark.oracle import detect
from safe_zone_spark.rules import default_rules
from safe_zone_spark.sources import extract_text_from_html, generate_corpus_pandas

RULES = default_rules(
    allowlist=frozenset({"support@example.com"}),
    blocklist=frozenset({"PROJECT-X", "secretword"}),
)


@pytest.fixture(scope="module")
def corpus_pdf():
    return generate_corpus_pandas(400, seed=42)


def test_detect_batch_matches_oracle(corpus_pdf):
    """Batch (blob-scan) implementation ≡ per-doc oracle on every field."""
    res = detect_batch(corpus_pdf["text"], RULES, mode="MASK")
    assert len(res) == len(corpus_pdf)
    n_pii = 0
    for i, text in enumerate(corpus_pdf["text"]):
        o = detect(text, RULES, mode="MASK")
        assert res["contains_pii"][i] == o.contains_pii, text
        assert res["blocked"][i] == o.blocked
        assert res["keep"][i] == o.keep
        assert res["scrubbed_text"][i] == o.redacted_text  # byte-identical
        assert res["overall_confidence"][i] == pytest.approx(o.overall_confidence)
        assert res["breakdown"][i] == o.breakdown
        assert res["message"][i] == o.message
        got = [(d["type"], d["start"], d["end"], d["value"]) for d in res["detections"][i]]
        want = [(d.type, d.start, d.end, d.value) for d in o.detections]
        assert got == want
        n_pii += o.contains_pii
    assert n_pii > 50  # the corpus actually exercises the detector


def test_scan_spark_matches_oracle(spark, corpus_pdf):
    sdf = spark.createDataFrame(
        corpus_pdf[["url", "text"]], schema="url string, text string"
    ).repartition(4)
    out = scan(sdf, RULES).orderBy("url").toPandas()
    expect = {
        row.url: detect(row.text, RULES)
        for row in corpus_pdf[["url", "text"]].itertuples()
    }
    assert len(out) == len(corpus_pdf)
    mism = 0
    for r in out.itertuples():
        o = expect[r.url]
        assert r.keep == o.keep
        assert r.scrubbed_text == o.redacted_text
        assert r.contains_pii == o.contains_pii
        assert abs(r.overall_confidence - o.overall_confidence) < 1e-9
    # keep/drop F1 vs oracle labels is exactly 1.0 by the above asserts
    assert mism == 0


def test_scan_preserves_input_columns_and_schema(spark):
    sdf = spark.createDataFrame(
        [("u1", "mail a@b.co", 7)], schema="url string, text string, extra int"
    )
    out = scan(sdf, RULES)
    names = out.schema.names
    assert names[:3] == ["url", "text", "extra"]
    for c in ("detections", "breakdown", "keep", "scrubbed_text"):
        assert c in names
    row = out.collect()[0]
    assert row.extra == 7
    assert row.scrubbed_text == "mail [EMAIL]"
    assert row.detections[0].type == "EMAIL"
    assert row.detections[0].action == "MASK"
    assert row.breakdown == {"EMAIL": 1}


def test_scan_block_mode(spark):
    sdf = spark.createDataFrame([("mail a@b.co",), ("clean text",)], schema="text string")
    out = scan(sdf, RULES, mode="BLOCK").collect()
    by_text = {r.text: r for r in out}
    assert not by_text["mail a@b.co"].keep
    assert by_text["clean text"].keep


def test_scan_with_validators(spark):
    sdf = spark.createDataFrame([('{"a":1}',), ("not json",)], schema="text string")
    out = scan(sdf, RULES, validator_names=("JSON",)).collect()
    by_text = {r.text: r for r in out}
    assert by_text['{"a":1}'].keep
    assert not by_text["not json"].keep
    assert "Content blocked by security policy: JSON" in by_text["not json"].message


def test_html_extraction_roundtrip(corpus_pdf):
    """BASELINE per-row invariant: byte-identical extracted text per url."""
    for r in corpus_pdf.itertuples():
        assert extract_text_from_html(r.html) == r.text


def test_empty_partitions_ok(spark):
    sdf = spark.createDataFrame([], schema="text string").repartition(4)
    assert scan(sdf, RULES).count() == 0


# the field sets callers ask for: clean_short's, the batch job's, streaming's
CALLER_FIELDS = {
    "clean_short": ("keep", "scrubbed_text", "overall_confidence"),
    "batch_job": ("breakdown", "keep", "scrubbed_text", "overall_confidence"),
    "streaming": ("detections", "keep", "scrubbed_text", "overall_confidence"),
    "all": SCAN_OUTPUT_FIELDS,
}


@pytest.mark.parametrize("mode", ["MASK", "BLOCK", "DETECT"])
@pytest.mark.parametrize("validators", ["none", "per_row", "job_and_per_row"])
def test_decision_core_fields_equal_detect_batch(corpus_pdf, mode, validators):
    """The decision core builds each requested field exactly as
    ``detect_batch`` returns it (bitwise for the confidences), and
    ``detect_batch`` equals the oracle on every doc: blocklist and
    allowlist hits, None and empty texts, non-ASCII texts and validators."""
    from safe_zone_spark.operators.scan import _decide, _encode, _join, _scan_blob

    texts = corpus_pdf["text"].head(120).tolist() + [
        None, "", "PROJECT-X launch", "mail support@example.com or x@y.org",
        "ünïcödé café 123-45-6789 şğı", "日本語 secretword テキスト", '{"a": 1}',
        "not json at all", "12345", "PROJECT-X a@b.co 4111 1111 1111 1111 PROJECT-X",
    ]
    formats = {"none": None}.get(validators, [
        ("JSON", "NUMERIC", "", None)[i % 4] for i in range(len(texts))])
    job = ("NO_SPACES",) if validators == "job_and_per_row" else ()
    want = detect_batch(pd.Series(texts), RULES, mode=mode, validator_names=job,
                        expected_formats=formats)
    for i, text in enumerate(texts):
        o = detect(text or "", RULES, mode=mode, guardrails=job,
                   expected_format=(formats[i] or "") if formats else "")
        assert (want["keep"][i], want["blocked"][i], want["contains_pii"][i]) == (
            o.keep, o.blocked, o.contains_pii), text
        assert want["scrubbed_text"][i] == o.redacted_text
        assert want["overall_confidence"][i] == o.overall_confidence
        assert want["message"][i] == o.message
        assert want["breakdown"][i] == o.breakdown
        assert [(d["type"], d["start"], d["end"], d["value"], d["confidence"])
                for d in want["detections"][i]] == [
            (d.type, d.start, d.end, d.value, d.confidence) for d in o.detections]
    encoded = _encode(texts)
    per_doc = _scan_blob(encoded, *_join(encoded), RULES)
    for fields in CALLER_FIELDS.values():
        got = _decide(texts, encoded, per_doc, RULES, fields, mode=mode,
                      validator_names=job, expected_formats=formats)
        assert tuple(got) == fields
        for f in fields:
            assert pd.Series(got[f]).equals(want[f]), f


def test_extract_and_scan_fused_matches_two_stage(spark, corpus_pdf):
    """The fused Arrow crossing must equal extract_text + scan composed and
    ``detect_batch`` on every field (detections, breakdown maps, messages),
    pass a null ``warc_ts`` through, keep its schema for every field set
    and survive empty partitions and an empty batch."""
    import pyarrow as pa

    from safe_zone_spark.crossing import record_batch
    from safe_zone_spark.operators.scan import _crossing_batch, extract_and_scan
    from safe_zone_spark.sources.extract import extract_text

    pdf = corpus_pdf[["url", "html"]].copy()
    pdf["warc_ts"] = [None if i % 7 == 0 else pd.Timestamp("2025-06-01") + pd.Timedelta(hours=i)
                      for i in range(len(pdf))]
    sdf = spark.createDataFrame(
        pdf, schema="url string, html binary, warc_ts timestamp"
    ).repartition(4)
    fused = extract_and_scan(sdf, RULES, keep_cols=("url", "warc_ts"))
    two = scan(extract_text(sdf).select("url", "warc_ts", "text"), RULES)
    assert fused.schema == two.schema
    f = {r["url"]: r.asDict(recursive=True) for r in fused.collect()}
    t = {r["url"]: r.asDict(recursive=True) for r in two.collect()}
    assert f == t
    assert sum(r["warc_ts"] is None for r in f.values()) == (len(pdf) + 6) // 7
    res = detect_batch(corpus_pdf["text"], RULES)
    for i, url in enumerate(corpus_pdf["url"]):
        for col in SCAN_OUTPUT_FIELDS:
            assert f[url][col] == res[col][i], col
    for fields in CALLER_FIELDS.values():
        part = extract_and_scan(sdf, RULES, keep_cols=("url",), fields=fields[::-1])
        assert part.columns == ["url", "text"] + [c for c in SCAN_OUTPUT_FIELDS if c in fields]
        got = {r["url"]: r.asDict(recursive=True) for r in part.collect()}
        assert got == {u: {c: r[c] for c in part.columns} for u, r in f.items()}
    # more partitions than rows: some tasks see no batch or an empty one
    few = extract_and_scan(sdf.limit(3).repartition(8), RULES, keep_cols=("url", "warc_ts"))
    assert {r["url"]: r.asDict(recursive=True) for r in few.collect()} == {
        u: f[u] for u in few.toPandas()["url"]}
    assert extract_and_scan(sdf.filter("false"), RULES).count() == 0
    schema = pa.schema([("url", pa.string()), ("keep", pa.bool_()),
                        ("breakdown", pa.map_(pa.string(), pa.int32()))])
    empty = record_batch(_crossing_batch([], RULES, ("keep", "breakdown"), {}, mode="MASK"),
                         schema, pa.record_batch([pa.array([], pa.string())], names=["url"]))
    assert (empty.num_rows, empty.schema.names) == (0, ["url", "keep", "breakdown"])


def test_invalid_utf8_page_fails_only_itself(spark, corpus_pdf):
    """A page that is not valid UTF-8 extracts with U+FFFD in place of the
    bad bytes and scans like any page; its batch's other rows come out as
    they would without it."""
    from safe_zone_spark.operators.scan import extract_and_scan
    from safe_zone_spark.sources.extract import extract_text

    bad = b"<html><body><p>caf\xe9 mail a@b.com</p></body></html>"
    assert extract_text_from_html(bad) == "caf� mail a@b.com"
    pdf = corpus_pdf[["url", "html"]].head(50)
    sdf = spark.createDataFrame(
        pd.concat([pdf, pd.DataFrame({"url": ["bad"], "html": [bad]})]),
        schema="url string, html binary",
    ).coalesce(1)  # one Arrow batch holds every row
    out = {r["url"]: r for r in extract_and_scan(sdf, RULES, keep_cols=("url",)).collect()}
    assert out["bad"]["text"] == "caf� mail a@b.com"
    assert out["bad"]["scrubbed_text"] == detect("caf� mail a@b.com", RULES).redacted_text
    assert [d["type"] for d in out["bad"]["detections"]] == ["EMAIL"]
    assert extract_text(sdf).filter("url = 'bad'").first()["text"] == "caf� mail a@b.com"
    clean = {r["url"]: r for r in extract_and_scan(
        spark.createDataFrame(pdf, schema="url string, html binary").coalesce(1),
        RULES, keep_cols=("url",)).collect()}
    assert {u: r for u, r in out.items() if u != "bad"} == clean


def test_extract_and_scan_fused_extra_scorers_match_udfs(spark, corpus_pdf):
    """Fused langid/ppl extra_scorers (one Arrow crossing) must equal the
    standalone Arrow-UDF composition bit-for-bit."""
    import pyspark.sql.functions as F

    from safe_zone_spark.crossing import text_udf
    from safe_zone_spark.functions.langid import classify_series, classify_texts
    from safe_zone_spark.functions.perplexity import perplexity_batch, perplexity_series
    from safe_zone_spark.operators.scan import extract_and_scan

    sdf = spark.createDataFrame(
        corpus_pdf[["url", "html"]], schema="url string, html binary"
    ).repartition(4)
    fused = extract_and_scan(
        sdf, RULES, keep_cols=("url",), fields=("keep",),
        extra_scorers={"lang_pred": ("string", classify_series),
                       "ppl": ("double", perplexity_series)},
    )
    composed = extract_and_scan(sdf, RULES, keep_cols=("url",), fields=("keep",)).select(
        "url",
        text_udf(classify_texts, "string")(F.col("text")).alias("lang_pred"),
        text_udf(perplexity_batch, "double")(F.col("text")).alias("ppl"),
    )
    f = {r["url"]: r for r in fused.collect()}
    c = {r["url"]: r for r in composed.collect()}
    assert set(f) == set(c)
    for url in f:
        assert f[url]["lang_pred"] == c[url]["lang_pred"]
        assert f[url]["ppl"] == c[url]["ppl"]  # identical float path


def test_blob_unsafe_patterns_fall_back_to_per_doc():
    """Anchored / NUL-capable patterns must not leak across the batch blob
    (regression: blob finditer would anchor ^ to the blob and let `.`, a
    class holding NUL or a blocklist word holding NUL cross the NUL
    separators)."""
    from safe_zone_spark.operators.scan import detect_batch
    from safe_zone_spark.rules import Pattern, RuleSet, _plan

    def blob_safe(source):
        return _plan(source)[0]

    assert not blob_safe(r"^Subject:")
    assert not blob_safe(r"a.b")
    assert not blob_safe(r"[^x]+")
    assert not blob_safe(r"\S+")
    assert not blob_safe(r"end$")
    assert not blob_safe(r"[\x00-\x7f]{3,}")
    assert not blob_safe(r"\x00")
    assert not blob_safe(r"[\0-\x20]ab")
    assert blob_safe(r"(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}")  # class dots ok
    assert blob_safe(r"\b\d{3}-\d{2}-\d{4}\b")

    def assert_oracle(texts, rules):
        res = detect_batch(pd.Series(texts), rules)
        for i, text in enumerate(texts):
            o = detect(text, rules, mode="MASK")
            got = [(d["type"], d["start"], d["end"], d["value"]) for d in res["detections"][i]]
            assert got == [(d.type, d.start, d.end, d.value) for d in o.detections], text
            assert res["scrubbed_text"][i] == o.redacted_text
        return res

    # custom classes that can match NUL, and a blocklist word holding NUL
    nul = RuleSet(patterns=(
        Pattern("ASCII_RUN", r"[\x00-\x7f]{3,}"),
        Pattern("NUL", r"\x00"),
        Pattern("LOW_AB", r"[\0-\x20]ab"),
    ))
    res = assert_oracle(["abc", "def", "ghi", " ab\x00ab"], nul)
    assert [d["value"] for d in res["detections"][0]] == ["abc"]
    res = assert_oracle(["xa", "by", "za\x00bz"], RuleSet(patterns=(), blocklist=frozenset({"a\x00b"})))
    assert res["scrubbed_text"].tolist() == ["xa", "by", "z[BLOCKED]z"]

    rules = RuleSet(patterns=(
        Pattern("SUBJ", r"^Subject: \w+"),
        Pattern("DOTTY", r"q.z"),
    ))
    texts = pd.Series(["Subject: hello", "Subject: world", "abcq", "zdef"])
    res = detect_batch(texts, rules)
    # every doc starting with Subject: must match (not just the first in blob)
    assert res["contains_pii"][0] and res["contains_pii"][1]
    # q.z must NOT match across the doc boundary between 'abcq' and 'zdef'
    assert not res["contains_pii"][2] and not res["contains_pii"][3]

    # gated blob patterns beside the per-doc ones: US_SSN (digit factor) and
    # EMAIL ('@' factor), an allowlisted gated value, a doc without digits,
    # a doc without '@' and an empty last doc (the byte table's last row)
    seed = {p.name: p for p in default_rules().patterns}
    mixed = RuleSet(
        patterns=(seed["US_SSN"], rules.patterns[0], seed["EMAIL"], rules.patterns[1]),
        allowlist=frozenset({"ok@example.com"}),
    )
    texts = pd.Series([
        "Subject: hi a@b.co and ok@example.com, qaz",
        "no digits at all, mail x@y.org",
        "ssn 123-45-6789 then 987-65-4321 quz",
        "Subject: x 111-22-3333 c@d.io",
        "",
    ])
    res = assert_oracle(texts, mixed)
    assert [len(d) for d in res["detections"]] == [3, 1, 3, 3, 0]


# a rule that stalled a scan task on Python's backtracking matcher (seconds
# on 24 bytes of "A"); RE2 rejects its lookbehind
STALLING_RULE = r"((?:[^\db-d\x00]|[^\s]))*(?-i:(?<=A))b"
NOT_RE2 = {
    "lookahead": r"\d+(?=x)",
    "lookbehind": r"(?<=a)\d+",
    "atomic": r"(?>\d+)a",
    # CPython 3.11 raises SystemError matching this on the first text
    "possessive": r"(?:(\s){2}|\d)++",
    "backreference": r"(\d)\1",
    "end_Z": r"\d+\Z",
    "flag_x": r"(?x)\d + \d",
    "flag_a": r"(?a)\w+\d",
    "flag_L": r"(?L)\w+\d",
    "repeat_1001": r"\d{1001}",
    "nested_repeat_1010": r"(\d{10}){101}",
    "posix_class": r"[[:alpha:]]+\d",
    "stalling_rule": STALLING_RULE,
}


@pytest.mark.parametrize("source", NOT_RE2.values(), ids=NOT_RE2.keys())
def test_constructs_outside_re2_are_skipped_alike(source):
    """A rule outside RE2's syntax does not compile, and the scan and the
    oracle both skip it and still report every other rule's detections."""
    import re

    from safe_zone_spark.rules import Pattern, RuleSet, compile_bytes_regex

    with pytest.raises(re.error):
        compile_bytes_regex(source)
    seed = default_rules()
    rules = RuleSet(patterns=(Pattern("NOT_RE2", source),) + seed.patterns)
    texts = ["the quick  brown fox 123  456", "ssn 123-45-6789 mail a@b.co  9",
             "xAb 1234567890 ab:c " + "A" * 24]
    res = detect_batch(pd.Series(texts), rules, mode="MASK")
    for i, text in enumerate(texts):
        want = [(d.type, d.start, d.end, d.value) for d in detect(text, seed, mode="MASK").detections]
        got = [(d["type"], d["start"], d["end"], d["value"]) for d in res["detections"][i]]
        assert got == want, text
        assert [(d.type, d.start, d.end, d.value) for d in detect(text, rules, mode="MASK").detections] == want
    assert [d["type"] for d in res["detections"][1]] == ["US_SSN", "EMAIL"]


def test_each_rejected_rule_warns_once(caplog):
    """One WARNING per rule outside RE2's syntax per process, naming the
    rule and the construct, however often the rules are compiled."""
    import logging

    from safe_zone_spark.rules import Pattern, RuleSet, compile_patterns

    bad = {"LOUD_LOOKAHEAD": (r"\d+(?=loud)", "lookaround"),
           "LOUD_ATOMIC": (r"(?>loud)\d", "atomic group")}
    rules = RuleSet(patterns=tuple(Pattern(n, src) for n, (src, _) in bad.items())
                    + default_rules().patterns)
    with caplog.at_level(logging.WARNING, logger="safe_zone_spark.rules"):
        for _ in range(2):
            assert len(compile_patterns(rules)) == 20
        for text in ("loud 123", "12 loud", "a@b.co"):
            detect(text, rules, mode="MASK")
    for name, (_, construct) in bad.items():
        [record] = [r for r in caplog.records if name in r.getMessage()]
        assert record.levelno == logging.WARNING and construct in record.getMessage()
    assert len(caplog.records) == len(bad)


def test_rejected_rules_are_parsed_once():
    """A rule that fails to parse, or is not RE2 syntax, is parsed on the
    first ``compile_patterns`` call only: the scan compiles once per batch
    and the oracle once per doc."""
    from re import _parser

    from safe_zone_spark.rules import Pattern, RuleSet, compile_patterns

    bad = {r"(unbalanced parse-once probe", r"(?:(\s){2}|parse-once probe)++"}
    seed = default_rules()
    rules = RuleSet(patterns=tuple(Pattern(f"BAD{i}", b) for i, b in enumerate(sorted(bad)))
                    + seed.patterns)
    real_parse = _parser.parse
    parsed = []

    def counting_parse(source, *args, **kwargs):
        parsed.append(source)
        return real_parse(source, *args, **kwargs)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(_parser, "parse", counting_parse)
        for _ in range(2):
            compiled = compile_patterns(rules)
            assert [p.name for p, _ in compiled] == [p.name for p in seed.patterns]
    assert sorted(s for s in parsed if s.decode() in bad) == sorted(b.encode() for b in bad)


def test_seed_plans_are_pinned():
    """The plans read from ``re._parser`` for the seed patterns: a change in
    that private parser must fail here, not silently scan every doc or
    every window."""
    from safe_zone_spark.rules import SEED_PATTERNS, _plan

    plans = {p.name: _plan(p.regex) for p in SEED_PATTERNS}
    assert len(plans) == 20
    assert all(plan.safe for plan in plans.values())
    assert all(plan.factors for n, plan in plans.items() if n != "AWS_SECRET_KEY")
    assert frozenset({b"-"}) in plans["UUID_PII"][2]
    assert frozenset({b":", b"-"}) in plans["MAC_ADDRESS"][2]
    assert frozenset({b"@"}) in plans["EMAIL"][2]
    digits = {bytes((b,)) for b in b"0123456789"}
    for name in ("TCKN", "PHONE_TR", "PHONE_INT", "CREDIT_CARD", "IBAN_TR", "DATE",
                 "TURKISH_PLATE", "VKN", "MERSIS", "US_SSN", "UK_NINO"):
        assert any(f <= digits for f in plans[name][2]), name

    # alphabets (both cases only under (?i)) and minimum widths
    ws, dig = b" \t\n\r\f", b"0123456789"
    up, low = bytes(range(65, 91)), bytes(range(97, 123))
    hexd = dig + b"ABCDEFabcdef"
    inj, dan = b"ignore previous instructions forget all prior", b"dan mode do anything now"
    want = {
        "EMAIL": (dig + up + low + b"._%+-@", 6),
        "TCKN": (dig, 11),
        "PHONE_TR": (dig + ws + b"+-", 10),
        "PHONE_INT": (dig + b" +", 8),
        "CREDIT_CARD": (dig + b" -", 13),
        "IBAN_TR": (dig + ws + b"TR", 26),
        "DATE": (dig + b"./-", 10),
        "TURKISH_PLATE": (dig + ws + up, 5),
        "VKN": (dig, 10),
        "MERSIS": (dig, 16),
        "US_SSN": (dig + b"-", 11),
        "UK_NINO": (dig + b"ABCDEGHJKLMNOPRSTWXYZ", 9),
        "UUID_PII": (hexd + b"-", 36),
        "MAC_ADDRESS": (hexd + b":-", 17),
        "AWS_ACCESS_KEY": (dig + up, 20),
        "AWS_SECRET_KEY": (dig + up + low + b"/+", 40),
        "PRIVATE_KEY_HEADER": (b"-BEGIN RSADPCPRIVATEKY", 30),
        "GENERIC_API_KEY": (dig + up + low + ws + b"_-:=", 23),
        "PROMPT_INJECTION_SIMPLE": (inj + inj.upper(), 28),
        "JAILBREAK_DAN": (dan + dan.upper(), 8),
    }
    assert {n: (plan.alphabet, plan.width) for n, plan in plans.items()} == {
        n: (frozenset(alphabet), width) for n, (alphabet, width) in want.items()}

    # scoped case folding; width 0 scans the whole domain (no alphabet)
    assert _plan(r"(?i:ab)c").alphabet == frozenset(b"abABc")
    assert _plan(r"(?i)a(?-i:b)").alphabet == frozenset(b"aAb")
    assert _plan(r"\d*").alphabet is None


def test_space_class_excludes_vertical_tab_as_in_duckdb():
    """``\\s`` is RE2's ``[\\t\\n\\f\\r ]``: Python's own ``\\s`` also matches
    ``\\v``. On text spaced with ``\\v`` (and a spaced control), the four
    seeds with ``\\s`` find what DuckDB's RE2 finds, in the oracle and in
    the blob scan."""
    import duckdb

    from safe_zone_spark.rules import SEED_PATTERNS, RuleSet

    texts = {
        "PHONE_TR": ["532\v123\v45\v67", "0532 123\v45 67", "+90 532\t123 45 67"],
        "IBAN_TR": ["TR33\v0006\v1005\v1978\v6457\v8413\v26",
                    "TR33 0006 1005 1978 6457 8413 26"],
        "TURKISH_PLATE": ["34\vABC\v123", "x 06\vAB 99", "34 ABC 123"],
        "GENERIC_API_KEY": ["api_key\v=\vabcdefghijklmnop12", "token: api_key= abcdefghijklmnop12"],
    }
    con = duckdb.connect()
    for name, docs in texts.items():
        pattern = next(p for p in SEED_PATTERNS if p.name == name)
        rules = RuleSet(patterns=(pattern,), validators=())
        res = detect_batch(pd.Series(docs), rules, mode="MASK")
        for i, text in enumerate(docs):
            re2 = con.execute("SELECT regexp_extract_all(?, ?)", [text, pattern.regex]).fetchone()[0]
            oracle = [d.value for d in detect(text, rules, mode="MASK").detections]
            assert oracle == re2, (name, text)
            assert [d["value"] for d in res["detections"][i]] == re2, (name, text)
        assert any(con.execute("SELECT regexp_matches(?, ?)", [t, pattern.regex]).fetchone()[0]
                   for t in docs), name


def test_only_rules_reads_the_regex_parser():
    """``rules._plan`` is the one reading of a pattern's parse: no other
    package module imports ``re._parser`` (or its alias ``sre_parse``)."""
    import ast
    from pathlib import Path

    package = Path(__file__).resolve().parents[1] / "safe_zone_spark"
    readers = []
    for path in package.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [f"{node.module}.{a.name}" for a in node.names]
            else:
                continue
            if any(n.startswith(("re._parser", "sre_parse")) for n in names):
                readers.append(f"{path.relative_to(package)}:{node.lineno}")
    assert [r for r in readers if not r.startswith("rules.py:")] == []


def test_checksums_reject_unicode_digits():
    from safe_zone_spark.checksums import (
        luhn_valid,
        luhn_valid_np,
        tckn_valid,
        tckn_valid_np,
    )

    arabic = "٤١١١١١١١١١١١١١١١"  # Arabic-Indic digits
    assert not luhn_valid(arabic)
    assert not tckn_valid("١٠٠٠٠٠٠٠١٤٦")
    # vectorized path must not crash on unicode digits mid-batch
    assert list(luhn_valid_np([arabic, "4111 1111 1111 1111"])) == [False, True]
    assert list(tckn_valid_np(["١٠٠٠٠٠٠٠١٤٦", "10000000146"])) == [False, True]


def test_scan_per_row_expected_format(spark):
    """Per-row expected_format union with job guardrails ≡ oracle
    detect(expected_format=..., guardrails=...) — mixed formats in one
    batch (models.go:6-12: the reference dedups and sorts the union)."""
    rows = [
        ('{"a": 1}', "JSON"),        # valid JSON → passes
        ("not json", "JSON"),        # invalid → blocked by validator
        ("12345", "NUMERIC"),        # REGEX validator passes
        ("abc 123", "NUMERIC"),      # fails
        ("plain text", ""),          # no per-row format
        ("<root/>", None),           # null → no per-row format
        ("123456", "JSON"),          # valid JSON number AND job guardrail
    ]
    sdf = spark.createDataFrame(rows, "text string, expected_format string")
    out = (
        scan(sdf, RULES, validator_names=("NO_SPACES",),
             expected_format_col="expected_format")
        .select("text", "expected_format", "blocked", "keep", "message",
                "overall_confidence")
        .collect()
    )
    for r in out:
        fmt = r["expected_format"] or ""
        o = detect(
            r["text"], RULES, expected_format=fmt, guardrails=("NO_SPACES",)
        )
        assert r["blocked"] == o.blocked, (r["text"], fmt)
        assert r["keep"] == o.keep
        assert r["message"] == o.message
        assert r["overall_confidence"] == pytest.approx(o.overall_confidence)
    # sanity: the mix really exercised both outcomes
    assert any(r["blocked"] for r in out) and any(not r["blocked"] for r in out)
