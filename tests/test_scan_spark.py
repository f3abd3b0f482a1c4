"""Spark scan operator ⟷ pure-Python oracle, diffed row by row on the
deterministic synthetic corpus (the BASELINE acceptance shape: keep/drop
agreement = F1 1.0 at fixture scale + byte-identical scrubbed text per url)."""

import pandas as pd
import pytest

from safe_zone_spark.operators import detect_batch, scan
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


def test_extract_and_scan_fused_matches_two_stage(spark, corpus_pdf):
    """The fused fast path must equal extract_text + scan composed."""
    from safe_zone_spark.operators.scan import extract_and_scan
    from safe_zone_spark.sources.extract import extract_text

    sdf = spark.createDataFrame(
        corpus_pdf[["url", "html"]], schema="url string, html binary"
    ).repartition(4)
    fused = extract_and_scan(sdf, RULES, keep_cols=("url",))
    two = scan(extract_text(sdf).select("url", "text"), RULES)
    f = {r["url"]: r for r in fused.collect()}
    t = {r["url"]: r for r in two.collect()}
    assert set(f) == set(t)
    for url in f:
        assert f[url]["text"] == t[url]["text"]
        assert f[url]["keep"] == t[url]["keep"]
        assert f[url]["scrubbed_text"] == t[url]["scrubbed_text"]
        assert f[url]["breakdown"] == t[url]["breakdown"]


def test_extract_and_scan_fused_extra_scorers_match_udfs(spark, corpus_pdf):
    """Fused langid/ppl extra_scorers (one Arrow crossing) must equal the
    standalone pandas-UDF composition bit-for-bit."""
    import pyspark.sql.functions as F

    from safe_zone_spark.functions.langid import classify_series, langid_ngram_udf
    from safe_zone_spark.functions.perplexity import perplexity_series, perplexity_udf
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
        langid_ngram_udf()(F.col("text")).alias("lang_pred"),
        perplexity_udf()(F.col("text")).alias("ppl"),
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
    from safe_zone_spark.operators.scan import _plan, detect_batch
    from safe_zone_spark.rules import Pattern, RuleSet

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


def test_seed_plans_are_pinned():
    """The plans read from ``re._parser`` for the seed patterns: a change in
    that private parser must fail here, not silently scan every doc or
    every window."""
    from safe_zone_spark.operators.scan import _plan
    from safe_zone_spark.rules import SEED_PATTERNS

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
    ws, dig = b" \t\n\r\f\v", b"0123456789"
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

    # scoped case folding; a lookaround, a group reference or width 0 scans
    # the whole domain (no alphabet)
    assert _plan(r"(?i:ab)c").alphabet == frozenset(b"abABc")
    assert _plan(r"(?i)a(?-i:b)").alphabet == frozenset(b"aAb")
    assert _plan(r"\d+(?=x)").alphabet is None
    assert _plan(r"(?<!a)\d+").alphabet is None
    assert _plan(r"(a)\1").alphabet is None
    assert _plan(r"\d*").alphabet is None
    assert _plan(r"(?>\d+)a|b++").alphabet == frozenset(b"0123456789ab")


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
