"""Rule tables: detection patterns, allow/block lists, format validators.

The reference keeps these in Postgres (seeded by /root/reference/init.sql) and
caches them in Redis for 1h (/root/reference/internal/cache/redis.go:40-106).
In Spark the equivalent is: read the small rule table once per job (or
micro-batch), collect to the driver, and ship it to executors as a broadcast
variable — regexes are compiled once per executor process, inside the UDF
module, mirroring the reference's process-wide ``sync.Map`` regex cache
(/root/reference/internal/guardrails/guardrails.go:19-32).

Patterns are compiled as **bytes** regexes and scanned over UTF-8 encoded
text. This pins three semantics to the Go reference in one move:

* offsets are byte offsets (Go ``regexp.FindAllStringIndex`` returns byte
  indices, guardrails.go:178),
* ``\\b`` / ``\\d`` / ``\\w`` are ASCII-only (Go RE2 default),
* matches can never split a multi-byte UTF-8 character, because every literal
  byte in the seed patterns is ASCII (< 0x80) and UTF-8 continuation bytes are
  >= 0x80.
"""

from __future__ import annotations

import functools
import re
from dataclasses import dataclass, field
from re import _constants as C
from re import _parser


@dataclass(frozen=True)
class Pattern:
    """One row of the reference ``patterns`` table (init.sql:2-19)."""

    name: str
    regex: str
    category: str = "PII"  # init.sql:13 DEFAULT 'PII'
    is_active: bool = True
    description: str = ""
    # Enterprise per-pattern overrides exist in the schema (init.sql:3-5) but
    # are NOT consulted by Detect (guardrails.go:286-291) — kept for parity.
    block_threshold: float | None = None
    allow_threshold: float | None = None


# The 20 seed patterns, verbatim from /root/reference/init.sql:22-48.
# Order matters: candidates are appended in table order (guardrails.go:171),
# and the stable sort in the overlap resolver preserves that order for
# identical (start, end) spans.
SEED_PATTERNS: tuple[Pattern, ...] = (
    # --- PII (init.sql:24-37) ---
    Pattern("EMAIL", r"(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "PII"),
    Pattern("TCKN", r"\b[1-9][0-9]{9}[02468]\b", "PII"),
    Pattern(
        "PHONE_TR",
        r"\b(?:(?:\+?90)|0)?5\d{2}(?:\s*|-)\d{3}(?:\s*|-)\d{2}(?:\s*|-)\d{2}\b",
        "PII",
    ),
    Pattern("PHONE_INT", r"\b\+(?:[0-9] ?){6,14}[0-9]\b", "PII"),
    Pattern("CREDIT_CARD", r"\b(?:\d[ -]*?){13,16}\b", "PII"),
    Pattern("IBAN_TR", r"\bTR\d{2}\s?(\d{4}\s?){5}\d{2}\b", "PII"),
    Pattern("DATE", r"\b\d{2}[./-]\d{2}[./-]\d{4}\b", "PII"),
    Pattern("TURKISH_PLATE", r"\b(0[1-9]|[1-7][0-9]|8[01])\s?[A-Z]{1,3}\s?\d{2,4}\b", "PII"),
    Pattern("VKN", r"\b\d{10}\b", "PII"),
    Pattern("MERSIS", r"\b\d{16}\b", "PII"),
    Pattern("US_SSN", r"\b\d{3}-\d{2}-\d{4}\b", "PII"),
    Pattern("UK_NINO", r"\b[A-CEGHJ-PR-TW-Z]{1}[A-CEGHJ-NPR-TW-Z]{1}[0-9]{6}[A-D]{1}\b", "PII"),
    Pattern(
        "UUID_PII",
        r"\b[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\b",
        "PII",
    ),
    Pattern("MAC_ADDRESS", r"\b([0-9A-Fa-f]{2}[:-]){5}([0-9A-Fa-f]{2})\b", "PII"),
    # --- SECRET (init.sql:40-43) ---
    Pattern("AWS_ACCESS_KEY", r"\bAKIA[0-9A-Z]{16}\b", "SECRET"),
    Pattern("AWS_SECRET_KEY", r"\b[0-9a-zA-Z/+]{40}\b", "SECRET"),
    Pattern("PRIVATE_KEY_HEADER", r"-----BEGIN (?:RSA|DSA|EC|PGP) PRIVATE KEY-----", "SECRET"),
    Pattern(
        "GENERIC_API_KEY",
        r"\b(api_key|apikey|access_token|auth_token)\s*[:=]\s*[A-Za-z0-9-_]{16,64}\b",
        "SECRET",
    ),
    # --- INJECTION (init.sql:46-47) ---
    Pattern(
        "PROMPT_INJECTION_SIMPLE",
        r"(?i)(ignore previous instructions|forget all prior instructions)",
        "INJECTION",
    ),
    Pattern("JAILBREAK_DAN", r"(?i)(DAN mode|do anything now)", "INJECTION"),
)


@dataclass(frozen=True)
class Validator:
    """One row of ``format_validators`` (init.sql:77-90)."""

    name: str
    type: str  # BUILTIN | REGEX | SCHEMA | AI_PROMPT
    rule: str = ""
    expected_response: str = "YES"


# Seed validators, init.sql:93-109. AI_PROMPT rows keep their names but are
# executed by deterministic equivalents (see validators/__init__.py) — the
# sandbox has no LLM and the pipeline must be reproducible.
SEED_VALIDATORS: tuple[Validator, ...] = (
    Validator("JSON", "BUILTIN"),
    Validator("XML", "BUILTIN"),
    Validator("EMAIL", "REGEX", r"^[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}$"),
    Validator(
        "UUID",
        "REGEX",
        r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$",
    ),
    Validator("ALPHANUMERIC", "REGEX", r"^[a-zA-Z0-9]+$"),
    Validator("NUMERIC", "REGEX", r"^[0-9]+$"),
    Validator("NO_SPACES", "REGEX", r"^\S+$"),
    Validator(
        "JSON_PERSON",
        "SCHEMA",
        '{"type": "object", "properties": {"name": {"type": "string"}, '
        '"age": {"type": "integer"}}, "required": ["name", "age"]}',
    ),
    Validator("TOXIC_LANGUAGE", "AI_PROMPT", "lexicon"),
    Validator("PROMPT_INJECTION", "AI_PROMPT", "injection_regex"),
    Validator("PII_ID_GLOBAL", "AI_PROMPT", "id_heuristic"),
    Validator("PII_PASSPORT", "AI_PROMPT", "passport_heuristic"),
    Validator("PCI_STRICT", "AI_PROMPT", "luhn"),
    Validator("TCKN_AI", "AI_PROMPT", "tckn_checksum"),
)


# Default action thresholds (internal/guardrails/thresholds.go:8-24).
DEFAULT_ALLOW_THRESHOLD = 0.30
DEFAULT_BLOCK_THRESHOLD = 0.85


@dataclass
class RuleSet:
    """The full broadcastable rule bundle (patterns + lists + validators).

    Plain data — picklable, cheap to broadcast. Compiled regexes are NOT
    stored here; executors compile lazily via :func:`compile_patterns`
    (one compile per executor process, like the reference's regexCache).
    """

    patterns: tuple[Pattern, ...] = SEED_PATTERNS
    allowlist: frozenset[str] = frozenset()
    blocklist: frozenset[str] = frozenset()
    validators: tuple[Validator, ...] = SEED_VALIDATORS
    allow_threshold: float = DEFAULT_ALLOW_THRESHOLD
    block_threshold: float = DEFAULT_BLOCK_THRESHOLD
    # MASK | BLOCK | DETECT — request mode default (main.go:82-94, PII_MODE).
    mode: str = "MASK"

    def active_patterns(self) -> tuple[Pattern, ...]:
        """WHERE is_active = true (repository.go:19)."""
        return tuple(p for p in self.patterns if p.is_active)

    def validator_by_name(self, name: str) -> Validator | None:
        for v in self.validators:
            if v.name == name:
                return v
        return None


def default_rules(**overrides) -> RuleSet:
    return RuleSet(**overrides)


# ---------------------------------------------------------------------------
# Compiled-regex cache (per process; executors hit this once per pattern).
# Mirrors guardrails.go:19-32 getCachedRegex.
# ---------------------------------------------------------------------------

def _captures_under_possessive(seq, inside: bool = False) -> bool:
    """Whether a capturing group sits inside a possessive repeat's body."""
    for op, av in seq:
        if inside and op is C.SUBPATTERN and av[0] is not None:
            return True
        nested = inside or op is C.POSSESSIVE_REPEAT
        stack = [av]
        while stack:
            x = stack.pop()
            if isinstance(x, _parser.SubPattern):
                if _captures_under_possessive(x, nested):
                    return True
            elif isinstance(x, (tuple, list)):
                stack += x
    return False


@functools.cache
def _compiled_or_error(source: str) -> re.Pattern[bytes] | re.error:
    data = source.encode("utf-8")
    try:
        if _captures_under_possessive(_parser.parse(data)):
            raise re.error("possessive repeat over a capturing group", source)
        return re.compile(data)
    except re.error as e:
        return e.with_traceback(None)


def compile_bytes_regex(source: str) -> re.Pattern[bytes]:
    """Compile a pattern for byte-offset scanning over UTF-8 text.

    Bytes patterns give ASCII-only ``\\b``/``\\d``/``\\w`` and byte offsets —
    both matching Go's RE2 behavior on the seed patterns.

    A possessive repeat whose body holds a capturing group raises
    ``re.error``: CPython 3.11's matcher can raise ``SystemError`` ("The
    span of capturing group is wrong") on such a pattern mid-scan, e.g.
    ``(?:(\\s){2}|\\d)++`` on ordinary text. RE2 has no possessive
    repeats, so the reference cannot compile these either.

    Rejections are cached with the compiled patterns, so a bad rule is
    parsed once per process, not on every ``compile_patterns`` call.
    """
    compiled = _compiled_or_error(source)
    if isinstance(compiled, re.error):
        raise compiled.with_traceback(None)
    return compiled


def compile_patterns(rules: RuleSet) -> list[tuple[Pattern, re.Pattern[bytes]]]:
    """Compile active patterns in table order; skip ones that fail to compile
    (guardrails.go:172-176 logs-and-continues on bad regex)."""
    out: list[tuple[Pattern, re.Pattern[bytes]]] = []
    for p in rules.active_patterns():
        try:
            out.append((p, compile_bytes_regex(p.regex)))
        except re.error:
            continue
    return out

