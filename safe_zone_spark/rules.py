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
* ``\\b`` / ``\\d`` / ``\\w`` are ASCII-only (Go RE2 default), and ``\\s``
  is RE2's ``[\\t\\n\\f\\r ]`` (Python's adds ``\\v``; see ``_plan``),
* matches can never split a multi-byte UTF-8 character, because every literal
  byte in the seed patterns is ASCII (< 0x80) and UTF-8 continuation bytes are
  >= 0x80.
"""

from __future__ import annotations

import functools
import logging
import re
import sys
import warnings
from dataclasses import dataclass, field
from re import _constants as C
from re import _compiler, _parser
from typing import NamedTuple

_log = logging.getLogger(__name__)


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
# The pattern language: RE2's syntax, decided by one walk of one parse.
# ---------------------------------------------------------------------------

_ALL = frozenset(range(256))
# RE2's \s; Python's also matches \v (re2_parse spells RE2's in the parse)
_DIGIT, _SPACE = frozenset(b"0123456789"), frozenset(b"\t\n\f\r ")
_WORD = _DIGIT | frozenset(b"_abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")
# in a bytes regex \d \w and their complements are ASCII classes
_CATEGORY = {C.CATEGORY_DIGIT: _DIGIT, C.CATEGORY_WORD: _WORD,
             C.CATEGORY_NOT_DIGIT: _ALL - _DIGIT, C.CATEGORY_NOT_WORD: _ALL - _WORD}
# what RE2 has of Python's flags and anchors (^ $ \A \b \B; no \Z), and its
# bound on the product of nested counted repeats (parse.cc RepetitionWalker)
_RE2_FLAGS = C.SRE_FLAG_IGNORECASE | C.SRE_FLAG_MULTILINE | C.SRE_FLAG_DOTALL
_RE2_AT = {C.AT_BEGINNING, C.AT_END, C.AT_BEGINNING_STRING, C.AT_BOUNDARY, C.AT_NON_BOUNDARY}
_RE2_MAX_REPEAT = 1000
_NOT_RE2 = {C.ASSERT: "a lookaround", C.ASSERT_NOT: "a lookaround",
            C.ATOMIC_GROUP: "an atomic group", C.POSSESSIVE_REPEAT: "a possessive repeat",
            C.GROUPREF: "a backreference", C.GROUPREF_EXISTS: "a conditional group",
            C.AT: r"the anchor \Z"}


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
        elif iop is C.CATEGORY:
            got |= _CATEGORY[iav]
    return _ALL - got if av and av[0][0] is C.NEGATE else frozenset(got)


def _re2_spaces(items: list, top: int) -> list:
    """An IN node's items with ``\\s`` as RE2's ``[\\t\\n\\f\\r ]`` and
    ``\\S`` as its complement up to code ``top``."""
    out = []
    for iop, iav in items:
        if iop is C.CATEGORY and iav is C.CATEGORY_SPACE:
            out += [(C.LITERAL, b) for b in sorted(_SPACE)]
        elif iop is C.CATEGORY and iav is C.CATEGORY_NOT_SPACE:
            lo = 0
            for b in sorted(_SPACE):
                out += [(C.RANGE, (lo, b - 1))] if lo < b else []
                lo = b + 1
            out.append((C.RANGE, (lo, top)))
        else:
            out.append((iop, iav))
    return out


def _respell(seq, top: int) -> None:
    # replaced, not edited: the parser shares \s's item list
    for i, (op, av) in enumerate(seq):
        if op is C.IN:
            seq[i] = (op, _re2_spaces(av, top))
        elif op is C.SUBPATTERN:
            _respell(av[3], top)
        elif op is C.BRANCH:
            for b in av[1]:
                _respell(b, top)
        elif op is C.MAX_REPEAT or op is C.MIN_REPEAT:
            _respell(av[2], top)


def re2_parse(source: "str | bytes", flags: int = 0):
    """The parse of ``source`` with every ``\\s`` and ``\\S`` spelled as
    RE2's ``[\\t\\n\\f\\r ]`` and its complement: Python's ``\\s`` also
    matches ``\\v``. ``re._compiler.compile`` compiles it."""
    tree = _parser.parse(source, flags)
    _respell(tree, 0xFF if isinstance(source, bytes) else sys.maxunicode)
    return tree


def _fold(got: frozenset[int]) -> frozenset[int]:
    """``got`` with the other case of each ASCII letter: all that a bytes
    regex's IGNORECASE folds."""
    return got | {b ^ 32 for b in got if 97 <= b | 32 <= 122}


class Plan(NamedTuple):
    """How the scan reads one RE2-syntax needle (``operators/scan.py``)."""

    safe: bool  # no node can match byte 0 and no anchor but \b: blob mode
    icase: bool
    factors: tuple[frozenset[bytes], ...]  # every match holds a string of each
    # every byte a match can hold (both cases only in a (?i) scope), or None:
    # the needle scans its whole domain (not blob-safe, or width 0)
    alphabet: frozenset[int] | None
    width: int  # the shortest match's length
    compiled: re.Pattern[bytes]


@functools.cache
def _plan(source: str) -> Plan | str:
    """The needle's compiled :class:`Plan`, or why RE2 would not compile it,
    from one walk of the regex's bytes parse. Rejected: a parse error; a
    node outside LITERAL, NOT_LITERAL, ANY, IN, SUBPATTERN, BRANCH,
    MAX_REPEAT, MIN_REPEAT and AT; ``\\Z``; a flag other than ``i m s``;
    nested counted repeats whose bounds (a max, or the min when unbounded)
    multiply past 1000; a "Possible nested set" warning (RE2 reads
    ``[[:alpha:]]`` as a class). Blob-safe: no node can match byte 0 and no
    anchor but ``\\b``. Every match holds a string of each factor: a
    required byte class (ASCII-folded); a run of 2+ required literals
    (lowercased under ``(?i)``); one factor per alternation branch, unioned.
    Min-0 repeats add none. The alphabet is the union of every consuming
    node's bytes, folded only inside an IGNORECASE scope. A plan may widen a
    scan, never drop a match. The walk reads, and the pattern is compiled
    from, :func:`re2_parse`'s parse."""
    try:
        with warnings.catch_warnings():
            warnings.filterwarnings("error", "Possible nested set", FutureWarning)
            tree = re2_parse(source.encode("utf-8"))
        icase = bool(tree.state.flags & C.SRE_FLAG_IGNORECASE)
        safe, alphabet = True, set()

        def walk(seq, runs: bool, fold: bool, budget: int) -> list[frozenset[bytes]]:
            # runs=False in a case-sensitive regex's (?i:…) group (raw-blob
            # find); fold: inside an IGNORECASE scope; budget: the count the
            # enclosing counted repeats leave a nested one
            nonlocal safe
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
                elif op is C.SUBPATTERN:
                    if (av[1] | av[2]) & ~_RE2_FLAGS:
                        raise re.error(f"the flag {re.RegexFlag((av[1] | av[2]) & ~_RE2_FLAGS)!r}")
                    add, drop = av[1] & C.SRE_FLAG_IGNORECASE, av[2] & C.SRE_FLAG_IGNORECASE
                    out += walk(av[3], runs and (icase or not add), (fold or add) and not drop,
                                budget)
                elif op is C.BRANCH:
                    branches = [walk(b, runs, fold, budget) for b in av[1]]
                    if all(branches):
                        out.append(frozenset().union(
                            *(min(b, key=lambda f: (-min(map(len, f)), len(f))) for b in branches)))
                elif op is C.MAX_REPEAT or op is C.MIN_REPEAT:
                    count = av[0] if av[1] == C.MAXREPEAT else av[1]
                    if count > budget:
                        raise re.error(f"nested counted repeats multiply past {_RE2_MAX_REPEAT}")
                    inner = walk(av[2], runs, fold, budget // max(count, 1))
                    out += inner if av[0] else []
                elif op is C.AT and av in _RE2_AT:
                    safe &= av is C.AT_BOUNDARY  # \B matches an empty doc's NUL
                elif op is not None:
                    raise re.error(_NOT_RE2.get(op, str(op)))
            return out

        # the global flags as the root's group flags
        factors = walk([(C.SUBPATTERN, (None, tree.state.flags, 0, tree))], True, False,
                       _RE2_MAX_REPEAT)
        compiled = _compiler.compile(tree)
    except FutureWarning as w:
        return f"{w} (RE2 reads [[:alpha:]] as a class)"
    except re.error as e:
        return str(e)
    # drop a factor that holds all of another's strings (it admits every doc
    # the other does); one-byte factors first, as they only read the table
    factors = [f for f in dict.fromkeys(factors) if not any(g < f for g in factors)]
    width = tree.getwidth()[0]
    return Plan(safe, icase, tuple(sorted(factors, key=lambda f: max(map(len, f)) > 1)),
                frozenset(alphabet) if safe and width > 0 else None, width, compiled)


def compile_bytes_regex(source: str) -> re.Pattern[bytes]:
    """Compile an RE2-syntax pattern for byte-offset scanning over UTF-8
    text (ASCII-only ``\\b``/``\\d``/``\\w`` and byte offsets, as Go's RE2
    gives on the seed patterns); any other source raises ``re.error`` naming
    what RE2 lacks. Cached with its rejections: one walk per process."""
    plan = _plan(source)
    if isinstance(plan, str):
        raise re.error(plan, source)
    return plan.compiled


@functools.cache
def _warn_rejected(name: str, source: str, why: str) -> None:
    _log.warning("rule %s skipped: %r is not RE2 syntax (%s)", name, source, why)


def compile_patterns(rules: RuleSet) -> list[tuple[Pattern, re.Pattern[bytes]]]:
    """Compile active patterns in table order; skip ones that fail to compile
    (guardrails.go:172-176 logs-and-continues on bad regex), with one
    warning per rule and process."""
    out: list[tuple[Pattern, re.Pattern[bytes]]] = []
    for p in rules.active_patterns():
        plan = _plan(p.regex)
        if isinstance(plan, str):
            _warn_rejected(p.name, p.regex, plan)
        else:
            out.append((p, plan.compiled))
    return out
