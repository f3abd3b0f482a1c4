"""Format validators (the reference's guardrails dispatcher).

Mirrors ``ValidateFormat`` (/root/reference/internal/guardrails/validators.go:50-91):

* BUILTIN  — JSON / XML well-formedness
* REGEX    — unanchored ``MatchString`` search
* SCHEMA   — JSON-Schema validation (feature-gated; skip → pass)
* AI_PROMPT — in the reference, an LLM yes/no. Here every seed AI validator is
  replaced by a **deterministic** equivalent (lexicon / regex / checksum) so the
  pipeline is reproducible and runs without network. The TCKN_AI prompt
  (init.sql:108) spells out its checksum; PCI_STRICT becomes a Luhn scan; the
  rest become heuristic scanners. When ``semantic_analysis`` is disabled the
  reference fails **closed** (error → blocked, validators.go:82-85) — we keep
  that behavior.

Return protocol matches Go: ``(valid: bool, error: str | None)``. An error
implies ``valid`` is meaningless and the caller treats the validator as
errored (confidence 1.0, blocked — guardrails.go:84-88).

Known intentional divergences from Go (documented, not observable on the
reference's pinned test matrices):

* XML: Go's ``xml.Unmarshal`` stops after the first root element, accepting
  trailing siblings (``<a/><b/>``); Python's ``xml.etree`` rejects them.
* REGEX ``$``: Python ``$`` also matches before a trailing newline; Go's only
  at end of text. We rewrite an unescaped trailing ``$`` to ``\\Z`` to pin Go
  semantics.
"""

from __future__ import annotations

import functools
import json
import re
import xml.etree.ElementTree as ET

from ..checksums import luhn_valid, tckn_valid
from ..rules import RuleSet, Validator, compile_bytes_regex


def _reject_constant(_):
    # Go's encoding/json rejects NaN/Infinity literals; Python accepts them
    # by default — reject to match.
    raise ValueError("constant not allowed")


def is_valid_json(text: str) -> bool:
    """Go json.Unmarshal parity on the pinned matrix
    (tests/unit/guardrails_test.go:345-373)."""
    try:
        json.loads(text, parse_constant=_reject_constant)
        return True
    except (ValueError, TypeError):
        return False


def is_valid_xml(text: str) -> bool:
    """Go xml.Unmarshal parity on the pinned matrix
    (tests/unit/guardrails_test.go:375-401)."""
    try:
        ET.fromstring(text)
        return True
    except ET.ParseError:
        return False
    except ValueError:  # e.g. null bytes
        return False


_TRAILING_DOLLAR = re.compile(r"(?<!\\)\$\Z")


def _go_anchored(rule: str) -> str:
    """Rewrite an unescaped trailing ``$`` to ``\\Z`` (Go end-of-text)."""
    return _TRAILING_DOLLAR.sub(r"\\Z", rule)


@functools.cache
def _compile_rule(rule: str) -> re.Pattern[str]:
    """The rule as Go's ``regexp.MatchString`` takes it: a rule outside
    RE2's syntax raises ``re.error``, as it errors there."""
    compile_bytes_regex(rule)
    return re.compile(_go_anchored(rule))


def regex_match(rule: str, text: str) -> tuple[bool, str | None]:
    try:
        pat = _compile_rule(rule)
    except re.error as e:
        return False, f"bad regex: {e}"
    return pat.search(text) is not None, None


def is_valid_schema(text: str, schema_rule: str) -> tuple[bool, str | None]:
    """JSON-Schema validation (validators.go:72-80): content must be valid
    JSON first; schema violations are *failures*, not errors (the Go helper
    returns (false, err) and the dispatcher surfaces err — so violations
    block either way; we report them as failures with a message)."""
    if not is_valid_json(text):
        return False, "content is not valid JSON"
    try:
        import jsonschema
    except ImportError:
        return True, None  # feature unavailable → skip, like the flag-off path
    try:
        jsonschema.validate(json.loads(text), json.loads(schema_rule))
        return True, None
    except jsonschema.ValidationError as e:
        return False, str(e.message)
    except jsonschema.SchemaError as e:
        return False, f"bad schema: {e.message}"


# ---------------------------------------------------------------------------
# Deterministic AI_PROMPT replacements
# ---------------------------------------------------------------------------

# Small embedded toxicity lexicon (public-domain English profanity seeds) —
# stands in for the TOXIC_LANGUAGE LLM prompt (init.sql:103). Intentionally
# conservative; the shape (compiled alternation, case-insensitive, word
# bounded) is what matters for the pipeline.
_TOXIC_WORDS = (
    "idiot", "stupid", "moron", "hate you", "kill yourself", "dumbass",
    "scumbag", "garbage human", "worthless piece",
)
_TOXIC_RE = re.compile(
    r"(?i)\b(?:" + "|".join(re.escape(w) for w in _TOXIC_WORDS) + r")\b"
)

_INJECTION_RE = re.compile(
    r"(?i)(ignore previous instructions|forget all (?:prior instructions|rules)"
    r"|DAN mode|do anything now|pretend you are|roleplay as|act as if)"
)

# Government-ID-ish detector for PII_ID_GLOBAL: TCKN (checksum-valid), SSN,
# UK NINO, or explicit id-number context.
_SSN_RE = re.compile(r"\b\d{3}-\d{2}-\d{4}\b")
_NINO_RE = re.compile(r"\b[A-CEGHJ-PR-TW-Z][A-CEGHJ-NPR-TW-Z][0-9]{6}[A-D]\b")
_TCKN_CAND_RE = re.compile(r"\b[1-9][0-9]{10}\b")
_PASSPORT_RE = re.compile(r"\b[A-Z]{1,2}[0-9]{6,9}\b")
_CARD_CAND_RE = re.compile(r"\b(?:\d[ -]?){12,19}\b")


def _answers_yes(name: str, text: str) -> bool:
    """Deterministic stand-in for the LLM call: would the prompt's honest
    answer be YES? Prompt texts at init.sql:103-108."""
    if name == "TOXIC_LANGUAGE":  # YES == safe
        return _TOXIC_RE.search(text) is None
    if name == "PROMPT_INJECTION":  # YES == safe
        return _INJECTION_RE.search(text) is None
    if name == "PII_ID_GLOBAL":  # YES == contains a government ID
        if _SSN_RE.search(text) or _NINO_RE.search(text):
            return True
        return any(tckn_valid(m.group(0)) for m in _TCKN_CAND_RE.finditer(text))
    if name == "PII_PASSPORT":  # YES == contains passport-like number
        return _PASSPORT_RE.search(text) is not None
    if name == "PCI_STRICT":  # YES == contains sensitive card data
        return any(
            luhn_valid(m.group(0)) for m in _CARD_CAND_RE.finditer(text)
        )
    if name == "TCKN_AI":  # YES == the candidate is checksum-valid
        return tckn_valid(text.strip())
    return False


def validate_format(
    text: str,
    name: str,
    rules: RuleSet,
    *,
    semantic_analysis: bool = True,
    schema_validation: bool = True,
) -> tuple[bool, str | None]:
    """Python port of ValidateFormat (validators.go:50-91)."""
    validator: Validator | None = rules.validator_by_name(name)
    if validator is None:
        return False, f"validator not found: {name}"

    if validator.type == "BUILTIN":
        if validator.name == "JSON":
            return is_valid_json(text), None
        if validator.name == "XML":
            return is_valid_xml(text), None
        return False, f"unknown builtin validator: {validator.name}"

    if validator.type == "REGEX":
        return regex_match(validator.rule, text)

    if validator.type == "SCHEMA":
        if not schema_validation:
            return True, None  # validators.go:73-75 skip when disabled
        return is_valid_schema(text, validator.rule)

    if validator.type == "AI_PROMPT":
        if not semantic_analysis:
            # Fail closed (validators.go:82-85).
            return False, "AI validation is disabled by feature flag"
        answer = "YES" if _answers_yes(validator.name, text) else "NO"
        # Go prefix-matches the LLM reply against expected_response.
        return answer.startswith(validator.expected_response), None

    return False, f"unknown validator type: {validator.type}"
