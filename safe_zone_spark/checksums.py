"""Digit checksums: TCKN (Turkish national ID) and Luhn (payment cards).

The reference delegates both to LLM prompts (init.sql:107-108, validators
TCKN_AI / PCI_STRICT); the TCKN prompt spells out the exact arithmetic, which
we implement directly. Luhn is additionally mandated by the north-star spec
as a post-filter on CREDIT_CARD candidates (the Go CREDIT_CARD regex at
init.sql:28 is generic and checksum-free).

Both are provided as scalar functions (for the oracle / unit tests) and as
numpy-vectorized batch functions (for use inside the Arrow-batched crossing —
no per-row Python in the hot path).
"""

from __future__ import annotations

import numpy as np


def tckn_valid(candidate: str) -> bool:
    """Official TCKN checksum (init.sql:108):

    11 digits, first digit non-zero,
    d10 = ((d1+d3+d5+d7+d9)*7 - (d2+d4+d6+d8)) mod 10,
    d11 = (d1+...+d10) mod 10.
    """
    # ASCII digits only: str.isdigit() accepts Unicode digits (e.g. ٤),
    # which must be rejected, not interpreted
    if (
        len(candidate) != 11
        or not candidate.isascii()
        or not candidate.isdigit()
        or candidate[0] == "0"
    ):
        return False
    d = [int(c) for c in candidate]
    odd = d[0] + d[2] + d[4] + d[6] + d[8]
    even = d[1] + d[3] + d[5] + d[7]
    if d[9] != (odd * 7 - even) % 10:
        return False
    return d[10] == sum(d[:10]) % 10


def luhn_valid(candidate: str) -> bool:
    """Luhn mod-10 over the ASCII digits of ``candidate`` (other characters,
    including Unicode digits, are stripped)."""
    digits = [int(c) for c in candidate if "0" <= c <= "9"]
    if len(digits) < 12:
        return False
    total = 0
    for i, dgt in enumerate(reversed(digits)):
        if i % 2 == 1:
            dgt *= 2
            if dgt > 9:
                dgt -= 9
        total += dgt
    return total % 10 == 0


# ---------------------------------------------------------------------------
# Vectorized variants: operate on a 2-D uint8 digit matrix (rows = candidates)
# so a whole Arrow batch is validated in a handful of numpy ops.
# ---------------------------------------------------------------------------


def _digit_matrix(values: "np.ndarray", width: int) -> tuple[np.ndarray, np.ndarray]:
    """Return (digits[n, width], ok_mask) for an object array of strings.

    Strings that are not exactly ``width`` ASCII digits get ok_mask False
    (isascii() guard: str.isdigit() alone accepts Unicode digits, which
    would crash encode('ascii') mid-batch).
    """
    n = len(values)
    digits = np.zeros((n, width), dtype=np.int64)
    ok = np.zeros(n, dtype=bool)
    for i, s in enumerate(values):  # fill loop only; arithmetic is vectorized
        if isinstance(s, str) and len(s) == width and s.isascii() and s.isdigit():
            digits[i] = np.frombuffer(s.encode("ascii"), dtype=np.uint8) - 48
            ok[i] = True
    return digits, ok


def tckn_valid_np(values) -> np.ndarray:
    """Vectorized TCKN check over an array-like of strings."""
    values = np.asarray(values, dtype=object)
    d, ok = _digit_matrix(values, 11)
    odd = d[:, 0] + d[:, 2] + d[:, 4] + d[:, 6] + d[:, 8]
    even = d[:, 1] + d[:, 3] + d[:, 5] + d[:, 7]
    valid = (
        ok
        & (d[:, 0] != 0)
        & (d[:, 9] == (odd * 7 - even) % 10)
        & (d[:, 10] == d[:, :10].sum(axis=1) % 10)
    )
    return valid


_LUHN_DOUBLE = np.array([0, 2, 4, 6, 8, 1, 3, 5, 7, 9], dtype=np.int64)


def luhn_valid_np(values) -> np.ndarray:
    """Vectorized Luhn over array-like of strings (digits extracted first).

    Handles variable lengths by bucketing candidates per digit-count; card
    numbers span 12-19 digits so at most 8 buckets per batch.
    """
    values = np.asarray(values, dtype=object)
    cleaned = np.array(
        ["".join(c for c in s if "0" <= c <= "9") if isinstance(s, str) else ""
         for s in values],
        dtype=object,
    )
    lengths = np.array([len(s) for s in cleaned])
    out = np.zeros(len(values), dtype=bool)
    for width in np.unique(lengths):
        if width < 12:
            continue
        idx = np.nonzero(lengths == width)[0]
        d, ok = _digit_matrix(cleaned[idx], int(width))
        # double every second digit from the right
        dbl_pos = (width - 1 - np.arange(width)) % 2 == 1
        summed = np.where(dbl_pos[None, :], _LUHN_DOUBLE[d], d).sum(axis=1)
        out[idx] = ok & (summed % 10 == 0)
    return out
