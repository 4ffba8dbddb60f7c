"""Reliability scoring and gating helpers.

Byte-parity targets (reference file:line):
- ``score_reliability``: alnum/length ratio in [0,1] rounded to 4
  decimals, empty -> 0.0 (reference common.py:194-203). The reference
  counts Python ``str.isalnum`` characters, which is *Unicode*
  alphanumeric = categories L* (isalpha) plus Nd/Nl/No (numeric).
  The exact regex-class equivalent is ``[\\p{L}\\p{N}]`` — NOT the
  ASCII ``[0-9A-Za-z]`` (SURVEY.md §7.3 hazard). Verified by a
  hypothesis property test against a per-char reimplementation.
- ``exact_median``: statistics.median semantics — mean of the two
  middle values for even counts, 0.0 for empty (common.py:205-214).
  Exact, never approximate: cascade gating flips on approximation.
- ``likely_scan_only``: little/noisy text triage (common.py:216-244).
- ``sample_page_indices``: even 1-based sampling (common.py:352-371).
"""
from __future__ import annotations

import re
import statistics
from typing import Iterable, Sequence

# Unicode alphanumeric exactly as Python's str.isalnum: stdlib re's
# \w is implemented as Py_UNICODE_ISALNUM(ch) || ch == '_', so
# [^\W_] == isalnum per-char — same interpreter Unicode tables as the
# reference (the third-party `regex` module ships *newer* tables and
# diverges on recently-assigned codepoints, e.g. U+13460). Run form:
# sum of run lengths == per-char match count, but natural text matches
# once per WORD instead of once per char (~1.6x on the kernel's
# hottest non-parse path)
_ALNUM_RUN_RE = re.compile(r"[^\W_]+")


def score_reliability(text: str | None) -> float:
    """Scalar reference-parity scorer (reference common.py:194-203)."""
    if not text:
        return 0.0
    total = len(text)
    alnum = sum(map(len, _ALNUM_RUN_RE.findall(text)))
    s = max(0.0, min(1.0, alnum / float(total)))
    return round(s, 4)


def exact_median(values: Iterable[float | None]) -> float:
    """statistics.median with the reference's guards (common.py:205-214)."""
    vals = [float(v) for v in values if v is not None]
    if not vals:
        return 0.0
    return float(statistics.median(vals))


def likely_scan_only(
    samples: Sequence[str],
    min_chars: int = 40,
    rel_cap: float = 0.15,
) -> bool:
    """Triage: too little or too noisy text (reference common.py:216-244).

    The reference joins string samples with a single space then tests
    stripped length < min_chars, else reliability < rel_cap.
    """
    if not samples:
        return True
    text = " ".join(samples)
    if len(text.strip()) < min_chars:
        return True
    return score_reliability(text) < rel_cap


def sample_page_indices(total_pages: int, target: int = 5) -> list[int]:
    """Evenly sample up to `target` unique sorted 1-based page indices
    (reference common.py:352-371, including the deterministic pad)."""
    n = int(max(0, total_pages))
    t = int(max(1, target))
    if n <= t:
        return list(range(1, n + 1))
    step = n / float(t + 1)
    picks = sorted({max(1, min(n, int(round(step * i)))) for i in range(1, t + 1)})
    while len(picks) < t:
        for j in range(1, n + 1):
            if j not in picks:
                picks.append(j)
                if len(picks) == t:
                    break
    return sorted(picks)
