"""Unit + property tests for reliability scoring / gating helpers.

Parity targets: reference common.py:194-203 (score_reliability),
:205-214 (median), :216-244 (likely_scan_only), :352-371
(sample_page_indices).
"""
import statistics

from hypothesis import given, settings
from hypothesis import strategies as st

from document_extractor_spark.functions.scoring import (
    exact_median,
    likely_scan_only,
    sample_page_indices,
    score_reliability,
)


def _reference_score(text):
    """Per-char reimplementation of reference common.py:194-203."""
    if not text:
        return 0.0
    total = len(text)
    alnum = sum(ch.isalnum() for ch in text)
    return round(max(0.0, min(1.0, alnum / float(total))), 4)


@given(st.text(max_size=300))
@settings(max_examples=300, deadline=None)
def test_score_parity_unicode(text):
    # the regex [\p{L}\p{N}] implementation must match Python's
    # str.isalnum char-by-char semantics on arbitrary unicode
    assert score_reliability(text) == _reference_score(text)


def test_score_bounds_and_empty():
    assert score_reliability("") == 0.0
    assert score_reliability(None) == 0.0
    assert score_reliability("abc") == 1.0
    assert score_reliability("a b") == round(2 / 3, 4)
    # unicode alnum: accents and CJK count, punctuation doesn't
    assert score_reliability("é漢²") == 1.0  # No-category digit ² is alnum
    assert score_reliability("!?.") == 0.0


@given(st.lists(st.one_of(st.none(), st.floats(0, 1)), max_size=30))
@settings(max_examples=100, deadline=None)
def test_median_parity(vals):
    expect = 0.0
    clean = [float(v) for v in vals if v is not None]
    if clean:
        expect = float(statistics.median(clean))
    assert exact_median(vals) == expect


def test_sample_page_indices_reference_values():
    # small docs: all pages
    assert sample_page_indices(3, 5) == [1, 2, 3]
    assert sample_page_indices(0, 5) == []
    # even spacing, 1-based, unique sorted (common.py:352-371)
    got = sample_page_indices(100, 5)
    assert got == sorted(set(got)) and all(1 <= p <= 100 for p in got)
    assert len(got) == 5
    # deterministic
    assert sample_page_indices(100, 5) == sample_page_indices(100, 5)


def test_likely_scan_only():
    assert likely_scan_only([])
    assert likely_scan_only(["", "  ", ""])  # no text
    assert likely_scan_only(["ab", "cd"])  # < 40 chars
    assert not likely_scan_only(["A perfectly normal page of readable text content here."])
    # noisy text below rel cap
    assert likely_scan_only(["!@#$ %^&* ()_+ {}|: <>? ~`" * 4])
