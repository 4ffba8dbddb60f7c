"""Output-correctness checks; each returns (attempted, failed).

Extraction: every golden row of an uncommitted url (container
children under their ``url::child`` keys) must come back with the same
text, method, status and reliability; every golden quarantine row with
the same reason; no OK row may appear that has no golden twin (that
catches committed urls leaking past the resume filter); and a resume
re-run must be a no-op.

Corpus queries: each result must equal its DuckDB ``oracle_sql()``
twin under ``scripts/oracle_check.py``'s canonicalization.
"""
from __future__ import annotations

import math

import pandas as pd


def _key(url: str, page) -> tuple:
    return (url, None if page is None or (isinstance(page, float)
                                          and math.isnan(page))
            else int(page))


def check_extraction(extracted: pd.DataFrame, quarantine: pd.DataFrame,
                     expected: pd.DataFrame,
                     expected_quarantine: pd.DataFrame,
                     committed: set[str], resume_noop: bool
                     ) -> tuple[int, int]:
    parent = expected.url.str.split("::").str[0]
    gold = expected[~parent.isin(committed)]
    gold_q = expected_quarantine[~expected_quarantine.url.isin(committed)]
    got = {}
    dup = 0
    for r in extracted.itertuples(index=False):
        k = _key(r.url, r.page)
        dup += k in got
        got[k] = r
    failed = dup
    for e in gold.itertuples(index=False):
        g = got.get(_key(e.url, e.page))
        if (g is None or g.text != e.extracted_text or g.method != e.method
                or g.status != e.status
                or abs(g.reliability - e.reliability) > 1e-12):
            failed += 1
    want = set(_key(u, p) for u, p in zip(gold.url, gold.page))
    failed += sum(1 for k, g in got.items()
                  if g.status == "OK" and k not in want)
    reasons = dict(zip(quarantine.url, quarantine.reason))
    failed += sum(1 for u, r in zip(gold_q.url, gold_q.reason)
                  if reasons.get(u) != r)
    failed += not resume_noop
    attempted = len(gold) + len(gold_q) + 1
    return attempted, min(failed, attempted)


def check_queries(results: dict[str, tuple[list, list]],
                  oracle_rows: dict[str, tuple[list, list]]
                  ) -> tuple[int, list[str]]:
    """``results``/``oracle_rows``: query -> (columns, rows). Returns
    (attempted, names of the queries that differ)."""
    from scripts.oracle_check import _normalize

    bad = []
    for name, (scols, srows) in results.items():
        ocols, orows = oracle_rows[name]
        try:
            same = (sorted(scols) == sorted(ocols)
                    and len(srows) == len(orows)
                    and _normalize(srows, scols) == _normalize(orows, ocols)
                    and _typed(srows, scols) == _typed(orows, ocols))
        except TypeError:
            same = False
        if not same:
            bad.append(name)
    return len(results), bad


def _typed(rows, cols):
    from scripts.oracle_check import _reorder

    return sorted(tuple((type(v).__name__, repr(v)) for v in r)
                  for r in _reorder(rows, cols))
