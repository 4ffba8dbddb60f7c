"""The correctness checker catches planted faults."""
import pandas as pd
import pytest

from perfbench import check, gen


@pytest.fixture(scope="module")
def crawl(tmp_path_factory):
    d, _ = gen.build(str(tmp_path_factory.mktemp("c")), "crawl_commit", 4, 240)
    exp = pd.read_parquet(f"{d}/expected.parquet")
    expq = pd.read_parquet(f"{d}/expected_quarantine.parquet")
    committed = set(pd.read_parquet(f"{d}/template/_manifest").url)
    return exp, expq, committed


def _perfect(exp, expq, committed):
    keep = ~exp.url.str.split("::").str[0].isin(committed)
    extracted = exp[keep].rename(columns={"extracted_text": "text"})
    quarantine = expq[~expq.url.isin(committed)]
    return extracted.reset_index(drop=True), quarantine.reset_index(drop=True)


def test_perfect_output_passes(crawl):
    exp, expq, committed = crawl
    ext, q = _perfect(*crawl)
    attempted, failed = check.check_extraction(ext, q, exp, expq, committed,
                                               True)
    assert failed == 0
    assert attempted == len(ext) + len(q) + 1


def test_text_mismatch_is_caught(crawl):
    exp, expq, committed = crawl
    ext, q = _perfect(*crawl)
    ext.loc[0, "text"] += " "
    assert check.check_extraction(ext, q, exp, expq, committed, True)[1] == 1


def test_non_noop_resume_is_caught(crawl):
    exp, expq, committed = crawl
    ext, q = _perfect(*crawl)
    assert check.check_extraction(ext, q, exp, expq, committed, False)[1] == 1


def test_committed_url_leak_and_wrong_reason_are_caught(crawl):
    exp, expq, committed = crawl
    ext, q = _perfect(*crawl)
    leaked = exp[exp.url.isin(committed)].iloc[:1].rename(
        columns={"extracted_text": "text"})
    assert len(leaked) == 1
    both = pd.concat([ext, leaked], ignore_index=True)
    assert check.check_extraction(both, q, exp, expq, committed, True)[1] == 1
    q = q.copy()
    q.loc[0, "reason"] = "something_else"
    assert check.check_extraction(ext, q, exp, expq, committed, True)[1] == 1


def test_query_compare():
    cols = ["b", "a"]
    rows = [(1, "x"), (2, "y")]
    assert check.check_queries({"q": (cols, rows)},
                               {"q": (["a", "b"], [("y", 2), ("x", 1)])}
                               ) == (1, [])
    assert check.check_queries({"q": (cols, rows)},
                               {"q": (cols, [(1, "x"), (3, "y")])})[1] == ["q"]
    # same value, different type: the typed comparison must catch it
    assert check.check_queries({"q": (cols, rows)},
                               {"q": (cols, [(1.0, "x"), (2, "y")])}
                               )[1] == ["q"]
