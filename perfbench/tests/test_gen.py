"""The generator writes byte-identical inputs per seed, with exact
per-class counts and a committed manifest of about a quarter."""
import os

import pandas as pd
import pytest

from perfbench import gen


def _tree(d):
    out = {}
    for p, _, fs in os.walk(d):
        for f in fs:
            with open(os.path.join(p, f), "rb") as fh:
                out[os.path.relpath(os.path.join(p, f), d)] = fh.read()
    return out


@pytest.mark.parametrize("workload,n", [("crawl_commit", 240),
                                        ("corpus_ops", 300)])
def test_byte_deterministic_per_seed(tmp_path, workload, n):
    a, _ = gen.build(str(tmp_path / "a"), workload, 7, n)
    b, _ = gen.build(str(tmp_path / "b"), workload, 7, n)
    c, _ = gen.build(str(tmp_path / "c"), workload, 8, n)
    assert _tree(a) == _tree(b)
    assert _tree(a) != _tree(c)


def test_crawl_layout_and_mix(tmp_path):
    d, meta = gen.build(str(tmp_path), "crawl_commit", 3, 400)
    files = sorted(os.listdir(f"{d}/input"))
    assert len(files) == gen.CRAWL_FILES
    pages = pd.read_parquet(f"{d}/input")
    assert len(pages) == meta["docs"] == 400 and pages.url.is_unique
    counts = pages.url.map(gen.fixture_class).value_counts().to_dict()
    assert counts == {c: k for c, k in gen.class_quotas(400).items() if k}
    committed = pd.read_parquet(f"{d}/template/_manifest").url
    assert set(committed) <= set(pages.url)
    assert meta["todo"] == 400 - len(committed)
    assert 0.15 < len(committed) / 400 < 0.35
    expected = pd.read_parquet(f"{d}/expected.parquet")
    assert set(expected.url.str.split("::").str[0]) <= set(pages.url)


def test_documents_table_has_the_sf_profile(tmp_path):
    # the figures measured on the sf0.1 documents table (README)
    d, _ = gen.build(str(tmp_path), "corpus_ops", 3, 5000)
    docs = pd.read_parquet(f"{d}/input/documents.parquet")
    assert list(docs.doc_id) == list(range(5000))
    assert (docs.n_chars == docs.text.str.len()).all()
    near = docs.text.str.endswith(" dup")
    assert near.sum() == 250
    assert docs.text.str[:-4][near].isin(set(docs.text[~near])).all()
    assert docs.text.duplicated().sum() == 8
    tokens = docs.text[~near].str.split()
    assert tokens.map(len).between(10, 99).all()
    assert set(w for t in tokens for w in t) == set(gen._VOCAB)
    assert len(gen._VOCAB) == 30
    assert list(docs.source[:21]) == [f"src{i}" for i in range(20)] + ["src0"]
    assert set(docs.lang) == {"en", "zh", "es", "fr", "de"}
