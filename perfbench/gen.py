"""Seeded workload inputs, cached on disk by workload, seed and size.

Every input is a pure function of (workload, seed, size): the same
arguments write byte-identical files. The program under test only
ever sees the written parquet.

- crawl_commit: a stratified sample of ``corpus.generate_corpus``
  rows (exact per-class counts at the generator's natural mix, so a
  seed changes document content, never the format mix), written as
  ``CRAWL_FILES`` parquet files of ``ROW_GROUP``-row groups, plus the
  golden tables and a template out dir whose ``_manifest`` already
  commits about a quarter of the urls.
- corpus_ops: a ``documents`` table with the profile of the sf0.1
  test table (see ``documents``), written as one parquet file with one
  row group.
"""
from __future__ import annotations

import json
import os
import random
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CRAWL_FILES = 16
ROW_GROUP = 1024
LAYOUT = 4  # bump when the files written for a (workload, seed, size) change
COMMITTED_SHARE = 0.25

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
MANIFEST_SCHEMA = pa.schema([("url", pa.string()), ("run_id", pa.string())])
DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch").split()
_LANGS = (["en", "zh", "es", "fr", "de"], [0.4, 0.15, 0.15, 0.15, 0.15])
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.0016


def fixture_class(url: str) -> str:
    """Fixture class encoded in a generated url's path."""
    return url.split("/")[3]


def class_quotas(n: int) -> dict[str, int]:
    """Exact per-class row counts for ``n`` rows at the generator's mix
    (largest-remainder rounding, so they sum to ``n``)."""
    from document_extractor_spark.corpus import _MIX

    shares, prev = {}, 0.0
    for name, cum in _MIX:
        shares[name] = cum - prev
        prev = cum
    raw = {c: s * n for c, s in shares.items()}
    quotas = {c: int(v) for c, v in raw.items()}
    rest = sorted(raw, key=lambda c: (quotas[c] - raw[c], c))
    for c in rest[: n - sum(quotas.values())]:
        quotas[c] += 1
    return quotas


def _stratified_corpus(seed: int, n: int):
    """(pages, expected, expected_quarantine) with exactly
    ``class_quotas(n)`` rows per fixture class, in generation order."""
    from document_extractor_spark.corpus import generate_corpus

    need = class_quotas(n)
    pages, expected, quarantine = [], [], []
    chunk = 0
    while any(need.values()):
        c = generate_corpus(n + n // 8 if chunk == 0 else max(n // 4, 512),
                            seed=f"{seed}.{chunk}", big_pdf_pages=8)
        keep = []
        for url in c.pages.url:
            cls = fixture_class(url)
            keep.append(need[cls] > 0)
            need[cls] -= keep[-1]
        p = c.pages[keep]
        urls = set(p.url)
        e = c.expected[c.expected.url.str.split("::").str[0].isin(urls)]
        q = c.expected_quarantine[c.expected_quarantine.url.isin(urls)]
        # urls restart at 0 in every chunk: tag them with the chunk id
        tag = (lambda s: s.str.replace(
            r"^(https://[^/]+/[^/]+/)", rf"\g<1>{chunk}-", regex=True))
        pages.append(p.assign(url=tag(p.url)))
        expected.append(e.assign(url=tag(e.url)))
        quarantine.append(q.assign(url=tag(q.url)))
        chunk += 1
    return (pd.concat(pages, ignore_index=True),
            pd.concat(expected, ignore_index=True),
            pd.concat(quarantine, ignore_index=True))


def _write_pages(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, schema=PAGES_SCHEMA,
                                        preserve_index=False),
                   path, row_group_size=ROW_GROUP)


def _build_crawl(d: str, seed: int, n: int) -> dict:
    pages, expected, quarantine = _stratified_corpus(seed, n)
    os.makedirs(f"{d}/input")
    bounds = [round(k * len(pages) / CRAWL_FILES)
              for k in range(CRAWL_FILES + 1)]
    for k in range(CRAWL_FILES):
        _write_pages(pages.iloc[bounds[k]:bounds[k + 1]],
                     f"{d}/input/part-{k:05d}.parquet")
    committed = sorted(random.Random(f"commit:{seed}").sample(
        list(pages.url), round(COMMITTED_SHARE * len(pages))))
    os.makedirs(f"{d}/template/_manifest")
    pq.write_table(pa.table({"url": committed,
                             "run_id": ["run-prior"] * len(committed)},
                            schema=MANIFEST_SCHEMA),
                   f"{d}/template/_manifest/part-00000.parquet")
    pq.write_table(pa.Table.from_pandas(expected, preserve_index=False),
                   f"{d}/expected.parquet")
    pq.write_table(pa.Table.from_pandas(quarantine, preserve_index=False),
                   f"{d}/expected_quarantine.parquet")
    return {"docs": len(pages), "committed": len(committed),
            "todo": len(pages) - len(committed)}


def documents(seed, n: int) -> pd.DataFrame:
    """A ``documents`` table with the profile of the sf0.1 test table:
    tokens drawn uniformly from a 30-word vocabulary, 10-99 tokens per
    text, 5% near-duplicates (another row's text plus " dup"), 0.16%
    exact duplicates of another row, languages at the sf shares and 20
    round-robin sources."""
    rng = random.Random(f"docs:{seed}")
    texts = [" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(10, 99)))
             for _ in range(n)]
    near, exact = round(n * NEAR_DUP_SHARE), round(n * EXACT_DUP_SHARE)
    # distinct unplanted bases, so no two plants share one
    rows = rng.sample(range(n), 2 * (near + exact))
    for k, (i, j) in enumerate(zip(rows[: near + exact],
                                   rows[near + exact:])):
        texts[i] = texts[j] + " dup" if k < near else texts[j]
    return pd.DataFrame({
        "doc_id": range(n), "text": texts,
        "lang": [rng.choices(*_LANGS)[0] for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts]})


def _write_docs(df: pd.DataFrame, d: str) -> None:
    os.makedirs(d)
    pq.write_table(pa.Table.from_pandas(df, schema=DOCS_SCHEMA,
                                        preserve_index=False),
                   f"{d}/documents.parquet", row_group_size=len(df))


def _build_corpus(d: str, seed: int, n: int) -> dict:
    docs = documents(seed, n)
    _write_docs(docs, f"{d}/input")
    _write_docs(docs.iloc[: max(n // 10, 1)], f"{d}/small")
    return {"docs": n}


def build(cache: str, workload: str, seed: int, n: int) -> tuple[str, dict]:
    """Build (or reuse) the inputs; returns (dir, meta). A dir is
    published by an atomic rename, so a crash never leaves a partial
    cache behind."""
    d = os.path.join(cache, f"{workload}-v{LAYOUT}-s{seed}-n{n}")
    if not os.path.exists(f"{d}/meta.json"):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        if workload == "crawl_commit":
            meta = _build_crawl(tmp, seed, n)
        else:
            meta = _build_corpus(tmp, seed, n)
        with open(f"{tmp}/meta.json", "w") as f:
            json.dump(meta, f, sort_keys=True)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(f"{d}/meta.json") as f:
        return d, json.load(f)
