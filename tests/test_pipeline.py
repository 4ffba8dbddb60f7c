"""Golden end-to-end pipeline tests: byte-identical extracted text per
url vs the generator's ground truth (the north_rule invariant), plus
sniff routing, granularity, quarantine, metrics, and idempotent resume.
"""
import os

import pandas as pd
import pytest

from document_extractor_spark.functions.sniff import sniff_format
from pyspark.sql import functions as F


def _merge(corpus, extracted: pd.DataFrame) -> pd.DataFrame:
    m = corpus.expected.merge(
        extracted, on="url", how="left", suffixes=("_e", ""))
    return m[(m.page_e.isna() & m.page.isna()) | (m.page_e == m.page)]


def test_sniff_routes_every_fixture_class(spark, pages_df):
    got = (
        pages_df.withColumn("fmt", sniff_format(F.col("html"), F.col("text")))
        .select("url", "fmt").toPandas()
    )
    got["cls"] = got.url.str.split("/").str[3]
    route = {
        "html_clean": "html", "html_noisy": "html", "html_garbage": "html",
        "dup": "html", "pdf_text": "pdf", "pdf_big": "pdf",
        "pdf_scanonly": "pdf", "container": "pdf", "plaintext": "txt",
        "pretext": "pretext", "noise": "noise", "unsupported": "unsupported",
        "docx": "docx", "gzip_html": "gzip", "img_scan": "img",
        "pdf_scanned": "pdf",
    }
    for cls, expect in route.items():
        sub = got[got.cls == cls]
        if len(sub):
            assert set(sub.fmt) == {expect}, f"{cls}: {set(sub.fmt)}"


def test_byte_identical_extracted_text(corpus, extraction):
    """THE invariant: extracted text matches ground truth byte-for-byte
    per url (BASELINE.json north_rule)."""
    m = _merge(corpus, extraction["extracted"])
    assert len(m) == len(corpus.expected)
    mismatch = m[m.extracted_text != m.text]
    assert mismatch.empty, mismatch[["url", "fixture_class"]].head()


def test_reliability_and_method_parity(corpus, extraction):
    m = _merge(corpus, extraction["extracted"])
    assert (m.method_e == m.method).all()
    assert (m.used_fallback_e == m.used_fallback).all()
    assert ((m.reliability_e - m.reliability).abs() < 1e-12).all()
    assert (m.status_e == m.status).all()


def test_big_pdfs_become_per_page_rows(corpus, extraction):
    ext = extraction["extracted"]
    big = ext[ext.url.str.contains("/pdf_big/")]
    assert len(big) > 0
    assert big.page.notna().all()  # per-page granularity (A7)
    small = ext[ext.url.str.contains("/pdf_text/")]
    assert small.page.isna().all()  # per-doc rows


def test_container_children_extracted(corpus, extraction):
    ext = extraction["extracted"]
    kids = ext[ext.url.str.contains("::child")]
    parents = ext[ext.url.str.contains("/container/") & ~ext.url.str.contains("::")]
    assert len(kids) > 0
    assert parents.empty  # parent consumed (portfolio_unpack.py:59-90)


def test_noise_rows_absent_everywhere(corpus, extraction):
    noise = set(corpus.noise_urls)
    assert noise
    assert not noise & set(extraction["extracted"].url)
    assert not noise & set(extraction["quarantine"].url)


def test_quarantine_parity(corpus, extraction):
    got = extraction["quarantine"].set_index("url").reason.to_dict()
    want = corpus.expected_quarantine.set_index("url").reason.to_dict()
    assert got == want


def test_spans_cover_text(corpus, extraction):
    """Spans self-consistency: html spans map into the decoded source
    (verified in test_html_extract); here: pdf doc spans partition the
    joined text exactly."""
    ext = extraction["extracted"]
    pdf_docs = ext[(ext.fmt == "pdf") & (ext.status == "OK") & ext.page.isna()]
    for r in pdf_docs.head(20).itertuples():
        assert r.spans[-1]["end"] == len(r.text)
        for span in r.spans:
            assert 0 <= span["start"] <= span["end"] <= len(r.text)


def test_metrics_counters(corpus, extraction):
    met = extraction["metrics"]
    ext = extraction["extracted"]
    assert met.docs_out.sum() == len(ext)
    assert met.parse_failures.sum() == (ext.status == "ERROR").sum()
    want_bytes = ext.text.dropna().str.encode("utf-8").str.len().sum()
    assert met.bytes_extracted.sum() == want_bytes


def _join_metrics(res, run_id):
    """The per-partition metrics as two aggregates plus a full-outer
    join: the reference the one-aggregate metrics must equal."""
    metrics_in = res.branches.groupBy(
        F.spark_partition_id().alias("partition_id")
    ).agg(F.count("*").alias("docs_in"))
    metrics_out = res.extracted.groupBy(
        F.spark_partition_id().alias("partition_id")
    ).agg(
        F.count("*").alias("docs_out"),
        F.sum((F.col("status") == "ERROR").cast("long"))
        .alias("parse_failures"),
        F.sum(F.coalesce(F.octet_length("text"), F.lit(0)).cast("long"))
        .alias("bytes_extracted"),
    )
    return metrics_in.join(metrics_out, "partition_id", "full_outer").select(
        F.lit(run_id).alias("run_id"), "partition_id", "docs_in",
        "docs_out", "parse_failures", "bytes_extracted")


def test_metrics_equal_join_reference(spark, pages_df, corpus):
    """Row for row per partition, on the golden corpus and on an input
    with a partition of only unsupported rows, whose extracted
    counters are NULL."""
    from document_extractor_spark.config import PipelineConfig
    from document_extractor_spark.pipeline import run_extraction

    # no url-hash bucketing: keep the partitions built below
    cfg = PipelineConfig(bigdoc_page_limit=6, url_hash_buckets=-1)
    q = corpus.expected_quarantine
    bad = F.col("url").isin(list(q[q.reason == "unsupported"].url))
    # two partitions: the unsupported rows, then 40 others (an RDD
    # partitioner, which AQE cannot coalesce)
    keyed = (pages_df.filter(bad).union(pages_df.filter(~bad).limit(40))
             .select(F.when(bad, 0).otherwise(1).alias("k"), "*").rdd)
    mixed = spark.createDataFrame(
        keyed.map(lambda r: (r[0], r[1:])).partitionBy(2, lambda k: k)
        .values(), pages_df.schema)
    for pages, null_partitions in ((pages_df, 0), (mixed, 1)):
        res = run_extraction(spark, pages, cfg)
        try:
            cols = res.metrics.columns
            got = res.metrics.toPandas().sort_values(
                "partition_id", ignore_index=True)
            want = _join_metrics(res, cfg.run_id).toPandas()[cols] \
                .sort_values("partition_id", ignore_index=True)
        finally:
            res.unpersist()
        # names and types; parquet writes every column nullable
        assert [(f.name, f.dataType) for f in res.metrics.schema] == [
            (f.name, f.dataType)
            for f in _join_metrics(res, cfg.run_id).select(cols).schema]
        pd.testing.assert_frame_equal(got, want)
        assert got.docs_out.isna().sum() == null_partitions
        assert got[got.docs_out.isna()][
            ["parse_failures", "bytes_extracted"]].isna().all().all()


def test_job_params_banner_row(spark, pages_df, cfg, tmp_path):
    """O2 (entrypoint.sh:69-88 analog): every run_and_commit writes a
    queryable job_params table with the EFFECTIVE config, the
    result-affecting session confs, and library versions; it
    round-trips through the table sink."""
    import json

    from document_extractor_spark.checkpoint import run_and_commit
    from document_extractor_spark.observability import log_phase

    out = str(tmp_path / "out")
    run_and_commit(spark, pages_df.limit(20), out, cfg)
    params = spark.read.parquet(os.path.join(out, "job_params")).toPandas()
    kv = dict(zip(params.key, params.value))
    assert (params.run_id == cfg.run_id).all()
    assert kv["cfg.doc_cutoff"] == str(cfg.doc_cutoff)
    assert kv["cfg.office_salvage"] == str(cfg.office_salvage)
    assert kv["conf.spark.sql.session.timeZone"] == "UTC"
    assert kv["version.spark"] == spark.version
    import pyspark
    assert kv["version.pyspark"] == pyspark.__version__

    # O1: phase lines are machine-parseable JSON with stable keys
    line = log_phase("commit", run_id="r1", docs=3)
    parsed = json.loads(line)
    assert parsed == {"event": "phase", "phase": "commit",
                      "run_id": "r1", "docs": 3}


def test_job_params_written_only_after_commit(spark, pages_df, cfg,
                                              tmp_path, monkeypatch):
    """A batch that dies mid-extraction must leave NO job_params rows
    (a params row implies its batch committed; the retry rewrites the
    set exactly once — no batch_id needed to dedup replays)."""
    import pytest

    from document_extractor_spark import checkpoint

    out = str(tmp_path / "out")

    def boom(*a, **k):
        raise RuntimeError("executor lost")

    monkeypatch.setattr(checkpoint, "run_extraction", boom)
    with pytest.raises(RuntimeError, match="executor lost"):
        checkpoint.run_and_commit(spark, pages_df.limit(5), out, cfg)
    assert not os.path.exists(os.path.join(out, "job_params"))
    assert not os.path.exists(os.path.join(out, "_manifest"))

    # retry with the real extraction: exactly one params set appears
    monkeypatch.undo()
    checkpoint.run_and_commit(spark, pages_df.limit(5), out, cfg)
    params = spark.read.parquet(
        os.path.join(out, "job_params")).toPandas()
    assert (params.run_id == cfg.run_id).all()
    assert params.key.value_counts().max() == 1


def test_idempotent_resume(spark, pages_df, cfg, tmp_path):
    """Run twice over the same snapshot: second run writes 0 new rows
    (replaces the reference's delete-on-success, process_run.py:194-197)."""
    from document_extractor_spark.checkpoint import run_and_commit

    out = str(tmp_path / "out")
    sub = pages_df.limit(60).cache()
    first = run_and_commit(spark, sub, out, cfg)
    assert first is not None
    n1 = len(spark.read.parquet(os.path.join(out, "extracted")).toPandas())
    second = run_and_commit(spark, sub, out, cfg)
    assert second is None  # nothing uncommitted
    n2 = len(spark.read.parquet(os.path.join(out, "extracted")).toPandas())
    assert n1 == n2


def test_resume_processes_only_new_rows(spark, pages_df, cfg, tmp_path):
    from document_extractor_spark.checkpoint import run_and_commit

    out = str(tmp_path / "out2")
    base = pages_df.limit(80).cache()
    first_half = base.limit(40)
    run_and_commit(spark, first_half, out, cfg)
    manifest1 = spark.read.parquet(os.path.join(out, "_manifest")).count()
    run_and_commit(spark, base, out, cfg)
    manifest2 = spark.read.parquet(os.path.join(out, "_manifest")).count()
    assert manifest1 == 40
    assert manifest2 == 80


@pytest.mark.parametrize("status", ["OK", "ERROR"])
def test_reliability_bounds(extraction, status):
    ext = extraction["extracted"]
    sub = ext[ext.status == status]
    assert ((sub.reliability >= 0) & (sub.reliability <= 1)).all()


def test_extract_one_debug_path(spark, pages_df, corpus, cfg):
    """§3.2 ad-hoc single-doc entry, incl. stage forcing via cutoffs
    (the analog of PASS_TXT_CUTOFF=2 probe wrappers)."""
    from document_extractor_spark.config import PipelineConfig
    from document_extractor_spark.pipeline import extract_one

    url = corpus.expected[
        corpus.expected.fixture_class == "html_clean"].url.iloc[0]
    got = extract_one(spark, pages_df, url, cfg).toPandas()
    assert len(got) == 1 and got.iloc[0].method == "html_text"

    # force past strict (impossible cutoff) -> lenient accepts
    forced = PipelineConfig(bigdoc_page_limit=6, html_strict_cutoff=2.0)
    got2 = extract_one(spark, pages_df, url, forced).toPandas()
    assert got2.iloc[0].method == "html_lenient"
    assert got2.iloc[0].text == got.iloc[0].text


def test_resume_survives_partial_manifest(spark, pages_df, cfg, tmp_path):
    """A crash during the first manifest write leaves _manifest/ with
    only _temporary/ — resume must treat that as nothing-committed
    instead of crashing forever (review finding)."""
    from document_extractor_spark.checkpoint import run_and_commit

    out = str(tmp_path / "out3")
    os.makedirs(os.path.join(out, "_manifest", "_temporary"))
    sub = pages_df.limit(30).cache()
    result = run_and_commit(spark, sub, out, cfg)
    assert result is not None  # processed despite the debris
    n = spark.read.parquet(os.path.join(out, "_manifest")).count()
    assert n == 30
    # and the second run is a clean noop
    assert run_and_commit(spark, sub, out, cfg) is None


def test_resume_probe_only_swallows_missing_path():
    """A transient manifest-read failure must ABORT resume (re-raise),
    not silently return 'nothing committed' — the latter would make
    run_and_commit re-extract and append the whole input, duplicating
    every output table."""
    from document_extractor_spark.checkpoint import _is_missing_path_error

    assert _is_missing_path_error(
        Exception("[PATH_NOT_FOUND] Path does not exist: /x/_manifest"))
    assert _is_missing_path_error(
        Exception("java.io.FileNotFoundException: /x/_manifest"))
    assert _is_missing_path_error(
        Exception("[UNABLE_TO_INFER_SCHEMA] parquet at /x/_manifest"))
    assert not _is_missing_path_error(
        Exception("503 Slow Down (S3 throttled)"))
    assert not _is_missing_path_error(
        Exception("com.amazonaws.AmazonClientException: Unable to "
                  "execute HTTP request: connect timed out"))


def test_noop_rerun_writes_nothing(spark, pages_df, cfg, tmp_path):
    """A no-op incremental batch (everything committed) performs ZERO
    table writes — a scheduler polling a quiet input must not append
    banner batches per poll."""
    import os as _os

    from document_extractor_spark.checkpoint import run_and_commit

    out = str(tmp_path / "out")
    sub = pages_df.limit(15).cache()
    assert run_and_commit(spark, sub, out, cfg) is not None

    def _snapshot(root):
        files = []
        for d, _, fs in _os.walk(root):
            files += [_os.path.join(d, f) for f in fs]
        return sorted(files)

    before = _snapshot(out)
    assert run_and_commit(spark, sub, out, cfg) is None
    assert _snapshot(out) == before


def test_noise_only_batch_still_commits(spark, pages_df, corpus, cfg,
                                        tmp_path):
    """Noise rows leave no branch rows, yet their batch is not a no-op:
    the urls are committed, so the next run skips them."""
    from document_extractor_spark.checkpoint import run_and_commit

    out = str(tmp_path / "out")
    noise = pages_df.filter(F.col("url").isin(corpus.noise_urls)).cache()
    assert noise.count() > 0
    result = run_and_commit(spark, noise, out, cfg)
    assert result is not None
    result.unpersist()
    assert spark.read.parquet(os.path.join(out, "extracted")).count() == 0
    committed = spark.read.parquet(os.path.join(out, "_manifest"))
    assert sorted(r.url for r in committed.collect()) == sorted(
        corpus.noise_urls)
    assert run_and_commit(spark, noise, out, cfg) is None


def test_corrupt_manifest_aborts_and_writes_nothing(spark, pages_df, cfg,
                                                   tmp_path):
    """A manifest file that exists but cannot be read is not 'nothing
    committed': the batch raises before any table write."""
    from document_extractor_spark.checkpoint import run_and_commit

    out = str(tmp_path / "out")
    sub = pages_df.limit(10).cache()
    assert run_and_commit(spark, sub.limit(5), out, cfg) is not None
    with open(os.path.join(out, "_manifest", "part-corrupt.parquet"),
              "wb") as f:
        f.write(b"PAR1" + b"\0" * 64 + b"PAR1")

    def _snapshot(root):
        return sorted((os.path.join(d, f), os.path.getsize(
            os.path.join(d, f))) for d, _, fs in os.walk(root) for f in fs)

    before = _snapshot(out)
    with pytest.raises(Exception, match="part-corrupt"):
        run_and_commit(spark, sub, out, cfg)
    assert _snapshot(out) == before


def test_commit_jobs_keep_callers_job_group(spark, pages_df, cfg, tmp_path):
    """Every job of one run_and_commit, the threaded sink writes
    included, runs under the caller's job group."""
    from document_extractor_spark.checkpoint import run_and_commit

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sub = pages_df.limit(12).cache()
    sub.count()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("commit-group", "run_and_commit under a job group")
    try:
        res = run_and_commit(spark, sub, str(tmp_path / "out"), cfg)
        res.unpersist()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(tracker.getJobIdsForGroup(None)) == before
    # the three data sinks, the manifest and job_params at least
    assert len(tracker.getJobIdsForGroup("commit-group")) >= 5


def test_office_salvage_env_bool(monkeypatch):
    from document_extractor_spark.config import PipelineConfig

    for raw, want in [("false", False), ("0", False), ("no", False),
                      ("off", False), ("true", True), ("1", True),
                      ("garbage", True)]:
        monkeypatch.setenv("OFFICE_SALVAGE", raw)
        assert PipelineConfig().office_salvage is want, raw
