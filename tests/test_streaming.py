"""Streaming watcher tests: AvailableNow drain, exactly-once via
checkpoint, late-arriving files picked up by the next cycle, and the
polling daemon (the Spark twin of entrypoint.sh:92-158)."""
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest


def _write_pages(corpus, sl, path):
    sub = corpus.pages.iloc[sl]
    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    pq.write_table(
        pa.Table.from_pandas(sub, schema=schema, preserve_index=False), path)


@pytest.fixture()
def stream_dirs(tmp_path, corpus):
    ind = tmp_path / "in"
    ind.mkdir()
    _write_pages(corpus, slice(0, 40), str(ind / "batch0.parquet"))
    return {
        "in": str(ind),
        "out": str(tmp_path / "out"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _watch(spark, dirs, cfg, poll_secs=None):
    from document_extractor_spark.streaming import (
        read_pages_stream, run_watcher)

    return run_watcher(read_pages_stream(spark, dirs["in"]), dirs["out"],
                       dirs["ckpt"], cfg, poll_secs=poll_secs)


def test_watcher_drains_and_is_exactly_once(spark, corpus, cfg, stream_dirs):
    q = _watch(spark, stream_dirs, cfg)
    q.awaitTermination(120)
    ext_dir = os.path.join(stream_dirs["out"], "extracted")
    n1 = spark.read.parquet(ext_dir).count()
    assert n1 > 0
    # the watcher lands ALL THREE tables, like the batch pipeline
    assert spark.read.parquet(
        os.path.join(stream_dirs["out"], "metrics")).count() > 0
    quar = spark.read.parquet(
        os.path.join(stream_dirs["out"], "quarantine"))
    assert "reason" in quar.columns

    # second cycle with no new files: nothing re-processed
    q2 = _watch(spark, stream_dirs, cfg)
    q2.awaitTermination(120)
    assert spark.read.parquet(ext_dir).count() == n1

    # a late file arrives; next cycle picks up ONLY it
    _write_pages(corpus, slice(40, 60),
                 os.path.join(stream_dirs["in"], "batch1.parquet"))
    q3 = _watch(spark, stream_dirs, cfg)
    q3.awaitTermination(120)
    out = spark.read.parquet(ext_dir).toPandas()
    assert len(out) > n1
    assert out.url.is_unique or out.page.notna().any()  # no dup docs


def test_stream_matches_batch(spark, corpus, cfg, stream_dirs):
    """Streaming extraction output == batch pipeline output."""
    from document_extractor_spark.pipeline import run_extraction

    q = _watch(spark, stream_dirs, cfg)
    q.awaitTermination(120)
    got = (
        spark.read.parquet(os.path.join(stream_dirs["out"], "extracted"))
        .select("url", "page", "method", "status", "text")
        .toPandas().sort_values(["url", "page"]).reset_index(drop=True)
    )
    batch_in = spark.read.parquet(
        os.path.join(stream_dirs["in"], "batch0.parquet"))
    want = (
        run_extraction(spark, batch_in, cfg, persist=False).extracted
        .select("url", "page", "method", "status", "text")
        .toPandas().sort_values(["url", "page"]).reset_index(drop=True)
    )
    assert len(got) == len(want)
    for c in got.columns:
        assert (got[c].fillna("~") == want[c].fillna("~")).all(), c


def test_watcher_daemon_polls_until_stopped(spark, cfg, stream_dirs):
    """poll_secs=N: a processingTime trigger that keeps running until
    stopped; every file present is committed to all three tables."""
    import threading

    q = _watch(spark, stream_dirs, cfg, poll_secs=1)
    # processAllAvailable takes no timeout: a stop after 120 s bounds it
    guard = threading.Timer(120, q.stop)
    guard.start()
    try:
        q.processAllAvailable()
        assert q.isActive  # a daemon, not a one-shot drain
        for table in ("extracted", "quarantine", "metrics"):
            assert os.path.isdir(os.path.join(stream_dirs["out"], table))
        out = spark.read.parquet(
            os.path.join(stream_dirs["out"], "extracted"))
        assert out.select("url").distinct().count() > 0
        assert spark.read.parquet(
            os.path.join(stream_dirs["out"], "metrics")).count() > 0
    finally:
        guard.cancel()
        q.stop()
    assert not q.isActive


def test_streaming_dedup_first_seen_wins(spark, tmp_path):
    """dedup_pages_stream drops within-watermark re-fetches across
    micro-batches; the survivor set equals batch exact dedup."""
    import os
    import time

    from document_extractor_spark.corpus import write_corpus
    from document_extractor_spark.streaming import dedup_pages_stream

    cdir = str(tmp_path / "corpus")
    write_corpus(cdir, 120, seed=11)
    pages = spark.read.parquet(f"{cdir}/pages.parquet")

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    # two micro-batches with overlapping content: batch b re-sends the
    # first 40 rows (same payload bytes) plus 20 new ones
    a = pages.limit(80)
    b = pages.limit(40).unionByName(
        pages.subtract(pages.limit(80)).limit(20))
    a.coalesce(1).write.parquet(f"{in_dir}/a")
    time.sleep(1.1)
    b.coalesce(1).write.parquet(f"{in_dir}/b")

    stream = (
        spark.readStream.schema(pages.schema)
        .option("maxFilesPerTrigger", "1").parquet(in_dir + "/*"))
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (dedup_pages_stream(stream)
         .writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir).toPandas()
    sent = a.unionByName(b).toPandas()
    import hashlib

    def key(r):
        if r.html is not None:
            return hashlib.md5(bytes(r.html)).hexdigest()
        return hashlib.md5(str(r.text).encode()).hexdigest()

    sent["k"] = sent.apply(key, axis=1)
    # exactly one survivor per distinct content hash
    assert len(got) == sent.k.nunique()
    got["k"] = got.content_hash
    assert set(got.k) == set(sent.k)
