"""WARC source: from-scratch writer/parser round-trip + Spark explode.

Framing is Content-Length-driven (ISO 28500), so a payload that
contains the literal bytes ``WARC/1.0`` must not desynchronize the
parser; malformed/truncated/bomb inputs degrade to error records,
never exceptions (quarantine posture, process_run.py error branch).
"""
from __future__ import annotations

import gzip

import pytest

from document_extractor_spark.functions.warc_mini import (
    build_response_record,
    build_warc,
    parse_warc,
)
from document_extractor_spark.operators.warc_source import (
    docs_to_warc_blobs,
    warc_pages,
    warc_records,
)

_DATE = "2026-01-01T00:00:00Z"


def _rec(uri: str, payload: bytes, status: int = 200) -> bytes:
    return build_response_record(uri, _DATE, payload, http_status=status)


class TestRoundTrip:
    def test_plain_and_gzip_round_trip(self):
        payloads = [b"hello world", b"", "café résumé".encode()]
        recs = [_rec(f"http://a.example/{i}", p)
                for i, p in enumerate(payloads)]
        for gz in (False, True):
            parsed = parse_warc(build_warc(recs, per_record_gzip=gz))
            assert [r.payload for r in parsed] == payloads
            assert [r.target_uri for r in parsed] == [
                f"http://a.example/{i}" for i in range(3)]
            assert all(r.error is None for r in parsed)
            assert all(r.http_status == 200 for r in parsed)
            assert all(r.warc_date == _DATE for r in parsed)

    def test_payload_containing_warc_magic_does_not_desync(self):
        # Content-Length framing is the only authority: a body that
        # embeds a full fake record must be treated as opaque bytes.
        trap = (b"WARC/1.0\r\nContent-Length: 0\r\n\r\n\r\n\r\n"
                b"HTTP/1.1 200 OK\r\n\r\n")
        recs = [_rec("http://a.example/trap", trap),
                _rec("http://a.example/after", b"ok")]
        parsed = parse_warc(build_warc(recs, per_record_gzip=False))
        assert len(parsed) == 2
        assert parsed[0].payload == trap
        assert parsed[1].payload == b"ok"

    def test_http_status_and_content_type_parsed(self):
        r = build_response_record(
            "http://a.example/x", _DATE, b"gone", http_status=404,
            http_content_type="text/plain; charset=utf-8")
        parsed = parse_warc(r)
        assert parsed[0].http_status == 404
        assert parsed[0].http_content_type == "text/plain; charset=utf-8"
        assert parsed[0].warc_type == "response"
        assert parsed[0].record_id.startswith("<urn:uuid:")

    def test_header_names_case_insensitive(self):
        raw = _rec("http://a.example/x", b"p")
        mangled = raw.replace(b"WARC-Target-URI:", b"warc-target-uri:")
        assert parse_warc(mangled)[0].target_uri == "http://a.example/x"

    def test_deterministic_bytes(self):
        recs = [_rec("http://a.example/0", b"p")]
        assert build_warc(recs) == build_warc(recs)  # gzip mtime=0


class TestMalformed:
    def test_truncated_tail_keeps_prefix(self):
        recs = [_rec("http://a.example/0", b"first"),
                _rec("http://a.example/1", b"second")]
        blob = build_warc(recs, per_record_gzip=False)
        parsed = parse_warc(blob[:-20])  # cut into record 2's body
        assert parsed[0].payload == b"first"
        assert parsed[-1].error == "warc_truncated"

    def test_bad_version_line(self):
        parsed = parse_warc(b"NOPE/9.9\r\nContent-Length: 0\r\n\r\n")
        assert parsed[0].error == "warc_bad_header"

    def test_bad_content_length(self):
        parsed = parse_warc(
            b"WARC/1.0\r\nContent-Length: banana\r\n\r\n")
        assert parsed[0].error == "warc_bad_length"

    def test_gzip_bomb_bounded(self):
        bomb = gzip.compress(b"\x00" * (80 * 1024 * 1024), mtime=0)
        assert len(bomb) < 1024 * 1024  # high ratio going in
        parsed = parse_warc(bomb)
        assert parsed == [type(parsed[0])(error="warc_too_large")] or (
            len(parsed) == 1 and parsed[0].error == "warc_too_large")

    def test_corrupt_gzip_member_keeps_good_prefix(self):
        # the production layout: one member per record; a corrupt
        # middle member must not discard the good records before it
        import gzip as _gzip

        recs = [_rec(f"http://a.example/{i}", f"p{i}".encode())
                for i in range(3)]
        members = [_gzip.compress(r, mtime=0) for r in recs]
        bad = bytearray(members[1])
        bad[12] ^= 0xFF
        parsed = parse_warc(members[0] + bytes(bad) + members[2])
        assert parsed[0].payload == b"p0"
        assert parsed[-1].error == "warc_gzip_corrupt"
        assert len(parsed) == 2  # member 2's boundary is unrecoverable

    def test_truncated_gzip_member(self):
        blob = build_warc([_rec("http://a.example/0", b"p")])
        parsed = parse_warc(blob[:-5])
        assert parsed[-1].error == "warc_gzip_truncated"

    def test_none_and_empty(self):
        assert parse_warc(None) == []
        assert parse_warc(b"") == []


@pytest.mark.usefixtures("spark")
class TestSparkExplode:
    def test_docs_round_trip_through_spark(self, spark):
        docs = spark.createDataFrame(
            [(i, f"document body {i}") for i in range(20)],
            "doc_id long, text string")
        blobs = docs_to_warc_blobs(docs, n_files=4)
        assert blobs.count() == 4
        recs = warc_records(blobs).orderBy("url")
        rows = recs.collect()
        assert len(rows) == 20
        assert all(r.error is None for r in rows)
        by_id = {int(r.url.rsplit("/", 1)[1]): r for r in rows}
        for i in range(20):
            r = by_id[i]
            assert r.payload == f"document body {i}".encode()
            assert r.http_status == (404 if i % 13 == 0 else 200)
            assert r.url == f"http://site{i % 40}.example.com/doc/{i}"
        # rec_idx is the in-file ordinal, dense per warc_id
        import collections
        per_file = collections.defaultdict(list)
        for r in rows:
            per_file[r.warc_id].append(r.rec_idx)
        for idxs in per_file.values():
            assert sorted(idxs) == list(range(len(idxs)))

    def test_warc_pages_shape_and_filtering(self, spark):
        docs = spark.createDataFrame(
            [(0, "keep me")], "doc_id long, text string")
        good = docs_to_warc_blobs(docs, n_files=1)
        bad = spark.createDataFrame(
            [(99, b"WARC/1.0\r\nContent-Length: banana\r\n\r\n")],
            "warc_id long, warc binary")
        pages = warc_pages(good.union(bad))
        rows = pages.collect()
        assert len(rows) == 1  # error record filtered out
        r = rows[0]
        assert r.url == "http://site0.example.com/doc/0"
        assert r.html == b"keep me"
        assert r.text is None and r.lang is None
        assert r.warc_ts.year == 2026
        assert [f.name for f in pages.schema.fields] == [
            "url", "warc_ts", "html", "text", "lang"]


class TestCliWarcEndToEnd:
    def test_warc_input_to_jsonl_shards(self, spark, tmp_path):
        """--input-format warc: real .warc.gz files on disk in,
        extracted table + JSONL training shards out."""
        import glob
        import json
        import os

        from document_extractor_spark.cli import main

        html = (
            "<!DOCTYPE html><html><head><title>T</title></head><body>"
            "<nav><a href='/x'>nav</a></nav>"
            "<main><article><h1>Headline</h1>"
            "<p>The quick market report shows strong growth this "
            "quarter across every region and sector overall.</p>"
            "</article></main>"
            "<footer>Copyright</footer></body></html>"
        ).encode()
        warc_dir = tmp_path / "crawl"
        warc_dir.mkdir()
        for f in range(2):
            recs = [build_response_record(
                f"http://w{f}.example.com/p/{i}", _DATE, html)
                for i in range(3)]
            (warc_dir / f"part-{f}.warc.gz").write_bytes(
                build_warc(recs, per_record_gzip=True))

        out = tmp_path / "out"
        jsonl = tmp_path / "jsonl"
        rc = main([
            "--input", str(warc_dir), "--input-format", "warc",
            "--output", str(out), "--run-id", "warc-e2e",
            "--export-jsonl", str(jsonl), "--jsonl-shards", "2",
        ])
        assert rc == 0
        extracted = spark.read.parquet(str(out / "extracted"))
        ok = extracted.filter("status = 'OK'")
        assert ok.count() == 6
        urls = {r.url for r in ok.select("url").collect()}
        assert "http://w0.example.com/p/0" in urls
        # boilerplate stripped, content kept
        sample = ok.filter("url = 'http://w0.example.com/p/0'") \
            .select("text").head().text
        assert "quick market report" in sample
        assert "nav" not in sample and "Copyright" not in sample
        # jsonl shards exist and hold all 6 docs
        lines = []
        for f in glob.glob(os.path.join(str(jsonl), "shard=*", "part-*")):
            lines += open(f, encoding="utf-8").read().splitlines()
        recs = [json.loads(ln) for ln in lines]
        assert len(recs) == 6
        assert {r["url"] for r in recs} == urls
        assert all("quick market report" in r["text"] for r in recs)


class TestStreamingWarcWatcher:
    def test_warc_watcher_exactly_once_and_late_files(self, spark, tmp_path):
        """AvailableNow drain over a dir of .warc.gz files: first
        cycle extracts the present files, a rerun on the same
        checkpoint is a no-op, a late-arriving file is picked up by
        the next cycle only."""
        import os

        from document_extractor_spark.config import PipelineConfig
        from document_extractor_spark.streaming import (
            read_warc_stream, run_watcher)

        def drain():
            return run_watcher(read_warc_stream(spark, str(wdir)), out,
                               ckpt, cfg)

        html = (
            "<html><body><main><article><h1>H</h1>"
            "<p>Strong growth in the regional market report today "
            "with stable revenue and rising margins overall.</p>"
            "</article></main></body></html>").encode()
        wdir = tmp_path / "crawl"
        wdir.mkdir()
        wdir.joinpath("f0.warc.gz").write_bytes(build_warc(
            [_rec(f"http://s.example.com/a/{i}", html) for i in range(4)]))

        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        cfg = PipelineConfig(run_id="warc-stream")
        q = drain()
        q.awaitTermination(120)
        ext = os.path.join(out, "extracted")
        n1 = spark.read.parquet(ext).count()
        assert n1 == 4

        # rerun, nothing new -> no duplicates (checkpoint tracking)
        q = drain()
        q.awaitTermination(120)
        assert spark.read.parquet(ext).count() == n1

        # late file -> only its records are appended
        wdir.joinpath("f1.warc.gz").write_bytes(build_warc(
            [_rec("http://s.example.com/b/0", html)]))
        q = drain()
        q.awaitTermination(120)
        df = spark.read.parquet(ext)
        assert df.count() == n1 + 1
        assert df.filter("url = 'http://s.example.com/b/0'").count() == 1


class TestFuzz:
    """Property fuzz: the parser never raises, keeps every record
    ahead of a corruption point, and round-trips arbitrary payloads."""

    def test_round_trip_arbitrary_payloads(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=60, deadline=None)
        @given(st.lists(st.binary(max_size=400), min_size=1, max_size=6),
               st.booleans())
        def prop(payloads, gz):
            recs = [_rec(f"http://f.example/{i}", p)
                    for i, p in enumerate(payloads)]
            parsed = parse_warc(build_warc(recs, per_record_gzip=gz))
            assert [r.payload for r in parsed] == payloads
            assert all(r.error is None for r in parsed)

        prop()

    def test_never_raises_on_corruption(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        base = build_warc(
            [_rec(f"http://f.example/{i}", b"x" * i) for i in range(3)],
            per_record_gzip=False)

        @settings(max_examples=120, deadline=None)
        @given(st.integers(0, len(base) - 1), st.integers(0, 255),
               st.integers(0, len(base)))
        def prop(pos, byte, cut):
            blob = bytearray(base)
            blob[pos] = byte
            out = parse_warc(bytes(blob[:cut]))  # corrupt + truncate
            # never raises; at most one trailing error record; every
            # non-error record's payload framing stayed intact
            errs = [r for r in out if r.error is not None]
            assert len(errs) <= 1
            if errs:
                assert out[-1].error is not None

        prop()

    def test_arbitrary_garbage_never_raises(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=120, deadline=None)
        @given(st.binary(max_size=600))
        def prop(blob):
            out = parse_warc(blob)
            assert isinstance(out, list)

        prop()


def test_warc_pages_require_status(spark):
    docs = spark.createDataFrame(
        [(i, f"body {i}") for i in range(15)],
        "doc_id long, text string")
    blobs = docs_to_warc_blobs(docs, n_files=2)
    all_pages = warc_pages(blobs)
    ok_pages = warc_pages(blobs, require_status=200)
    # doc_id 0 and 13 carry status 404 in the fixture construction
    assert all_pages.count() == 15
    assert ok_pages.count() == 13
    kept = {r.url for r in ok_pages.collect()}
    assert "http://site0.example.com/doc/0" not in kept
    assert "http://site13.example.com/doc/13" not in kept


def test_folded_warc_headers_parse():
    """ISO 28500 allows header values to wrap onto continuation lines
    beginning with space/tab; rejecting them aborted every following
    record of an otherwise valid file."""
    from document_extractor_spark.functions.warc_mini import (
        _parse_headers, parse_warc)

    block = (b"WARC/1.0\r\n"
             b"WARC-Type: response\r\n"
             b"WARC-Target-URI: http://example.com/a\r\n"
             b"X-Long: first part\r\n"
             b"  second: part\r\n"          # folded, contains a colon
             b"Content-Length: 2\r\n")
    h = _parse_headers(block)
    assert h is not None
    assert h["x-long"] == "first part second: part"
    assert "second" not in h                # no bogus extra header
    assert h["content-length"] == "2"
    # a fold before any field is malformed
    assert _parse_headers(b"WARC/1.0\r\n  oops\r\n") is None
    # end-to-end: a folded record followed by a normal one: BOTH parse
    folded = (b"WARC/1.0\r\n"
              b"WARC-Type: response\r\n"
              b"WARC-Target-URI: http://example.com/1\r\n"
              b"X-Note: alpha\r\n"
              b"\tbeta\r\n"
              b"Content-Length: 2\r\n"
              b"\r\nXY\r\n\r\n")
    normal = (b"WARC/1.0\r\n"
              b"WARC-Type: response\r\n"
              b"WARC-Target-URI: http://example.com/2\r\n"
              b"Content-Length: 2\r\n"
              b"\r\nZZ\r\n\r\n")
    recs = parse_warc(folded + normal)
    ok = [r for r in recs if r.error is None]
    assert len(ok) == 2
    assert ok[0].headers.get("x-note") == "alpha beta"
    assert [r.target_uri for r in ok] == [
        "http://example.com/1", "http://example.com/2"]
