"""Round-5 run-maintenance surface: the CSV index rows (S5/R7), the
single-file-run naming rule (S4) and the low-disk OCR guard (R6) —
reference process_run.py:111-122, common.py:123-155,
common_pdf.sh:37, pass_pdf.py:168-173."""
from __future__ import annotations

import csv
import io

import duckdb
import pytest
from pyspark.sql import functions as F

from document_extractor_spark.config import PipelineConfig
from document_extractor_spark.functions.textnorm import csv_safe_text


def _art():
    # artifacts.py defines a module-level pandas_udf — import lazily,
    # after the session fixture exists (same seam as test_jsonl_shards)
    from document_extractor_spark import artifacts
    return artifacts


# ---------------------------------------------------------------- R7 ------
def test_csv_safe_text_matches_reference_sed_chain(spark):
    # clean_text() { sed 's/\r//g' | sed ... 's/\n/\\n/g' | sed 's/"/""/g'; }
    cases = [
        ("plain", "plain"),
        ("a\r\nb", "a\\nb"),          # CR stripped, LF escaped
        ('say "hi"', 'say ""hi""'),
        ("multi\nline\ntext", "multi\\nline\\ntext"),
        ("back\\slash", "back\\slash"),  # backslashes untouched
        ("", ""),
    ]
    df = spark.createDataFrame([(i, t) for i, (t, _) in enumerate(cases)],
                               "i int, t string")
    got = {r.i: r.c for r in df.select(
        "i", csv_safe_text(F.col("t")).alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def _extracted_df(spark):
    rows = [
        # url, run_id, page, text, method, used_fallback, reliability, status
        ("https://h/a/doc1", "r1", 1, 'line1\nline2 "q"', "pdf_text",
         False, 0.8403499999999999, "OK"),
        ("https://h/a/doc1", "r1", 2, "p2", "pdf_text", False, 0.5, "OK"),
        ("https://h/a/doc2", "r1", None, "whole doc", "html_text",
         True, 0.03125, "OK"),  # dyadic 4dp tie
        ("https://h/a/doc3", "r1", None, None, "txt", False, 1.0, "ERROR"),
    ]
    return spark.createDataFrame(
        rows, "url string, run_id string, page int, text string, "
              "method string, used_fallback boolean, reliability double, "
              "status string")


def test_csv_index_cells_pinned(spark):
    lines = {(r.url, r.page): r.csv_line
             for r in _art().csv_index_lines(_extracted_df(spark)).collect()}
    # format_number's HALF_EVEN == printf %.4f, incl. the dyadic tie
    assert lines[("https://h/a/doc1", 1)] == (
        '"doc1","1","line1\\nline2 ""q""","pdf_text","False","0.8403"')
    assert lines[("https://h/a/doc2", None)] == (
        '"doc2","","whole doc","html_text","True","0.0312"')
    con = duckdb.connect()
    assert con.execute(
        "select printf('%.4f', 0.8403499999999999), "
        "printf('%.4f', 0.03125)").fetchone() == ("0.8403", "0.0312")


def test_csv_index_lines_roundtrip_via_csv_module(spark):
    """The rendered lines are exactly what the reference's csv writer
    (QUOTE_ALL, CRLF) emits for the cells it parses them back into."""
    ok = _extracted_df(spark).filter(F.col("status") == "OK")
    lines = [r.csv_line for r in
             _art().csv_index_lines(ok).orderBy("url", "page").collect()]
    text = "".join(ln + "\r\n" for ln in lines)
    rows = list(csv.reader(io.StringIO(text)))
    assert len(rows) == 3 and all(len(r) == 6 for r in rows)
    buf = io.StringIO()
    csv.writer(buf, quoting=csv.QUOTE_ALL).writerows(rows)
    assert buf.getvalue() == text
    body = {(r[0], r[1]): r for r in rows}
    r1 = body[("doc1", "1")]
    # the \n -> literal-\n escape inverts to the original text
    assert r1[2].replace("\\n", "\n") == 'line1\nline2 "q"'
    assert body[("doc2", "")][4] == "True"


# ---------------------------------------------------------------- S4 ------
_HTML = b"<!DOCTYPE html><html><body>hello body text</body></html>"
_WAV = b"RIFF\x24\x00\x00\x00WAVEfmt " + bytes(32)
_PDFB = b"%PDF-1.4 broken"
_BIN = b"\x00\x01\x02garbage\x00"


def test_single_file_run_names(spark):
    rows = [
        # one processable + noise + unsupported -> named by stem
        ("https://one.example.com/drop/report-final.pdf", _PDFB, None),
        ("https://one.example.com/drop/song.wav", _WAV, None),
        ("https://one.example.com/drop/blob.bin", _BIN, None),
        # two processable -> named by run
        ("https://two.example.com/drop/a.html", _HTML, None),
        ("https://two.example.com/drop/b.html", _HTML, None),
        # only noise -> run absent from the output
        ("https://none.example.com/drop/x.wav", _WAV, None),
    ]
    pages = spark.createDataFrame(
        rows, "url string, html binary, text string")
    got = {r.run: (r.n_processable, r.output_name)
           for r in _art().single_file_run_names(pages).collect()}
    assert got["one.example.com"] == (1, "report-final")
    assert got["two.example.com"] == (2, "two.example.com")
    assert "none.example.com" not in got


# ---------------------------------------------------------------- R6 ------
@pytest.fixture(scope="module")
def lowdisk_extraction(spark, pages_df):
    from document_extractor_spark.pipeline import run_extraction

    cfg = PipelineConfig(bigdoc_page_limit=6, workdir_free_bytes=0)
    res = run_extraction(spark, pages_df, cfg, persist=False)
    return {
        "extracted": res.extracted.toPandas(),
        "quarantine": res.quarantine.toPandas(),
    }


def test_low_disk_fails_ocr_docs_to_quarantine(lowdisk_extraction):
    q = lowdisk_extraction["quarantine"]
    low = q[q["reason"] == "low_disk"]
    # every img fixture and every scanned pdf (OCR-needing) fails
    assert (low["url"].str.contains("/img_scan/").any())
    assert (low["url"].str.contains("/pdf_scanned/").any())
    # nothing that doesn't need OCR picks up the reason
    assert low["url"].str.split("/").str[3].isin(
        {"img_scan", "pdf_scanned", "pdf_scanonly", "container"}).all()


def test_low_disk_leaves_cheap_branches_untouched(spark, pages_df,
                                                  extraction,
                                                  lowdisk_extraction):
    base = extraction["extracted"]
    low = lowdisk_extraction["extracted"]
    # container fixtures carry scanned-PNG child attachments that
    # route to OCR, so the whole class is OCR-eligible
    ocr_classes = ("img_scan", "pdf_scanned", "container")

    def _cheap(df):
        cls = df["url"].str.split("/").str[3]
        keep = df[~cls.isin(ocr_classes)]
        return (keep.sort_values(["url", "page"])
                [["url", "page", "text", "method", "status"]]
                .reset_index(drop=True))

    import pandas.testing as pdt
    pdt.assert_frame_equal(_cheap(base), _cheap(low))


def test_low_disk_guard_permissive_with_space(spark, pages_df, extraction):
    from document_extractor_spark.pipeline import run_extraction

    cfg = PipelineConfig(bigdoc_page_limit=6,
                         workdir_free_bytes=10 << 30)
    res = run_extraction(spark, pages_df, cfg, persist=False)
    got = (res.extracted.toPandas()
           .sort_values(["url", "page"])[["url", "page", "text", "status"]]
           .reset_index(drop=True))
    base = (extraction["extracted"]
            .sort_values(["url", "page"])[["url", "page", "text", "status"]]
            .reset_index(drop=True))
    import pandas.testing as pdt
    pdt.assert_frame_equal(got, base)
