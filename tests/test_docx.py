"""DOCX branch tests (E8): from-scratch zipfile+XML walk vs the
reference's python-docx semantics (pass_doc.py:51-78, 185-258)."""
import pytest

from document_extractor_spark.config import PipelineConfig
from document_extractor_spark.functions.docx_mini import build_docx, docx_text
from document_extractor_spark.operators.extract_branches import (
    _docx_core,
    sniff_bytes,
)


def test_roundtrip_paragraphs_then_tables():
    """Reference walk order: ALL paragraphs first, then ALL table
    cells — not document order (pass_doc.py:63-76)."""
    paras = ["First paragraph.", "Second paragraph."]
    table = [["r1c1", "r1c2"], ["r2c1", "r2c2"]]
    got = docx_text(build_docx(paras, table))
    assert got == "First paragraph.\nSecond paragraph.\nr1c1\nr1c2\nr2c1\nr2c2"


def test_empty_paragraphs_skipped():
    got = docx_text(build_docx(["alpha", "", "beta"]))
    assert got == "alpha\nbeta"


def test_tab_and_break_runs():
    """w:tab -> \\t and w:br -> \\n inside runs (python-docx
    Run.text mapping)."""
    import io
    import zipfile

    base = build_docx(["placeholder"])
    with zipfile.ZipFile(io.BytesIO(base)) as zf:
        doc = zf.read("word/document.xml").decode()
        ct = zf.read("[Content_Types].xml").decode()
    doc = doc.replace(
        "<w:t xml:space=\"preserve\">placeholder</w:t>",
        "<w:t xml:space=\"preserve\">a</w:t><w:tab/>"
        "<w:t xml:space=\"preserve\">b</w:t><w:br/>"
        "<w:t xml:space=\"preserve\">c</w:t>")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("word/document.xml", doc)
        zf.writestr("[Content_Types].xml", ct)
    assert docx_text(buf.getvalue()) == "a\tb\nc"


def test_docx_core_accept_and_reject():
    cfg = PipelineConfig()
    good = build_docx([
        "The quarterly market report shows strong revenue growth.",
        "Supply chain policy remained stable across the region."])
    row = _docx_core("u", None, "en", good, cfg)
    assert (row["method"], row["status"]) == ("docx_text", "OK")
    assert row["pages"][0][1].startswith("The quarterly")

    # punctuation soup scores below the 0.70 cutoff -> the E10 second
    # chance re-extracts leniently and accepts at cutoff=0.0 with
    # method doc_salvage_text + used_fallback (pass_doc.py:105-186)
    bad = build_docx(["#$%^* ()!@~ ;;;; :::: ,,,, ....", "|? +=-"])
    row = _docx_core("u", None, "en", bad, cfg)
    assert (row["method"], row["status"]) == ("doc_salvage_text", "OK")
    assert row["used_fallback"] is True
    assert row["pages"][0][1] == "#$%^* ()!@~ ;;;; :::: ,,,, ....\n|? +=-"

    # salvage disabled -> the pre-E10 documented drop
    row = _docx_core("u", None, "en", bad,
                     PipelineConfig(office_salvage=False))
    assert (row["method"], row["status"]) == ("docx_text", "ERROR")
    assert "docx_below_cutoff" in row["error"]


def test_docx_core_open_failure():
    """Corrupt zip records doc_extract_error (pass_doc.py:216-230)."""
    row = _docx_core("u", None, "en", b"PK\x03\x04word/document.xml junk",
                     PipelineConfig())
    assert (row["method"], row["status"]) == ("doc_extract_error", "ERROR")
    assert "docx_open_failed" in row["error"]


def test_sniff_routes_docx_vs_plain_zip():
    docx = build_docx(["hello world document"])
    assert sniff_bytes(docx, None) == "docx"
    assert sniff_bytes(b"PK\x03\x04" + bytes(60), None) == "unsupported"
    # marker beyond the 512-byte sniff window stays unsupported
    assert sniff_bytes(b"PK\x03\x04" + bytes(600) + b"word/document.xml",
                       None) == "unsupported"


def test_column_sniff_matches_python_twin(spark):
    """Route parity: the JVM Column sniff and the Python twin must
    agree on docx payloads."""
    from pyspark.sql import functions as F

    from document_extractor_spark.functions.sniff import sniff_format

    payloads = [
        (1, build_docx(["text body here"])),
        (2, b"PK\x03\x04" + bytes(60)),
        (3, b"%PDF-1.4 fake"),
    ]
    df = spark.createDataFrame(payloads, "id long, html binary")
    got = (df.withColumn("fmt", sniff_format(F.col("html"), F.lit(None)))
           .orderBy("id").select("fmt").toPandas().fmt.tolist())
    want = [sniff_bytes(p, None) for _, p in payloads]
    assert got == want == ["docx", "unsupported", "pdf"]


def test_pipeline_stopword_gate_config(spark):
    """MIN_STOPWORD_RATIO wired end-to-end: a keyword-stuffed block
    survives the default config but is stripped when the gate is on."""
    from document_extractor_spark.config import PipelineConfig
    from document_extractor_spark.pipeline import run_extraction

    spam = ("cheap widgets best widgets buy widgets discount widgets "
            "premium widgets widgets sale widgets deal widgets shop")
    content = ("The council published its annual budget report and the "
               "committee will review it during the autumn session.")
    html = (f"<!DOCTYPE html>\n<html><head><title>T</title></head><body>"
            f"<main><p>{content}</p><p>{spam}</p></main>"
            f"</body></html>").encode()
    pages = spark.createDataFrame(
        [("https://x.example.com/spam/1", None, html, None, "en")],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")

    off = run_extraction(spark, pages, PipelineConfig(), persist=False)
    txt_off = off.extracted.select("text").head()[0]
    assert spam in txt_off and content in txt_off

    on = run_extraction(
        spark, pages, PipelineConfig(min_stopword_ratio=0.08),
        persist=False)
    txt_on = on.extracted.select("text").head()[0]
    assert spam not in txt_on and content in txt_on


def test_docx_inside_pdf_container(spark):
    """S9 x E8: a DOCX attachment in a PDF portfolio routes through
    the inline container recursion to the docx branch."""
    from document_extractor_spark.config import PipelineConfig
    from document_extractor_spark.pdf_gen import build_pdf
    from document_extractor_spark.pipeline import run_extraction

    inner = build_docx([
        "The quarterly market report shows strong revenue growth.",
        "Supply chain policy remained stable across the region."])
    payload = build_pdf([["Container manifest page."]],
                        attachments=[("report.docx", inner)])
    pages = spark.createDataFrame(
        [("https://x.example.com/container/9", None, payload, None, "en")],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    res = run_extraction(spark, pages, PipelineConfig(), persist=False)
    ext = res.extracted.drop("spans").toPandas()
    child = ext[ext.url.str.endswith("::report.docx")]
    assert len(child) == 1
    assert child.iloc[0].method == "docx_text"
    assert child.iloc[0].status == "OK"
    assert child.iloc[0].text.startswith("The quarterly market report")


def test_gzip_payload_handling(spark):
    """Gzip-compressed payloads (Common-Crawl reality): decompress and
    re-route; corrupt gzip quarantines; nested gzip quarantines; a
    gzip-wrapped PDF reaches the pdf branch."""
    import gzip as g
    import io

    from document_extractor_spark.config import PipelineConfig
    from document_extractor_spark.pdf_gen import build_pdf
    from document_extractor_spark.pipeline import run_extraction

    def gz(b):
        buf = io.BytesIO()
        with g.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
            f.write(b)
        return buf.getvalue()

    html = (b"<!DOCTYPE html>\n<html><head><title>T</title></head><body>"
            b"<main><p>The council published its annual budget report "
            b"and the committee will review it in the autumn.</p></main>"
            b"</body></html>")
    pdf = build_pdf([[
        "The annual report shows strong revenue growth this quarter.",
        "Supply chain policy remained stable across the whole region.",
        "The committee will review the findings in the autumn session.",
    ]])
    rows = [
        ("u://gz-html", None, gz(html), None, "en"),
        ("u://gz-pdf", None, gz(pdf), None, "en"),
        ("u://gz-corrupt", None, b"\x1f\x8b\x08garbage-not-gzip", None, "en"),
        ("u://gz-nested", None, gz(gz(html)), None, "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    res = run_extraction(spark, pages, PipelineConfig(), persist=False)
    ext = res.extracted.drop("spans").toPandas().set_index("url")
    quar = res.quarantine.toPandas().set_index("url")

    assert ext.loc["u://gz-html"].method == "html_text"
    assert ext.loc["u://gz-html"].status == "OK"
    assert "council published" in ext.loc["u://gz-html"].text
    assert ext.loc["u://gz-pdf"].method == "pdf_text"
    assert ext.loc["u://gz-pdf"].status == "OK"
    assert "gzip_corrupt" in quar.loc["u://gz-corrupt"].reason or \
        "gzip_corrupt" in str(ext.loc["u://gz-corrupt"].error
                              if "u://gz-corrupt" in ext.index else "")
    assert "gzip_nested" in quar.loc["u://gz-nested"].reason or \
        "gzip_nested" in str(ext.loc["u://gz-nested"].error
                             if "u://gz-nested" in ext.index else "")


def test_gzip_child_in_container_extracted(spark):
    """A .gz attachment inside a PDF portfolio is decompressed and
    extracted as its own ``parent::child`` row (the golden corpus has
    no gzip child inside a portfolio, so only this test covers it)."""
    import gzip as g
    import io

    from document_extractor_spark.config import PipelineConfig
    from document_extractor_spark.pdf_gen import build_pdf
    from document_extractor_spark.pipeline import run_extraction

    def gz(b):
        buf = io.BytesIO()
        with g.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
            f.write(b)
        return buf.getvalue()

    child = gz(b"The committee will review the annual budget report "
               b"during the autumn session of the council this year.")
    payload = build_pdf([["Container manifest page."]],
                        attachments=[("notes.txt.gz", child)])
    pages = spark.createDataFrame(
        [("u://gzkid", None, payload, None, "en")],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    res = run_extraction(spark, pages, PipelineConfig(), persist=False)
    ext = res.extracted.drop("spans").toPandas()
    kid = ext[ext.url == "u://gzkid::notes.txt.gz"]
    assert len(kid) == 1, ext.url.tolist()
    assert kid.iloc[0].status == "OK"
    assert "committee" in kid.iloc[0].text


def test_gzip_bomb_and_truncation_bounded(spark):
    """R9 decompression bound: a high-ratio gzip bomb must quarantine
    as gzip_too_large WITHOUT fully inflating in executor memory (the
    zlib max_length cap stops at gzip_max_bytes + 1), and a truncated
    stream — which zlib returns partial output for without raising —
    must quarantine as corrupt, not extract a fragment."""
    import gzip as g
    import io

    from document_extractor_spark.config import PipelineConfig
    from document_extractor_spark.pipeline import run_extraction

    def gz(b):
        buf = io.BytesIO()
        with g.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
            f.write(b)
        return buf.getvalue()

    # ~1000:1 ratio: 1 MiB of zeros-as-text compresses to ~1 KiB
    bomb_inner = b"The report " * (1 << 17)  # ~1.4 MiB
    ok_inner = b"A short stable plaintext line for the extractor."
    full = gz(ok_inner * 20)
    rows = [
        ("u://bomb", None, gz(bomb_inner), None, "en"),
        ("u://trunc", None, full[: len(full) // 2], None, "en"),
        ("u://ok", None, gz(ok_inner), None, "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    cfg = PipelineConfig(gzip_max_bytes=64 * 1024)  # tiny cap for the test
    res = run_extraction(spark, pages, cfg, persist=False)
    quar = res.quarantine.toPandas().set_index("url")
    ext = res.extracted.toPandas().set_index("url")

    assert quar.loc["u://bomb"].reason == "gzip_too_large"
    assert quar.loc["u://trunc"].reason == "gzip_corrupt"
    assert "truncated" in quar.loc["u://trunc"].note
    assert ext.loc["u://ok"].status == "OK"
    assert "short stable plaintext" in ext.loc["u://ok"].text
