"""Charset decode tests: reference lossy parity + detected decode."""
from document_extractor_spark.functions.textnorm import (
    decode_detect,
    decode_reference,
)


def test_reference_lossy_decode():
    # parity with open(..., encoding='utf-8', errors='ignore')
    # (reference pass_txt.py:30-31): invalid bytes silently dropped
    assert decode_reference("café".encode("latin-1")) == "caf"
    assert decode_reference("café".encode("utf-8")) == "café"
    assert decode_reference(None) == ""
    # BOM survives as ﻿, exactly like the reference's file read
    assert decode_reference(b"\xef\xbb\xbfhi") == "﻿hi"


def test_detect_bom():
    assert decode_detect(b"\xef\xbb\xbfhello") == ("hello", "utf-8-sig")
    assert decode_detect("hé".encode("utf-16-le").join([b"\xff\xfe", b""])) \
        == ("hé", "utf-16-le")


def test_detect_fallbacks():
    assert decode_detect("café".encode("utf-8")) == ("café", "utf-8")
    assert decode_detect("café".encode("latin-1")) == ("café", "latin-1")
    assert decode_detect(None) == ("", "none")
    # latin-1 is total: arbitrary bytes never raise
    assert decode_detect(bytes(range(128, 256)))[1] == "latin-1"


def test_utf32_boms_detected_before_utf16():
    """ff fe 00 00 is the UTF-32-LE BOM whose prefix matches UTF-16-LE;
    the longer signature must win (review finding)."""
    from document_extractor_spark.functions.textnorm import decode_detect

    text = "héllo world"
    for enc, bom, name in [
        ("utf-32-le", b"\xff\xfe\x00\x00", "utf-32-le"),
        ("utf-32-be", b"\x00\x00\xfe\xff", "utf-32-be"),
        ("utf-16-le", b"\xff\xfe", "utf-16-le"),
        ("utf-16-be", b"\xfe\xff", "utf-16-be"),
    ]:
        payload = bom + text.encode(enc)
        got, charset = decode_detect(payload)
        assert got == text, enc
        assert charset == name


def test_bround_banker_parity_on_exact_tie():
    """5/32 = 0.15625: Python round() (HALF_EVEN, the reference's
    rounding) gives 0.1562 where HALF_UP would give 0.1563."""
    from document_extractor_spark.functions.scoring import (
        score_reliability)

    text = "abcde" + " " * 27  # 5 alnum of 32 chars
    assert len(text) == 32
    assert score_reliability(text) == 0.1562


def test_nfc_parity_with_duckdb(spark):
    """Python unicodedata NFC == DuckDB utf8proc NFC on the hazard
    cases (combining marks, Hangul jamo composition, compatibility
    ligatures that NFC must NOT touch, multi-mark reordering)."""
    import duckdb

    from document_extractor_spark.functions.textnorm import (
        nfc_normalize_col)
    from pyspark.sql import functions as F

    cases = ["é", "Å", "ẛ̣", "q̣̇",
             "ﬁ", "ガ", "ka゙", "é́",
             "각", "Ω", "", "plain ascii",
             None]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i long, t string")
    got = {r.i: r.n for r in df.select(
        "i", nfc_normalize_col(F.col("t")).alias("n")).collect()}
    for i, c in enumerate(cases):
        if c is None:
            assert got[i] is None
            continue
        dk = duckdb.sql("select nfc_normalize(?)",
                        params=[c]).fetchone()[0]
        assert got[i] == dk, (i, c, got[i], dk)
    # ligature U+FB01 is NFC-invariant (it is NFKC that expands it)
    assert got[4] == "ﬁ"
    # jamo sequence composes to one Hangul syllable
    assert got[8] == "각"
