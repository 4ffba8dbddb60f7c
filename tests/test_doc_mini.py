"""Legacy .doc (CFB/OLE2 + piece table) extraction tests (E9).

The builder/parser pair is NOT circular the way it matters: the
parser is exercised on structural variants (mini vs regular FAT
streams, single vs split pieces, cp1252 vs UTF-16 pieces, Prc blocks
in front of the Pcdt, truncated files, non-Word CFB), and the
expected text is the ground-truth paragraph list known before either
side runs. Reference behavioral slot: pass_doc.py:85-102 (antiword/
catdoc) with the dispatch/cutoff/error contract of
pass_doc.py:203-258.
"""
import pytest

from document_extractor_spark.functions.doc_mini import (
    DocParseError,
    _build_cfb,
    _cfb_streams,
    build_doc,
    doc_text,
)

PARAS = [
    "The council published its annual budget report.",
    "Revenue growth remained stable across the region.",
    "The committee will review the findings in autumn.",
]


def test_roundtrip_single_piece():
    assert doc_text(build_doc(PARAS)) == "\n".join(PARAS)


def test_roundtrip_split_pieces():
    assert doc_text(build_doc(PARAS, split_pieces=True)) == "\n".join(PARAS)


def test_unicode_forces_utf16_piece_and_roundtrips():
    paras = ["Çok güzel bir rapor — Ξανά", "İkinci paragraf: 日本語"]
    assert doc_text(build_doc(paras, split_pieces=True)) == "\n".join(paras)


def test_builder_is_deterministic():
    assert build_doc(PARAS) == build_doc(PARAS)


def test_big_stream_uses_regular_fat():
    """>= 4096-byte WordDocument stream exercises the regular-FAT
    read path (small fixtures go through the mini stream)."""
    text = "word " * 2000
    payload = build_doc([text])
    streams = _cfb_streams(payload)
    assert len(streams["WordDocument"]) >= 4096
    assert doc_text(payload) == text


def test_mini_stream_layout():
    """Small streams live in the mini stream (64-byte chunks via
    miniFAT), the spec-correct layout for real small .doc files."""
    payload = build_doc(PARAS)
    streams = _cfb_streams(payload)
    assert 0 < len(streams["WordDocument"]) < 4096
    assert 0 < len(streams["0Table"]) < 4096


def test_non_word_cfb_raises_not_word():
    xls = _build_cfb([("Workbook", b"\x09\x08" + bytes(100))])
    with pytest.raises(DocParseError, match="cfb_not_word"):
        doc_text(xls)


@pytest.mark.parametrize("cut", [100, 600, 1200])
def test_truncated_payload_raises(cut):
    with pytest.raises(DocParseError):
        doc_text(build_doc(PARAS)[:cut])


def test_garbage_raises():
    with pytest.raises(DocParseError):
        doc_text(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 100)
    with pytest.raises(DocParseError):
        doc_text(b"not a cfb at all")


def test_control_char_normalization():
    """Cell/row marks, line and page breaks -> newline; field
    instructions dropped, field results kept; optional hyphens
    removed, non-breaking hyphen -> '-'."""
    raw = ("Header\x07Cell\x07" "line\x0bbreak\x0cpage"
           "\x13 HYPERLINK http://x \x14shown\x15 tail"
           "\x1fsoft\x1ehard")
    assert doc_text(build_doc([raw])) == (
        "Header\nCell\nline\nbreak\npage"
        "shown tailsoft-hard")


def test_ccptext_clips_trailing_non_body_pieces():
    """Pieces past ccpText (footnote/header CP space) are excluded:
    simulate by shrinking ccpText in the FIB."""
    import struct

    payload = bytearray(build_doc(PARAS))
    streams = _cfb_streams(bytes(payload))
    word = streams["WordDocument"]
    full = "\r".join(PARAS)
    # ccpText lives at FIB offset 0x4C inside the WordDocument stream;
    # the stream sits in the mini stream, so patch via rebuild
    fib_fixed = bytearray(word)
    struct.pack_into("<I", fib_fixed, 0x4C, len(PARAS[0]))
    patched = _build_cfb([("WordDocument", bytes(fib_fixed)),
                          ("0Table", streams["0Table"])])
    assert doc_text(patched) == PARAS[0]
    assert doc_text(bytes(payload)) == full.replace("\r", "\n")


def test_doc_core_contract(spark):
    """Pipeline-level dispatch: OK extraction with method doc_text,
    truncated -> doc_open_failed quarantine, non-Word CFB ->
    unsupported quarantine (reference pass_doc.py:203-258 /
    process_run.py:35-37)."""
    from document_extractor_spark.config import PipelineConfig
    from document_extractor_spark.pipeline import run_extraction

    good = build_doc(PARAS)
    rows = [
        ("u://doc-ok", None, good, None, "en"),
        ("u://doc-trunc", None, good[:600], None, "en"),
        ("u://doc-xls", None,
         _build_cfb([("Workbook", b"\x09\x08" + bytes(100))]), None, "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    res = run_extraction(spark, pages, PipelineConfig(), persist=False)
    ext = res.extracted.toPandas().set_index("url")
    quar = res.quarantine.toPandas().set_index("url")

    assert ext.loc["u://doc-ok"].method == "doc_text"
    assert ext.loc["u://doc-ok"].status == "OK"
    assert ext.loc["u://doc-ok"].text == "\n".join(PARAS)
    assert quar.loc["u://doc-trunc"].reason == "doc_open_failed"
    assert quar.loc["u://doc-xls"].reason == "unsupported"


def test_doc_salvage_second_chance():
    """E10 (reference pass_doc.py:105-186): a structurally valid .doc
    whose text scores below PASS_DOC_CUTOFF is re-extracted leniently
    and accepted at cutoff=0.0 with method doc_salvage_text."""
    from document_extractor_spark.config import PipelineConfig
    from document_extractor_spark.operators.extract_branches import (
        _doc_core)

    junk = ["#### lot7 @@@@ ref42 ====", "%%%% qty9 ~~~~ id0 ...."]
    payload = build_doc(junk)
    row = _doc_core("u", None, "en", payload, PipelineConfig())
    assert (row["method"], row["status"]) == ("doc_salvage_text", "OK")
    assert row["used_fallback"] is True
    assert row["pages"][0][1] == "\n".join(junk)
    assert row["reliability"] < 0.75
    # disabled -> the pre-E10 drop
    row = _doc_core("u", None, "en", payload,
                    PipelineConfig(office_salvage=False))
    assert (row["method"], row["status"]) == ("doc_text", "ERROR")
    assert "doc_below_cutoff" in row["error"]
    # open failures get NO second chance (the reference exits before
    # its fallback on open errors, pass_doc.py:216-230)
    row = _doc_core("u", None, "en", payload[:600], PipelineConfig())
    assert (row["method"], row["status"]) == ("doc_extract_error", "ERROR")


def test_doc_piece_layouts_extracted(spark):
    """Both piece layouts (single and split) extract to the known
    paragraph text through the pipeline, with method doc_text."""
    from document_extractor_spark.config import PipelineConfig
    from document_extractor_spark.pipeline import run_extraction

    paras = {"u://d%d" % i: [p + f" variant {i}." for p in PARAS]
             for i in range(6)}
    rows = [(url, None, build_doc(ps, split_pieces=bool(i % 2)), None, "en")
            for i, (url, ps) in enumerate(paras.items())]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    got = (run_extraction(spark, pages, PipelineConfig(), persist=False)
           .extracted.select("url", "method", "status", "text").toPandas()
           .set_index("url"))
    assert sorted(got.index) == sorted(paras)
    for url, ps in paras.items():
        assert got.loc[url, "method"] == "doc_text", url
        assert got.loc[url, "status"] == "OK", url
        assert got.loc[url, "text"] == "\n".join(ps), url


def _normalize_ref(raw: str) -> str:
    """The original per-char loop, kept as the parity reference for
    the regex+translate rewrite of doc_mini._normalize."""
    out = []
    in_field_instr = False
    for ch in raw:
        o = ord(ch)
        if o == 0x13:
            in_field_instr = True
        elif o == 0x14:
            in_field_instr = False
        elif o == 0x15:
            in_field_instr = False
        elif in_field_instr:
            continue
        elif ch in ("\r", "\x07", "\x0b", "\x0c"):
            out.append("\n")
        elif o == 0x1E:
            out.append("-")
        elif o == 0x1F:
            continue
        elif o < 0x20 and ch not in ("\t", "\n"):
            continue
        else:
            out.append(ch)
    return "".join(out).rstrip("\n")


def test_normalize_matches_reference_loop():
    import random

    from document_extractor_spark.functions.doc_mini import _normalize

    alphabet = (
        list("abc XYZ\t\n") + ["\r", "\x07", "\x0b", "\x0c", "\x13",
                               "\x14", "\x15", "\x1e", "\x1f", "\x01",
                               "\x7f", "é", "中"])
    rng = random.Random(42)
    cases = ["", "\x13", "\x13abc", "\x13a\x14kept\x15tail",
             "a\x15b\x14c", "\x13\x13nested\x15x"]
    cases += ["".join(rng.choice(alphabet)
                      for _ in range(rng.randrange(0, 80)))
              for _ in range(500)]
    for s in cases:
        assert _normalize(s) == _normalize_ref(s), repr(s)


def test_lenient_extractors_total_on_arbitrary_bytes():
    """The salvage extractors run inside the extraction Arrow kernel:
    one uncaught exception fails the whole task at scale. They must be
    TOTAL over bytes — any input, never raise, always return str."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from document_extractor_spark.functions.doc_mini import (
        doc_text_lenient)
    from document_extractor_spark.functions.docx_mini import (
        docx_text_lenient)

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=4096))
    def run(payload):
        assert isinstance(doc_text_lenient(payload), str)
        assert isinstance(docx_text_lenient(payload), str)

    run()
    # structured prefixes with garbage tails (the adversarial shapes)
    for prefix in (b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1", b"PK\x03\x04",
                   b""):
        for tail in (bytes(600), b"\xff" * 600, b"<w:t>x</w:t>"):
            assert isinstance(doc_text_lenient(prefix + tail), str)
            assert isinstance(docx_text_lenient(prefix + tail), str)
