"""Per-format extraction cores and the fused Arrow-batched dispatcher.

Every core yields one row of the common intermediate schema
``BRANCH_SCHEMA`` (url, method, status, page structs, spans, doc
reliability, ...) — the reference analog is every pass appending rows
to the same run CSV via output_writer.write_result
(output_writer.py:119-257). ``make_extract_any`` runs them all inside
ONE mapInPandas stage, dispatching per row on the JVM-sniffed fmt.

The HTML core is the strict -> lenient -> raw cascade, short-circuited
per row: the reference's TXT -> OCR-A -> OCR-B escalation
(pass_pdf.py:112-255, SURVEY.md §4) with no stage ever run on a row an
earlier stage accepted.
"""
from __future__ import annotations

from typing import Iterator

import pandas as pd

from ..config import PipelineConfig
from ..functions.pdf_mini import parse_pdf
from ..functions.scoring import (
    exact_median,
    likely_scan_only,
    sample_page_indices,
    score_reliability,
)
from ..functions.doc_mini import DocParseError, doc_text, doc_text_lenient
from ..functions.docx_mini import DOCX_MARKER, docx_text, docx_text_lenient
from ..functions.textnorm import decode_detect, decode_reference
from .html_extract import extract_html, extract_raw

# common intermediate row produced by every branch
BRANCH_SCHEMA = (
    "url string, warc_ts timestamp, lang string, fmt string, "
    "method string, status string, used_fallback boolean, "
    "per_page boolean, n_pages int, "
    "pages array<struct<page:int,text:string,reliability:double>>, "
    "spans array<struct<start:bigint,end:bigint>>, "
    "reliability double, error string"
)

_BRANCH_COLS = [
    "url", "warc_ts", "lang", "fmt", "method", "status", "used_fallback",
    "per_page", "n_pages", "pages", "spans", "reliability", "error",
]


_LOW_DISK_ERROR = "low_disk: workdir free below min before OCR"
_FREE_BYTES_CACHE: int | None = None


def _workdir_free_bytes() -> int:
    """Executor-local free bytes, measured once per worker process
    (reference common.py:123-132 shutil.disk_usage on WORK_DIR).
    Permissive on error — a probe failure must never fail docs."""
    global _FREE_BYTES_CACHE
    if _FREE_BYTES_CACHE is None:
        import shutil
        import tempfile
        try:
            _FREE_BYTES_CACHE = shutil.disk_usage(
                tempfile.gettempdir()).free
        except Exception:
            _FREE_BYTES_CACHE = 1 << 62
    return _FREE_BYTES_CACHE


def _has_workdir_space(cfg: PipelineConfig) -> bool:
    """R6 guard: True when the OCR branch may run. The reference
    fails the FILE before OCR when free < 1 GiB (pass_pdf.py:168-173,
    exit 1 -> mandatory review); here the doc fails to quarantine
    with reason `low_disk` and every cheap branch proceeds — one
    straggling executor disk can't sink the whole job."""
    free = (cfg.workdir_free_bytes if cfg.workdir_free_bytes is not None
            else _workdir_free_bytes())
    return free >= cfg.low_disk_min_bytes


def _row(url, warc_ts, lang, fmt, method, status, used_fallback,
         per_page, n_pages, pages, spans, reliability, error="") -> dict:
    return {
        "url": url, "warc_ts": warc_ts, "lang": lang, "fmt": fmt,
        "method": method, "status": status, "used_fallback": used_fallback,
        "per_page": per_page, "n_pages": n_pages, "pages": pages,
        "spans": spans, "reliability": reliability, "error": error,
    }


def _error_row(url, warc_ts, lang, fmt, method, error) -> dict:
    """A failed doc: no pages, no spans, reliability 0, no fallback."""
    return _row(url, warc_ts, lang, fmt, method, "ERROR", False, False, 0,
                [], [], 0.0, error)


# --------------------------------------------------------------------------
# per-row extraction cores, one per format, called by the fused
# dispatcher below
# --------------------------------------------------------------------------
def _txt_core(url, warc_ts, lang, fmt, html, text) -> dict:
    if fmt == "pretext":
        t = text or ""
    else:
        t = decode_reference(html)
    rel = score_reliability(t)
    has_text = bool(t.strip())
    return _row(
        url, warc_ts, lang, fmt, "txt",
        "OK" if has_text else "ERROR", False,
        False, 1 if has_text else 0,
        [(1, t, rel)] if has_text else [],
        [(0, len(t))] if has_text else [], rel,
        "" if has_text else "empty_text")


def _img_core(url, warc_ts, lang, payload, cfg: PipelineConfig) -> dict:
    """Scanned-image branch (reference pass_img.py:23-84): template
    OCR (A strict -> B best-of-rotations, operators/ocr.py), accept
    the winning pass's text when its reliability clears
    cfg.img_cutoff; used_fallback marks an OCR-B acceptance exactly
    like the HTML lenient fallback does."""
    from .ocr import ocr_page

    if not _has_workdir_space(cfg):  # R6: fail before OCR, not after
        return _error_row(url, warc_ts, lang, "img", "none", _LOW_DISK_ERROR)
    text, method, status = ocr_page(
        bytes(payload) if payload is not None else None)
    if text is None:
        return _error_row(url, warc_ts, lang, "img", "none",
                          "img_parse_failed")
    rel = score_reliability(text)
    fallback = method == "ocr_b"
    if status == "OK" and text.strip() and rel >= cfg.img_cutoff:
        return _row(url, warc_ts, lang, "img", method, "OK", fallback,
                    False, 1, [(1, text, rel)], [(0, len(text))],
                    rel, "")
    reason = ("img_unreadable_cells" if status != "OK"
              else "extract_below_cutoff")
    return _row(url, warc_ts, lang, "img", method, "ERROR", fallback,
                False, 0, [], [], rel, reason)


def _paged(texts: list[str], rels: list[float]) -> tuple[list, list]:
    """Page structs, and each page's (start, end) offsets in the
    "\n"-joined doc text (E12 join contract)."""
    pages = [(i + 1, t, rel) for i, (t, rel) in enumerate(zip(texts, rels))]
    spans, off = [], 0
    for t in texts:
        spans.append((off, off + len(t)))
        off += len(t) + 1  # the joining "\n"
    return pages, spans


def _pdf_core(url, warc_ts, lang, payload, cfg: PipelineConfig,
              doc=None) -> dict:
    # `doc`: an already-parsed PdfDoc (the fused container probe has
    # one in hand) — parsing is the most expensive per-row kernel,
    # never pay it twice for the same payload
    doc = doc if doc is not None else parse_pdf(payload)
    if not doc.ok:
        return _error_row(url, warc_ts, lang, "pdf", "pdf_text",
                          f"pdf_parse_failed: {doc.error}")
    n = doc.n_pages
    per_page = (len(payload) >= cfg.bigdoc_size_limit_bytes
                or n >= cfg.bigdoc_page_limit)  # pass_pdf.py:108-110
    idxs = sample_page_indices(n, target=min(cfg.triage_sample_pages, n))
    samples = [doc.page_texts[i - 1] for i in idxs]
    if likely_scan_only(samples, cfg.triage_min_chars, cfg.triage_rel_cap):
        # scan-only triage hit: page rasters (E3) feed the OCR
        # cascade (reference pass_pdf.py:112-255 TXT->OCR-A->OCR-B);
        # with no rasters the doc fails exactly as before
        if any(img is not None for img in doc.page_images):
            if not _has_workdir_space(cfg):  # R6: fail before OCR
                return _row(url, warc_ts, lang, "pdf", "pdf_text",
                            "ERROR", False, per_page, n, [], [], 0.0,
                            _LOW_DISK_ERROR)
            return _pdf_ocr_cascade(url, warc_ts, lang, doc, cfg)
        return _row(url, warc_ts, lang, "pdf", "pdf_text", "ERROR",
                    False, per_page, n, [], [], 0.0,
                    "pdf_below_cutoff: likely scan-only, no text layer")
    rels = [score_reliability(t) for t in doc.page_texts]
    med = exact_median(rels)
    if med < cfg.pdf_text_cutoff:
        return _row(url, warc_ts, lang, "pdf", "pdf_text", "ERROR",
                    False, per_page, n, [], [], med,
                    f"pdf_below_cutoff: median={med:.4f}")
    pages, spans = _paged(doc.page_texts, rels)
    return _row(url, warc_ts, lang, "pdf", "pdf_text", "OK",
                False, per_page, n, pages, spans, med)


def _pdf_ocr_cascade(url, warc_ts, lang, doc, cfg: PipelineConfig) -> dict:
    """OCR stages of the PDF cascade (reference pass_pdf.py:175-255):
    OCR-A strict over every page raster, accept the DOC when the
    median page reliability clears PASS_OCR_A_CUTOFF (A3 median
    gating, common.py:205-214); else OCR-B best-of-rotations at
    PASS_OCR_B_CUTOFF with used_fallback=True; else ERROR. Once OCR
    is needed the doc is forced per-page (A7, pass_pdf.py:163-166).
    Pages without a raster read as empty text (reliability 0), the
    same contribution a failed tesseract page makes to the median."""
    from .ocr import ocr_bitmap_best, ocr_bitmap_strict

    n = doc.n_pages

    def _accept(texts, method, cutoff, fallback):
        rels = [score_reliability(t) for t in texts]
        med = exact_median(rels)
        if med < cutoff:
            return None, med
        pages, spans = _paged(texts, rels)
        return _row(url, warc_ts, lang, "pdf", method, "OK", fallback,
                    True, n, pages, spans, med), med

    texts_a = [
        (ocr_bitmap_strict(img) if img is not None else None) or ""
        for img in doc.page_images
    ]
    row, med_a = _accept(texts_a, "ocr_a", cfg.pdf_ocr_a_cutoff, False)
    if row is not None:
        return row
    texts_b = [
        (ocr_bitmap_best(img)[0] if img is not None else None) or ""
        for img in doc.page_images
    ]
    row, med_b = _accept(texts_b, "ocr_b", cfg.pdf_ocr_b_cutoff, True)
    if row is not None:
        return row
    return _row(url, warc_ts, lang, "pdf", "ocr_b", "ERROR", True,
                True, n, [], [], med_b,
                f"pdf_below_cutoff: ocr medians a={med_a:.4f} "
                f"b={med_b:.4f}")


def _office_salvage(url, warc_ts, lang, fmt, salvage_text) -> dict | None:
    """E10 second-chance acceptance (reference pass_doc.py:105-186):
    a below-cutoff office doc gets one more extraction and ANY
    non-blank result is accepted (the reference passes cutoff=0.0 to
    the PDF-text rescore).  The reference converts to PDF first
    (doc_to_pdf.py:8-47); with no office converter in an executor the
    lenient re-extract plays that role, so the method is recorded as
    `doc_salvage_text` (the engine's doc_pdf_text analog) with
    used_fallback=True.  Returns None when nothing is recoverable —
    the caller then emits the original below-cutoff ERROR row."""
    if not salvage_text.strip():
        return None
    rel2 = score_reliability(salvage_text)
    return _row(url, warc_ts, lang, fmt, "doc_salvage_text", "OK",
                True, False, 1, [(1, salvage_text, rel2)],
                [(0, len(salvage_text))], rel2)


def _docx_core(url, warc_ts, lang, payload, cfg: PipelineConfig) -> dict:
    """DOCX native text (reference pass_doc.py:185-258): paragraph +
    table-cell walk, reliability gate at PASS_DOCX_CUTOFF, single-page
    doc on accept; open/parse failure records method doc_extract_error
    (pass_doc.py:216-230) and — like the reference, which sys.exits
    before its fallback — gets NO second chance.  Below-cutoff rows
    take the E10 salvage pass (see _office_salvage)."""
    try:
        t = docx_text(payload)
    except Exception as exc:
        return _error_row(url, warc_ts, lang, "docx", "doc_extract_error",
                          f"docx_open_failed: {exc}")
    rel = score_reliability(t)
    if t.strip() and rel >= cfg.docx_cutoff:
        return _row(url, warc_ts, lang, "docx", "docx_text", "OK",
                    False, False, 1, [(1, t, rel)], [(0, len(t))], rel)
    if cfg.office_salvage:
        salvaged = _office_salvage(
            url, warc_ts, lang, "docx", docx_text_lenient(payload))
        if salvaged is not None:
            return salvaged
    return _row(url, warc_ts, lang, "docx", "docx_text", "ERROR",
                False, False, 0, [], [], rel,
                f"docx_below_cutoff: rel={rel:.4f}")


def _doc_core(url, warc_ts, lang, payload, cfg: PipelineConfig) -> dict:
    """Legacy .doc (Word 97-2003 binary) branch — reference
    pass_doc.py:203-258 semantics with a from-scratch parser instead
    of the antiword/catdoc subprocess (pass_doc.py:85-102): method
    doc_text, reliability gate at PASS_DOC_CUTOFF (0.75), failures
    record method doc_extract_error; a CFB that is not Word (.xls,
    .ppt) routes to the unsupported quarantine exactly like the
    reference's extension deny-list (process_run.py:35-37)."""
    try:
        t = doc_text(payload)
    except DocParseError as exc:
        if str(exc).startswith("cfb_not_word"):
            # fmt 'unsupported', NOT 'doc': a deny-listed CFB (.xls,
            # .ppt) must get the same treatment as a deny-listed zip
            # (.xlsx) — quarantine only, never an extracted-table row
            return _error_row(url, warc_ts, lang, "unsupported", "none",
                              "unsupported")
        return _error_row(url, warc_ts, lang, "doc", "doc_extract_error",
                          f"doc_open_failed: {exc}")
    except Exception as exc:
        return _error_row(url, warc_ts, lang, "doc", "doc_extract_error",
                          f"doc_open_failed: {exc}")
    rel = score_reliability(t)
    if t.strip() and rel >= cfg.doc_cutoff:
        return _row(url, warc_ts, lang, "doc", "doc_text", "OK",
                    False, False, 1, [(1, t, rel)], [(0, len(t))], rel)
    if cfg.office_salvage:
        salvaged = _office_salvage(
            url, warc_ts, lang, "doc", doc_text_lenient(payload))
        if salvaged is not None:
            return salvaged
    return _row(url, warc_ts, lang, "doc", "doc_text", "ERROR",
                False, False, 0, [], [], rel,
                f"doc_below_cutoff: rel={rel:.4f}")


def _html_core(url, warc_ts, lang, payload, cfg: PipelineConfig) -> dict:
    """Internal strict -> lenient -> raw cascade (one row, short-
    circuit on first acceptance — the reference's escalation
    semantics, pass_pdf.py:112-255, fused into a single pass).

    The DOM is parsed ONCE (extract_html): a strictly-valid document's
    lenient block sequence is identical to its strict one, so strict
    acceptance only needs the violation flag — this removes the
    strict-then-lenient double parse (~20% of html kernel time on
    noisy corpora; the golden tables pin every row's method).
    """
    source, _charset = decode_detect(payload)
    text, spans, violation = extract_html(
        source, cfg.min_block_chars, cfg.max_link_density,
        cfg.min_stopword_ratio)
    rel = score_reliability(text)
    if text.strip():
        if violation is None and rel >= cfg.html_strict_cutoff:
            return _row(url, warc_ts, lang, "html", "html_text", "OK",
                        False, False, 1, [(1, text, rel)], spans, rel)
        if rel >= cfg.html_lenient_cutoff:
            return _row(url, warc_ts, lang, "html", "html_lenient", "OK",
                        True, False, 1, [(1, text, rel)], spans, rel)
    raw = extract_raw(source)
    raw_rel = score_reliability(raw)
    if raw.strip() and raw_rel >= cfg.html_raw_cutoff:
        return _row(url, warc_ts, lang, "html", "html_raw", "OK",
                    True, False, 1, [(1, raw, raw_rel)], [], raw_rel)
    return _row(url, warc_ts, lang, "html", "html_raw", "ERROR", True,
                False, 0, [], [], raw_rel,
                f"extract_below_cutoff: rel={raw_rel:.4f}")


# --------------------------------------------------------------------------
# fused single-pass dispatcher.
#
# The escalation decision is per-row and data-dependent, so the
# idiomatic-Spark answer is ONE Arrow stage that dispatches on the
# (JVM-computed) fmt column and short-circuits the cascade per row:
# one scan, one Python stage, zero duplicate work. Containers recurse
# inline (depth 1), so child docs never need a second dispatch pass.
# --------------------------------------------------------------------------
def sniff_bytes(html: bytes | None, text: str | None) -> str:
    """Python twin of functions/sniff.sniff_format (same routing)."""
    if html is None:
        return "pretext" if text is not None else "unsupported"
    prefix = html[:512]
    if prefix.startswith(b"RIFF") and prefix[8:12] == b"WAVE":
        return "noise"
    if prefix.startswith(b"\x1f\x8b"):
        return "gzip"
    if prefix.startswith(b"PK\x03\x04"):
        return "docx" if DOCX_MARKER in prefix else "unsupported"
    if prefix.startswith((b"PK\x05\x06", b"PK\x07\x08")):
        return "unsupported"  # zip EOCD/spanned; text starting "PK" is not a zip
    if prefix.startswith(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"):
        return "doc"  # OLE2/CFB container (legacy Word binary)
    if prefix.startswith(b"%PDF-"):
        return "pdf"
    if prefix.startswith(b"\x89PNG\r\n\x1a\n"):
        return "img"  # scanned page -> OCR branch (pass_img route)
    low = prefix.decode("iso-8859-1").lower()
    if ("<!doctype html" in low or "<html" in low
            or ("<head" in low and "<body" in low)):
        return "html"
    if b"\x00" not in prefix:
        return "txt"
    return "unsupported"


def make_extract_any(cfg: PipelineConfig):
    def _dispatch_one(url, warc_ts, lang, fmt, html, text, out: list,
                      allow_container: bool = True) -> None:
        if fmt == "noise":
            return  # deleted on sight (process_run.py:158-164)
        if fmt == "unsupported":
            out.append(_error_row(url, warc_ts, lang, fmt, "none",
                                  "unsupported"))
            return
        if fmt in ("txt", "pretext"):
            out.append(_txt_core(url, warc_ts, lang, fmt, html, text))
            return
        if fmt == "html":
            out.append(_html_core(url, warc_ts, lang, html, cfg))
            return
        if fmt == "docx":
            out.append(_docx_core(url, warc_ts, lang, html, cfg))
            return
        if fmt == "doc":
            out.append(_doc_core(url, warc_ts, lang, html, cfg))
            return
        if fmt == "img":
            out.append(_img_core(url, warc_ts, lang, html, cfg))
            return
        if fmt == "gzip":
            # Common-Crawl payloads are often stored gzip-compressed:
            # decompress BOUNDED and re-dispatch the inner bytes once
            # (a gzip-in-gzip payload quarantines, no unbounded loops).
            # The bound is real: zlib.decompressobj with max_length
            # stops inflating at cfg.gzip_max_bytes + 1 output bytes,
            # so a high-ratio bomb (MBs in, GBs out) costs at most the
            # cap in executor memory before it quarantines. (Trailing
            # concatenated gzip members are ignored — first member
            # only; truncated streams return partial output without an
            # exception, so eof is checked explicitly.)
            import zlib as _zlib

            cap = cfg.gzip_max_bytes
            d = _zlib.decompressobj(wbits=31)
            try:
                inner = d.decompress(html, cap + 1)
            except Exception as exc:
                out.append(_error_row(url, warc_ts, lang, "gzip", "none",
                                      f"gzip_corrupt: {exc}"))
                return
            if len(inner) > cap:
                out.append(_error_row(
                    url, warc_ts, lang, "gzip", "none",
                    f"gzip_too_large: decompressed > {cap} bytes"))
                return
            if not d.eof:
                out.append(_error_row(url, warc_ts, lang, "gzip", "none",
                                      "gzip_corrupt: truncated stream"))
                return
            ifmt = sniff_bytes(inner, None)
            if ifmt == "gzip":
                out.append(_error_row(url, warc_ts, lang, "gzip", "none",
                                      "gzip_nested"))
                return
            _dispatch_one(url, warc_ts, lang, ifmt, inner, None, out,
                          allow_container=allow_container)
            return
        # pdf: container probe first (portfolio_unpack.py semantics)
        probed = None
        if allow_container and html is not None \
                and b"/EmbeddedFile" in html:
            probed = parse_pdf(html)
            if probed.attachments:
                for name, child in probed.attachments:
                    cfmt = sniff_bytes(child, None)
                    _dispatch_one(f"{url}::{name}", warc_ts, lang, cfmt,
                                  child, None, out, allow_container=False)
                return  # parent consumed, never extracted
        out.append(_pdf_core(url, warc_ts, lang, html, cfg, doc=probed))

    def extract_any(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_batch in batches:
            out: list[dict] = []
            for r in pdf_batch.itertuples(index=False):
                _dispatch_one(r.url, r.warc_ts, r.lang, r.fmt, r.html,
                              r.text, out)
            yield pd.DataFrame(out, columns=_BRANCH_COLS)

    return extract_any
