"""Pipeline configuration.

Mirrors the reference's env-tunable knobs (reference:
entrypoint.sh:30-42, pass_pdf.py:92-96, output_writer.py:72-75) as a
typed dataclass. Defaults follow the reference's *effective* runtime
defaults (entrypoint.sh values, which override the in-code defaults —
see BASELINE.md).
"""
from __future__ import annotations

import os
from dataclasses import dataclass, field


def _env_float(name: str, default: float) -> float:
    try:
        return float(os.getenv(name, str(default)))
    except (TypeError, ValueError):
        return default


def _env_int(name: str, default: int) -> int:
    try:
        return int(os.getenv(name, str(default)))
    except (TypeError, ValueError):
        return default


def _env_bool(name: str, default: bool) -> bool:
    """'0'/'false'/'no'/'off' (any case) disable; '1'/'true'/'yes'/
    'on' enable; anything else keeps the default — a float() parse
    here would silently read OFFICE_SALVAGE=false as enabled."""
    raw = os.getenv(name)
    if raw is None:
        return default
    v = raw.strip().lower()
    if v in ("0", "false", "no", "off"):
        return False
    if v in ("1", "true", "yes", "on"):
        return True
    return default


@dataclass
class PipelineConfig:
    # --- cascade acceptance cutoffs (reference: entrypoint.sh:37-40;
    # pass_pdf.py:92-94). Our HTML cascade occupies the reference's
    # TXT -> OCR-A -> OCR-B slots (SURVEY.md R5/E4).
    pdf_text_cutoff: float = field(
        default_factory=lambda: _env_float("PASS_PDF_TEXT_CUTOFF", 0.75))
    html_strict_cutoff: float = field(
        default_factory=lambda: _env_float("PASS_HTML_STRICT_CUTOFF", 0.75))
    html_lenient_cutoff: float = field(
        default_factory=lambda: _env_float("PASS_HTML_LENIENT_CUTOFF", 0.60))
    html_raw_cutoff: float = field(
        default_factory=lambda: _env_float("PASS_HTML_RAW_CUTOFF", 0.30))
    # reference pass_doc.py:203 PASS_DOCX_CUTOFF (docx is slightly more
    # lenient than .doc by default)
    docx_cutoff: float = field(
        default_factory=lambda: _env_float("PASS_DOCX_CUTOFF", 0.70))
    # reference pass_doc.py:203 / entrypoint.sh:37: legacy .doc cutoff
    doc_cutoff: float = field(
        default_factory=lambda: _env_float("PASS_DOC_CUTOFF", 0.75))
    # scanned-PDF OCR cascade cutoffs (reference entrypoint.sh:37-40;
    # pass_pdf_ocr_a.py:117 cutoff=0.70, pass_pdf_ocr_b.py:128
    # cutoff=0.60; median-gated per doc like the text pass)
    pdf_ocr_a_cutoff: float = field(
        default_factory=lambda: _env_float("PASS_OCR_A_CUTOFF", 0.70))
    pdf_ocr_b_cutoff: float = field(
        default_factory=lambda: _env_float("PASS_OCR_B_CUTOFF", 0.60))
    # image OCR acceptance (reference pass_img.py keeps the best
    # variant and gates on its reliability; OCR-B's 0.55 default,
    # entrypoint.sh:37-40 family)
    img_cutoff: float = field(
        default_factory=lambda: _env_float("PASS_IMG_CUTOFF", 0.55))
    # E10 second chance (reference pass_doc.py:105-186): below-cutoff
    # .doc/.docx rows get a lenient re-extract accepted at cutoff=0.0
    # (method doc_salvage_text — the engine's doc_pdf_text analog)
    office_salvage: bool = field(
        default_factory=lambda: _env_bool("OFFICE_SALVAGE", True))

    # --- scan-only triage (reference: common.py:216-244, 352-371)
    triage_sample_pages: int = 6
    triage_min_chars: int = 40
    triage_rel_cap: float = 0.15

    # --- per-doc / per-page granularity switch (reference:
    # pass_pdf.py:95-96, 108-110; BIGPDF_* env)
    bigdoc_size_limit_bytes: int = field(
        default_factory=lambda: _env_int(
            "BIGDOC_SIZE_LIMIT_BYTES", 50 * 1024 * 1024))
    bigdoc_page_limit: int = field(
        default_factory=lambda: _env_int("BIGDOC_PAGE_LIMIT", 500))

    # --- R6 low-disk guardrail (reference common.py:123-132
    # has_workdir_space; pass_pdf.py:168-173 fails the file with
    # LOW_DISK before OCR when the workdir has <1 GiB free). The
    # Spark analog: before a doc enters an OCR pass, the kernel
    # checks executor-local free space and fails the doc to
    # quarantine (reason low_disk) instead of starting the expensive
    # branch. `workdir_free_bytes` injects a measured value for
    # deterministic tests; None = measure tempfile.gettempdir() once
    # per worker process (shutil.disk_usage, like the reference).
    low_disk_min_bytes: int = field(
        default_factory=lambda: _env_int("LOW_DISK_MIN_BYTES", 1 << 30))
    workdir_free_bytes: int | None = None

    # --- gzip transport decode bound (R9): a high-ratio gzip bomb must
    # quarantine, not inflate fully in executor memory inside the Arrow
    # kernel. 64 MiB decompressed is ~30x the largest real crawl page.
    gzip_max_bytes: int = field(
        default_factory=lambda: _env_int("GZIP_MAX_BYTES", 64 * 1024 * 1024))

    # --- combined-chunk bin packing (reference: output_writer.py:62-116)
    max_combined_bytes: int = field(
        default_factory=lambda: _env_int("MAX_COMBINED_BYTES", 3_000_000))

    # --- HTML block classification (north_star block model)
    min_block_chars: int = 25
    max_link_density: float = 0.35
    # A2 stopword boilerplate gate (common_pdf.sh stopword signal):
    # 0.0 = off (the golden corpus truth is pinned to length+link
    # density); >0 drops long link-light blocks with almost no
    # function words (SEO keyword stuffing) — multilingual union set
    min_stopword_ratio: float = field(
        default_factory=lambda: _env_float("MIN_STOPWORD_RATIO", 0.0))

    # --- partitioning (north_rule: url-hash buckets)
    url_hash_buckets: int = field(
        default_factory=lambda: _env_int("URL_HASH_BUCKETS", 0))  # 0 = leave to AQE

    run_id: str = "run-000"


DEFAULT_CONFIG = PipelineConfig()
