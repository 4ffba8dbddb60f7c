"""Per-format kernel counts reconcile with sniff counts and with the
rows the pipeline's explode makes of the kernel output."""
import pandas as pd

from perfbench import gen
from perfbench.workloads import kernel_format, kernel_layer


def test_kernel_counts_reconcile(tmp_path):
    from document_extractor_spark.config import PipelineConfig
    from document_extractor_spark.operators.extract_branches import (
        make_extract_any, sniff_bytes)

    d, meta = gen.build(str(tmp_path), "crawl_commit", 5, 400)
    pages = pd.read_parquet(f"{d}/input")
    pages["fmt"] = [sniff_bytes(h, t) for h, t in zip(pages.html, pages.text)]
    cfg = PipelineConfig(bigdoc_page_limit=6, workdir_free_bytes=1 << 62)
    m = kernel_layer(make_extract_any(cfg), pages)

    assert m["kernel.docs"] == len(pages)
    want = pages.apply(lambda r: kernel_format(r.fmt, r.html), axis=1)
    for fmt, n in want.value_counts().items():
        assert m[f"kernel.{fmt}.docs"] == n
        assert m[f"kernel.{fmt}.docs_per_s"] > 0
    sniffed = pages.fmt.value_counts()
    assert (m["kernel.pdf.docs"] + m["kernel.container.docs"]
            == sniffed["pdf"])
    assert m["kernel.txt.docs"] == sniffed["txt"] + sniffed.get("pretext", 0)

    # every golden row is one extracted row; every quarantined doc of a
    # kernel format is one ERROR row; unsupported and noise make none
    expected = pd.read_parquet(f"{d}/expected.parquet")
    quarantine = pd.read_parquet(f"{d}/expected_quarantine.parquet")
    fmt = dict(zip(pages.url, pages.fmt))
    error_rows = sum(fmt[u] != "unsupported" for u in quarantine.url)
    assert m["kernel.rows_out"] == len(expected) + error_rows
