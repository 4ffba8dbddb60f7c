"""Size-bounded chunk assignment (A9) + deterministic text rendering (S6).

Reference: output_writer.py:62-116 greedily appends each document's
rendered block to the highest-numbered `<run>_all_text_NNN.txt` chunk,
starting a new chunk when it would exceed MAX_COMBINED_BYTES
(3,000,000 default); a document is never split, and an oversized
document still lands alone in a fresh chunk (:99-101).

Greedy first-fit-sequential is order-stateful, so it cannot be a pure
window expression: ``floor(cumsum/limit)`` would let a document
straddle the boundary. We express it as ``applyInPandas`` per run
(one sequential scan per group — the group is a *run*, matching the
reference's per-run chunk files; a run's chunk index must be globally
sequential anyway, so this parallelizes across runs, which is the
correct unit at scale).

Rendering: `render_doc_text` reproduces the reference's per-document
.txt block byte-for-byte (output_writer.py:168-193): `# key: value`
header lines, a blank line, then per page `=== [PAGE n] ===`, blank,
text, blank; joined with "\\n" plus a trailing newline.
"""
from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

# the ONE pinned whitespace class (textstats.WS_CLASS) — never a
# local copy, so tokenization cannot desynchronize across operators
from ..functions.textstats import WS_CLASS as _WS_CLASS


def render_doc_text(
    url: str,
    relative_path: str,
    pages: list[tuple[int, str]],
    pass_used: str,
    score: float,
    status: str,
    processed_at: str,
) -> str:
    """Byte-parity render of the reference's per-doc .txt
    (output_writer.py:168-193). `score` is embedded via str(float),
    matching the reference's f-string of a float."""
    lines = [
        f"# original_file: {url}",
        f"# original_name: {url.rsplit('/', 1)[-1]}",
        f"# relative_path: {relative_path}",
        f"# pages: {len(pages)}",
        f"# processed_at: {processed_at}",
        f"# pass_used: {pass_used}",
        f"# score: {score}",
        f"# status: {status}",
        "",
    ]
    for page_num, text in pages:
        lines.append(f"=== [PAGE {page_num}] ===")
        lines.append("")
        if text:
            lines.append(str(text))
        lines.append("")
    return "\n".join(lines) + "\n"


DOCUMENT_BREAK = "----- DOCUMENT BREAK -----\n\n"  # output_writer.py:219


def assign_chunks(
    docs: DataFrame,
    max_bytes: int,
    run_col: str = "run_id",
    order_col: str = "url",
    size_col: str = "doc_bytes",
    break_bytes: int = 0,
) -> DataFrame:
    """Exact greedy never-split chunk ids per run (reference semantics).

    Input needs (run_col, order_col, size_col); output adds `chunk_id`
    (1-based, matching the _001 numbering). `break_bytes` models the
    reference's DOCUMENT BREAK accounting (output_writer.py:95-101,
    217-219): the fit test `on_disk + doc_bytes <= max_bytes` excludes
    the incoming doc's break, but every placed doc grows the file by
    doc_bytes + break_bytes.
    """
    # copy — StructType.add mutates, and docs.schema is a cached object
    schema = StructType(
        list(docs.schema.fields) + [StructField("chunk_id", IntegerType())])

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(drop=True)
        chunk, used = 1, 0
        ids = []
        for size in pdf[size_col]:
            # a null size (upstream extraction gap) arrives as NaN in
            # the pandas group; int(NaN) would fail the whole task —
            # treat it as a zero-byte doc instead of crashing the job
            size = 0 if pd.isna(size) else int(size)
            if used > 0 and used + size > max_bytes:
                chunk += 1
                used = 0
            # an oversized doc lands alone in its fresh chunk
            # (output_writer.py:99-101)
            used += size + break_bytes
            ids.append(chunk)
        pdf["chunk_id"] = pd.Series(ids, dtype="int32")
        return pdf

    return docs.groupBy(run_col).applyInPandas(pack, schema=schema)


def token_windows(
    docs: DataFrame,
    window: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fixed-token-size training-sample windows with overlap.

    The standard LLM-pretraining chunking op: whitespace tokens,
    windows of `window` tokens starting every `stride` tokens (the
    final window may be shorter). All JVM array math — tokens are
    split once per row, window starts come from sequence(), and each
    window is a slice+join; no shuffle at all (embarrassingly
    parallel, survives any scale the scan survives).
    """
    assert stride <= window, "stride > window would leave coverage gaps"
    toks = F.filter(
        F.split(F.col(text_col), _WS_CLASS + "+"),
        lambda t: t != "")
    n = F.size(toks)
    full_starts = F.sequence(
        F.lit(1), F.greatest(n - F.lit(window) + 1, F.lit(1)),
        F.lit(stride))
    # when the last full window stops short of the end, one shorter
    # tail window (start = last + stride) covers the remaining tokens —
    # without it, up to stride-1 tokens per doc silently vanish
    last = F.element_at(full_starts, -1)
    starts = F.when(
        last + F.lit(window) - 1 < n,
        F.concat(full_starts, F.array(last + F.lit(stride))),
    ).otherwise(full_starts)
    wins = F.transform(
        starts,
        lambda s: F.struct(
            s.cast("long").alias("start_tok"),
            F.least(F.lit(window), n - s + 1).cast("long")
            .alias("n_tokens"),
            F.array_join(F.slice(toks, s, window), " ")
            .alias("window_text")))
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.posexplode(wins).alias("win_idx", "w"))
        .filter(F.col("w.n_tokens") > 0)
        .select(
            id_col,
            F.col("win_idx").cast("long").alias("win_idx"),
            F.col("w.start_tok").alias("start_tok"),
            F.col("w.n_tokens").alias("n_tokens"),
            F.col("w.window_text").alias("window_text"))
    )
