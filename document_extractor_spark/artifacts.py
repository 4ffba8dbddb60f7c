"""Run-level artifact rendering (reference output sinks S5-S7).

The reference materializes three things per run (output_writer.py):
a CSV index row per doc, a per-doc rendered .txt, and size-bounded
combined chunk files. Here they are *tables*, not files:

- the extracted table IS the index (S5),
- `rendered_docs` adds the byte-parity rendered text block per doc
  (S6: header + `=== [PAGE n] ===` sections, chunker.render_doc_text),
- `chunked_docs` assigns greedy never-split chunk ids over the
  rendered blocks (S7/A9); `write_chunks` exports real .txt files.

The render is pure JVM Column work (concat/array_join over the page
array) except one Arrow-batched pandas UDF producing Python float
repr for the `# score:` header line — Java's Double.toString diverges
from repr(float) below 1e-3 ("1.0E-4" vs "0.0001"), so that one token
stays Python-side to keep byte parity with render_doc_text.
"""
from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .operators.chunker import DOCUMENT_BREAK, assign_chunks


@pandas_udf("string")
def _py_float_repr(s: pd.Series) -> pd.Series:
    """repr(float) exactly as the reference f-strings its score
    (output_writer.py:147 area); None renders as 'None'."""
    return pd.Series(
        ["None" if pd.isna(v) else str(float(v)) for v in s],
        index=s.index, dtype="object")


def _page_block(pg) -> F.Column:
    """One page section, byte-identical to render_doc_text's
    '\\n'.join(["=== [PAGE n] ===", "", text-if-nonempty, ""])."""
    head = F.concat(
        F.lit("=== [PAGE "), pg["page"].cast("string"), F.lit("] ===\n\n"))
    body = F.when(
        pg["text"].isNotNull() & (pg["text"] != ""),
        F.concat(pg["text"], F.lit("\n"))).otherwise(F.lit(""))
    return F.concat(head, body)


# per-doc render cap: collect_list materializes ALL of a doc's page
# structs in ONE aggregation buffer, so a whale document (the
# reference's 500+-page per-page mode has no upper bound) could blow
# an executor. 2000 pages x ~2 KB page text ~= 4 MB per buffer — well
# inside a 64 MB-per-task budget (SCALE.md §memory-budgets).
RENDER_MAX_PAGES = 2000


def _over_cap_docs(ok: DataFrame, max_pages: int) -> DataFrame:
    """(url, run_id, n_pages) of docs exceeding the render page cap.
    One cheap count shuffle (map-side partial agg of 16-byte rows);
    the result is tiny, so callers broadcast it."""
    return (ok.groupBy("url", "run_id")
            .agg(F.count("*").alias("n_pages"))
            .filter(F.col("n_pages") > max_pages))


def render_quarantine(extracted: DataFrame,
                      max_pages: int = RENDER_MAX_PAGES) -> DataFrame:
    """Docs whose page count exceeds the render cap, as quarantine rows
    (reason render_too_large) — the metrics-visible record of what
    rendered_docs skipped. Union into the pipeline quarantine table or
    count it for the run metrics."""
    ok = extracted.filter(
        (F.col("status") == "OK") & F.col("text").isNotNull())
    return _over_cap_docs(ok, max_pages).select(
        "url", "run_id",
        F.lit("render_too_large").alias("reason"),
        F.concat(F.lit("render_too_large: "),
                 F.col("n_pages").cast("string"),
                 F.lit(f" pages > cap {max_pages}")).alias("note"))


def rendered_docs(extracted: DataFrame,
                  processed_at: str = "1970-01-01T00:00:00Z",
                  max_pages: int | None = RENDER_MAX_PAGES) -> DataFrame:
    """One row per url with the reference-parity rendered text block.

    Per-page rows are regrouped into page order; per-doc rows render
    as a single page 1 (the reference's per-doc mode,
    pass_pdf.py:122-129). `processed_at` is injected (deterministic
    runs; the reference stamps wall-clock, output_writer.py:147 — a
    documented non-determinism exclusion, SURVEY.md §7.3).

    A whole-document row is unavoidable output here (the rendered
    block IS the doc), so the per-url collect_list is inherent; the
    render itself is JVM Column work, not a Python row UDF. What is
    NOT unavoidable is an unbounded aggregation buffer: docs beyond
    `max_pages` are excluded BEFORE the collect_list (broadcast
    anti-join against the tiny over-cap set, so whale pages never
    reach the buffer) and surfaced via render_quarantine with reason
    render_too_large. max_pages=None disables the guard (test scale
    only).
    """
    # OK rows stay in the render even when text is NULL (an image-only
    # page / empty doc): their page struct becomes NULL, collect_list
    # skips NULLs, and the size(pages)==0 branch renders the
    # header-only block — a pre-filter on text would silently remove
    # the whole doc from the rendered output
    ok = extracted.filter(F.col("status") == "OK")
    if max_pages is not None:
        over = _over_cap_docs(ok, max_pages).select("url", "run_id")
        ok = ok.join(F.broadcast(over), ["url", "run_id"], "left_anti")
    paged = ok.select(
        "url", "run_id", "method", "status", "reliability",
        F.when(
            F.col("text").isNotNull(),
            F.struct(
                F.coalesce(F.col("page"), F.lit(1)).alias("page"),
                F.col("text").alias("text"),
            )).alias("pg"),
    )
    grouped = paged.groupBy("url", "run_id", "method", "status").agg(
        F.max("reliability").alias("reliability"),
        F.array_sort(F.collect_list("pg")).alias("pages"),
    )

    url = F.col("url")
    header = F.concat_ws(
        "\n",
        F.concat(F.lit("# original_file: "), url),
        F.concat(F.lit("# original_name: "),
                 F.element_at(F.split(url, "/"), -1)),
        # url.split("://", 1)[-1]: strip everything up to the FIRST ://
        F.concat(F.lit("# relative_path: "),
                 F.regexp_replace(url, "^.*?://", "")),
        F.concat(F.lit("# pages: "), F.size("pages").cast("string")),
        F.lit(f"# processed_at: {processed_at}"),
        F.concat(F.lit("# pass_used: "), F.col("method")),
        F.concat(F.lit("# score: "), _py_float_repr(F.col("reliability"))),
        F.concat(F.lit("# status: "), F.col("status")),
    )
    pages_join = F.array_join(F.transform(F.col("pages"), _page_block), "\n")
    rendered = F.when(
        F.size("pages") == 0, F.concat(header, F.lit("\n\n")),
    ).otherwise(
        F.concat(header, F.lit("\n\n"), pages_join, F.lit("\n")))

    return grouped.select(
        "url", "run_id", "method", "status", "reliability",
        rendered.alias("rendered_text"),
    )


def chunked_docs(rendered: DataFrame, max_bytes: int) -> DataFrame:
    """Greedy never-split chunk assignment over rendered blocks.

    Matches the reference's accounting exactly (output_writer.py:
    95-101, 217-219): the fit test is `on_disk + doc_bytes <=
    max_bytes` with the incoming doc's DOCUMENT BREAK excluded, while
    on-disk size grows by doc_bytes + break after each placement — so
    `doc_bytes` here is the bare rendered block and the break is
    threaded through `break_bytes`.
    """
    sized = rendered.withColumn(
        "doc_bytes", F.octet_length("rendered_text"))
    return assign_chunks(sized, max_bytes=max_bytes,
                         run_col="run_id", order_col="url",
                         size_col="doc_bytes",
                         break_bytes=len(DOCUMENT_BREAK.encode("utf-8")))


def write_chunks(chunked: DataFrame, out_dir: str) -> None:
    """S7 tail: export real combined chunk files, one text file per
    (run_id, chunk_id), docs separated by the reference's DOCUMENT
    BREAK (output_writer.py:217-219). `partitionBy` keeps the write
    fully distributed; each chunk is ≤ max_bytes + one trailing break
    unless it holds a single oversized doc (output_writer.py:99-101).
    """
    blocks = chunked.select(
        "run_id", "chunk_id",
        F.struct(F.col("url"),
                 F.concat(F.col("rendered_text"), F.lit(DOCUMENT_BREAK))
                 .alias("blk")).alias("s"))
    per_chunk = (
        blocks.groupBy("run_id", "chunk_id")
        .agg(F.array_join(
            F.transform(F.array_sort(F.collect_list("s")), lambda s: s["blk"]),
            "").alias("value"))
        # the text sink appends one '\n' per row; drop the chunk's final
        # '\n' so the written file is byte-identical to the reference's
        # append loop (every block already ends with the break's '\n\n')
        .withColumn("value", F.expr(
            "substring(value, 1, length(value) - 1)"))
    )
    (per_chunk
     .repartition("run_id", "chunk_id")
     .write.mode("overwrite")
     .partitionBy("run_id", "chunk_id")
     .text(out_dir))


# ---------------------------------------------------------------------------
# JSONL training-shard export (the modern training-corpus sink shape:
# fixed shard count, one .jsonl file per shard, standards-compliant
# JSON lines — what tokenizer/training jobs downstream consume)
# ---------------------------------------------------------------------------
def md5_shard(key, n_shards: int) -> F.Column:
    """The canonical shard expression: first 16 md5 bits of the key,
    mod n_shards — the one lattice every shard assignment in this
    repo uses (jsonl_shard_lines derives the same value from its
    single hash evaluation)."""
    k = F.col(key) if isinstance(key, str) else key
    return (F.conv(F.substring(F.md5(k.cast("string")), 1, 4), 16, 10)
            .cast("long") % n_shards).cast("int")


def jsonl_shard_lines(
    docs: DataFrame,
    key_col: str = "doc_id",
    cols: list[str] | None = None,
    n_shards: int = 16,
    with_sort_key: bool = False,
) -> DataFrame:
    """Assign every doc a deterministic shard and render its JSONL
    line: `(shard int, <key_col>, line string[, hk string])`.

    - shard = first 16 md5 bits of the key, mod n_shards — content-
      independent, uniform, and reproducible by any engine (the
      driver oracle recomputes it in SQL via ('0x'||hex)::BIGINT).
      Never hash text for sharding: re-extraction that changes one
      byte would migrate the doc across shards and break resume.
    - line = Spark's native `to_json` over the selected columns in
      the given order, with ignoreNullFields=false so a NULL field
      renders as `"field":null` — required both for byte-identity
      with DuckDB's to_json (verified incl. \\u-escaped control
      chars) and for schema-stable lines downstream (the default
      silently DROPS null fields per row).
    - `with_sort_key` also emits the full md5 (the writer's
      within-shard sort key) so shard and sort key come from one
      hash evaluation.

    Scale: one narrow projection, no shuffle here; the writer decides
    the shuffle (exactly one, on `shard`).
    """
    cols = cols or [c for c in docs.columns]
    hk = F.md5(F.col(key_col).cast("string"))
    shard = (F.conv(F.substring(hk, 1, 4), 16, 10)
             .cast("long") % n_shards).cast("int")
    out = [
        shard.alias("shard"),
        F.col(key_col),
        F.to_json(F.struct(*[F.col(c) for c in cols]),
                  {"ignoreNullFields": "false"}).alias("line"),
    ]
    if with_sort_key:
        out.append(hk.alias("hk"))
    return docs.select(*out)


def write_jsonl_shards(
    docs: DataFrame,
    out_dir: str,
    key_col: str = "doc_id",
    cols: list[str] | None = None,
    n_shards: int = 16,
) -> DataFrame:
    """Write `out_dir/shard=K/part-*.txt` JSONL shard files and
    return a small manifest DataFrame `(shard, n_lines, n_bytes)`.

    One shuffle total (`repartition(shard)`), lines sorted within a
    shard by the md5 walk order of the key so output bytes are
    deterministic regardless of input partitioning. At 100 TB,
    n_shards is sized so a shard fits a downstream reader
    (corpus_bytes / n_shards ≈ 1-4 GB); the manifest is the
    byte-accounting a training job's data loader needs up front.
    """
    lines = jsonl_shard_lines(
        docs, key_col, cols, n_shards, with_sort_key=True).persist()
    try:
        # "line" as the final tiebreak: duplicate keys (e.g. per-PAGE
        # rows sharing a url) have identical hk, and without a total
        # order the within-shard byte layout would depend on input
        # partitioning — breaking this function's determinism contract
        (lines.repartition(n_shards, "shard")
         .sortWithinPartitions("shard", "hk", "line")
         .select("shard", F.col("line").alias("value"))
         .write.mode("overwrite").partitionBy("shard").text(out_dir))
        manifest = (
            lines.groupBy("shard")
            .agg(F.count("*").alias("n_lines"),
                 # +1 per line: the text sink's trailing '\n'
                 (F.sum(F.octet_length("line")) + F.count("*"))
                 .alias("n_bytes"))
            .collect())
    finally:
        lines.unpersist()
    # n_shards rows, materialized — the caller gets a driver-local
    # DataFrame and the corpus lineage is scanned exactly once
    return docs.sparkSession.createDataFrame(
        manifest, "shard int, n_lines long, n_bytes long")


# ---------------------------------------------------------------------------
# S5/R7 (r5): the reference's CSV index sink, byte-faithful.  One CSV
# row per extracted page row with the reference writer's exact column
# set and QUOTE_ALL quoting (common.py:140-155: ["filename", "page",
# "text", "method", "used_ocr", "reliability"], csv.QUOTE_ALL), text
# cleaned by the R7 clean_text projection (common_pdf.sh:37).  Built
# entirely from JVM string expressions — zero shuffles.
# ---------------------------------------------------------------------------


def csv_index_lines(extracted: DataFrame) -> DataFrame:
    """`(url, run_id, page, csv_line)` — the rendered QUOTE_ALL CSV
    index row per extracted page row.

    Cell rendering pinned to the reference writer's Python csv module
    semantics (common.py:147 csv.QUOTE_ALL):
    - filename: last url path segment (the reference uses the file
      basename, process_run.py naming);
    - page: empty cell for a per-doc row (csv.writer renders None as
      ''), else the integer;
    - text: csv_safe_text (R7) — CR stripped, LF -> literal '\\n',
      '"' doubled — so the cell is newline-free like the reference's
      shell-cleaned rows;
    - used_ocr: 'True'/'False' (str(bool)); our used_fallback is the
      engine's used_ocr analog (SURVEY A-columns);
    - reliability: 4dp fixed-point via `format_number` — Python
      str(float) shortest-repr is engine-unportable, and
      round()-based 4dp formatting diverges between engines on the
      exact binary expansion (Spark HALF_UP vs DuckDB's scaled
      std::round saw 0.8403 vs 0.8404 on 0.84034999…).
      format_number is Java DecimalFormat HALF_EVEN on the exact
      expansion, which equals C printf's correctly-rounded %.4f —
      including on representable dyadic ties (0.03125 -> 0.0312 both
      sides; pinned in tests).
    """
    from .functions.textnorm import csv_safe_text

    filename = F.element_at(F.split(F.col("url"), "/"), -1)
    page_s = F.when(
        F.col("page").isNotNull(),
        F.col("page").cast("long").cast("string")).otherwise(F.lit(""))
    rel_s = F.format_number(F.col("reliability"), 4)
    used = F.when(F.col("used_fallback"), F.lit("True")).otherwise(
        F.lit("False"))
    text = csv_safe_text(F.coalesce(F.col("text"), F.lit("")))

    def _q(c):
        return F.concat(F.lit('"'), c, F.lit('"'))

    # concat, not concat_ws: concat_ws silently DROPS a NULL cell,
    # shifting the remaining columns into a malformed 5-cell line;
    # concat propagates the NULL like the oracle's `||`, so a row
    # with NULL method/reliability yields a NULL line (visible)
    # rather than a corrupted one
    line = F.concat(_q(filename), F.lit(","), _q(page_s), F.lit(","),
                    _q(text), F.lit(","), _q(F.col("method")),
                    F.lit(","), _q(used), F.lit(","), _q(rel_s))
    return extracted.select(
        "url", "run_id", "page", line.alias("csv_line"))


# ---------------------------------------------------------------------------
# S4 (r5): single-file-run naming (reference process_run.py:111-122
# `_is_single_file_run`): a run whose top-level listing holds exactly
# one *processable* file names its output artifact after that file's
# stem; otherwise the run id names it.  Runs here are url hosts (the
# batch analog of a watched drop directory); processable is decided
# by the engine's own magic-byte sniff — the same routing the
# extraction pipeline uses — not by filename extension.
# ---------------------------------------------------------------------------
def single_file_run_names(pages: DataFrame,
                          run_expr: F.Column | None = None) -> DataFrame:
    """`(run, n_processable, output_name)` per run.

    Scale: one groupBy on the run key (map-side partial agg of
    counter rows) — no corpus sort, no window. The stem is carried
    through the aggregation as min(stem), which IS the stem whenever
    n_processable == 1 (the only case it is read)."""
    from .functions.sniff import FMT_NOISE, FMT_UNSUPPORTED, sniff_format

    run = (run_expr if run_expr is not None
           else F.regexp_extract(F.col("url"), "^[a-z]+://([^/]+)", 1))
    fmt = sniff_format(F.col("html"), F.col("text"))
    proc = (pages
            .select(run.alias("run"), F.col("url"), fmt.alias("fmt"))
            .filter(~F.col("fmt").isin(FMT_NOISE, FMT_UNSUPPORTED)))
    stem = F.regexp_replace(
        F.element_at(F.split(F.col("url"), "/"), -1),
        r"\.[A-Za-z0-9]{1,5}$", "")
    agg = proc.groupBy("run").agg(
        F.count("*").alias("n_processable"),
        F.min(stem).alias("_only_stem"))
    return agg.select(
        "run", "n_processable",
        F.when(F.col("n_processable") == 1, F.col("_only_stem"))
        .otherwise(F.col("run")).alias("output_name"))


# ---------------------------------------------------------------------------
# S14b (r5): WET export — Common Crawl's extracted-text distribution
# format (ISO 28500 `conversion` records, one per document). The
# record bytes are built ENTIRELY from JVM string expressions, so the
# export plan is shuffle-free and the driver oracle reproduces every
# byte in SQL.
# ---------------------------------------------------------------------------
def wet_records(
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 16,
) -> DataFrame:
    """`(shard, <key_col>, record string)` — one WET `conversion`
    record per doc.

    Determinism notes (mirrored by the DuckDB twin and
    warc_mini.build_conversion_record):
    - uri/date are synthesized from the key (the documents table
      carries no url/ts; a deployment passes real ones through);
    - the record id hashes `uri \\n date` — newline, NOT the \\x00
      separator response records use, because engine varchars cannot
      hold NUL bytes;
    - Content-Length counts UTF-8 bytes (octet_length, not length).
    """
    key = F.col(key_col).cast("string")
    uri = F.concat(F.lit("https://example.com/doc/"), key)
    date = F.concat(
        F.lit("2026-01-01T00:"),
        F.lpad(F.expr(f"pmod({key_col} div 60, 60)").cast("string"),
               2, "0"),
        F.lit(":"),
        F.lpad(F.pmod(F.col(key_col), 60).cast("string"), 2, "0"),
        F.lit("Z"))
    h = F.md5(F.concat(uri, F.lit("\n"), date))
    rid = F.concat(
        F.lit("<urn:uuid:"), F.substring(h, 1, 8), F.lit("-"),
        F.substring(h, 9, 4), F.lit("-"), F.substring(h, 13, 4),
        F.lit("-"), F.substring(h, 17, 4), F.lit("-"),
        F.substring(h, 21, 12), F.lit(">"))
    body = F.coalesce(F.col(text_col), F.lit(""))
    record = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Record-ID: "),
        rid,
        F.lit("\r\nWARC-Date: "), date,
        F.lit("\r\nWARC-Target-URI: "), uri,
        F.lit("\r\nContent-Type: text/plain\r\nContent-Length: "),
        F.octet_length(body).cast("string"),
        F.lit("\r\n\r\n"), body, F.lit("\r\n\r\n"))
    return docs.select(
        md5_shard(key_col, n_shards).alias("shard"),
        F.col(key_col),
        record.alias("record"))


def write_wet_shards(
    docs: DataFrame,
    out_dir: str,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 16,
) -> DataFrame:
    """Write `out_dir/shard=K/` WET shard files (one record stream
    per shard, gzip left to the filesystem layer) and return the
    `(shard, n_records, n_bytes)` manifest. Same single-shuffle,
    deterministic-byte contract as write_jsonl_shards."""
    recs = wet_records(docs, key_col, text_col, n_shards).withColumn(
        "hk", F.md5(F.col(key_col).cast("string"))).persist()
    try:
        # the text sink appends one '\n' per row: write the record
        # minus its final LF so the sink byte-completes the
        # '\r\n\r\n' terminator — shard files parse as valid WARC
        # (pinned by test_wet) and the byte accounting is unchanged
        (recs.repartition(n_shards, "shard")
         .sortWithinPartitions("shard", "hk", "record")
         .select("shard",
                 F.expr("substring(record, 1, length(record) - 1)")
                 .alias("value"))
         .write.mode("overwrite").partitionBy("shard").text(out_dir))
        # on-disk bytes == record bytes exactly: the sink's +1 LF per
        # row replaces the LF trimmed from each record above
        manifest = (
            recs.groupBy("shard")
            .agg(F.count("*").alias("n_records"),
                 F.sum(F.octet_length("record")).alias("n_bytes"))
            .collect())
    finally:
        recs.unpersist()
    return docs.sparkSession.createDataFrame(
        manifest, "shard int, n_records long, n_bytes long")
