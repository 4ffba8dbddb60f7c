"""spark-submit entry point (north_rule: "run via spark-submit
--py-files on a multi-executor cluster").

Cluster launch:

    python -m document_extractor_spark.package  # builds dist/des.zip
    spark-submit --master <cluster> --py-files dist/des.zip \\
        scripts/submit_main.py \\
        --input  s3://bucket/pages/   --output s3://bucket/extracted/

(spark-submit needs an application FILE, not -m: submit_main.py is a
3-line shim importing cli.main from the shipped zip — smoke-tested
end-to-end with a real spark-submit incl. the idempotent-resume noop.)

Local sandbox:

    python -m document_extractor_spark.cli \\
        --input /tmp/corpus --output /tmp/out --cores 32

The job is one incremental batch with idempotent resume: rerunning
over the same input is a no-op (checkpoint.run_and_commit).
"""
from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession

from .checkpoint import run_and_commit
from .config import PipelineConfig


def _compact_outputs(spark, args) -> dict:
    """Bin-pack the three output tables; a compaction failure must
    not un-commit a committed run, so errors are REPORTED in the
    summary instead of escaping (e.g. a remote --output root without
    an Iceberg catalog). `_manifest` is deliberately excluded: the
    resume protocol reads it first on every run, and shrinking a
    handful of tiny manifest files is not worth putting the
    exactly-once bookkeeping through a directory swap.
    """
    from .io_tables import compact_table

    stats: dict = {}
    for table in ("extracted", "quarantine", "metrics"):
        try:
            st = compact_table(spark, table, args.output,
                               target_bytes=args.compact_target_bytes)
            stats[f"compact_{table}"] = st.get(
                "files_after", st.get("backend"))
        except Exception as exc:  # report, never fail the run
            stats[f"compact_{table}"] = f"error: {exc}"
            break  # same root: further tables would fail identically
    return stats


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="document-extractor-spark")
    ap.add_argument("--input", required=True,
                    help="pages table (parquet dir or file), or a "
                         "directory of .warc/.warc.gz files with "
                         "--input-format warc")
    ap.add_argument("--warc-status", type=int, default=200,
                    help="keep only WARC captures with this HTTP "
                         "status (default 200 so 404/5xx error pages "
                         "never enter the committed corpus); 0 keeps "
                         "every response record")
    ap.add_argument("--input-format", choices=["pages", "warc"],
                    default="pages",
                    help="'pages' = parquet pages table; 'warc' = "
                         "Common-Crawl-style WARC files (each file "
                         "exploded into response records)")
    ap.add_argument("--output", required=True, help="output root")
    ap.add_argument("--run-id", default=f"run-{int(time.time())}")
    ap.add_argument("--cores", type=int, default=0,
                    help="local[N] cores; 0 = use existing/cluster master")
    ap.add_argument("--buckets", type=int, default=0,
                    help="url-hash buckets (0 = auto)")
    ap.add_argument("--export-chunks", metavar="DIR", default=None,
                    help="also export combined chunk .txt files "
                         "(S7 tail: rendered blocks greedily packed, "
                         "one file per chunk of at most env "
                         "MAX_COMBINED_BYTES)")
    ap.add_argument("--compact", action="store_true",
                    help="after committing, bin-pack each output "
                         "table's small files (streaming/incremental "
                         "appends accumulate per-batch files; run "
                         "this in an exclusive maintenance window)")
    ap.add_argument("--compact-target-bytes", type=int,
                    default=128 * 1024 * 1024)
    ap.add_argument("--export-jsonl", metavar="DIR", default=None,
                    help="also export successfully extracted docs as "
                         "JSONL training shards (one dir per md5 "
                         "shard + byte manifest)")
    ap.add_argument("--jsonl-shards", type=int, default=16)
    args = ap.parse_args(argv)

    if args.cores > 0:
        from .session import build_session

        spark = build_session(app_name="des-cli", cores=args.cores)
    else:
        spark = SparkSession.builder.appName("des-cli").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    cfg = PipelineConfig(run_id=args.run_id, url_hash_buckets=args.buckets)
    if args.input_format == "warc":
        from pyspark.sql import functions as F

        from .operators.warc_source import warc_pages

        # one input row per WARC FILE (the crawl parallelism unit);
        # binaryFile scans never split a file, matching WARC framing
        raw = (
            spark.read.format("binaryFile")
            .option(  # anchored: '*.warc*' would ingest in-progress
            # upload temp names (.warc.gz.part/.tmp) once, truncated,
            # and then the renamed final file again as a duplicate —
            # uploaders must rename-into-place with the final suffix
            "pathGlobFilter", "*.{warc,warc.gz}")
            .load(args.input)
            .select(F.xxhash64("path").alias("warc_id"),
                    F.col("content").alias("warc")))
        pages = warc_pages(
            raw, require_status=args.warc_status or None)
    else:
        pages = spark.read.parquet(args.input)
    t0 = time.time()
    result = run_and_commit(spark, pages, args.output, cfg)
    if result is None:
        # the noop path is the NATURAL maintenance trigger: re-running
        # a committed job with --compact must still bin-pack
        summary = {"run_id": args.run_id, "status": "noop",
                   "reason": "all inputs already committed"}
        if args.compact:
            summary.update(_compact_outputs(spark, args))
        print(json.dumps(summary))
        return 0
    if args.export_chunks:
        from .artifacts import chunked_docs, rendered_docs, write_chunks

        rendered = rendered_docs(result.extracted)
        write_chunks(chunked_docs(rendered, cfg.max_combined_bytes),
                     args.export_chunks)
    jsonl_summary = {}
    if args.export_jsonl:
        from pyspark.sql import functions as F

        from .artifacts import write_jsonl_shards

        ok_docs = result.extracted.filter(
            (F.col("status") == "OK") & F.col("text").isNotNull())
        manifest = write_jsonl_shards(
            ok_docs, args.export_jsonl, key_col="url",
            cols=["url", "text", "reliability"],
            n_shards=args.jsonl_shards)
        tot = manifest.groupBy().sum("n_lines", "n_bytes").head()
        jsonl_summary = {"jsonl_lines": tot[0] or 0,
                         "jsonl_bytes": tot[1] or 0}
    met = result.metrics.groupBy().sum(
        "docs_in", "docs_out", "parse_failures", "bytes_extracted"
    ).head()
    # the caller owns run_and_commit's branch cache (CLAUDE.md persist
    # lifecycle): every consumer above is done, release it — a
    # scheduler invoking this path per batch must not accumulate one
    # full-corpus cache per run
    result.unpersist()
    # compaction LAST: every read of this run's results is done, so
    # the directory swap cannot race our own consumers
    compact_stats = _compact_outputs(spark, args) if args.compact else {}
    print(json.dumps({
        "run_id": args.run_id,
        "status": "committed",
        "wall_sec": round(time.time() - t0, 2),
        "docs_in": met[0], "docs_out": met[1],
        "parse_failures": met[2], "bytes_extracted": met[3],
        **jsonl_summary,
        **compact_stats,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
