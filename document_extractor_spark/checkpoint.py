"""Idempotent snapshot resume (S10).

The reference achieves idempotency destructively: on success it
deletes the source file so the watcher never re-sees it
(process_run.py:124-128, 194-197). A crash mid-CSV-append leaves
partial rows — nothing guards output_writer.py:230-257.

Spark replacement (north_rule: "resumes idempotently from the last
committed snapshot checkpoint"): outputs append to parquet and a tiny
`_manifest` parquet of committed urls is written LAST (commit point).
On restart, the input is anti-joined against the manifest, so only
never-committed urls are processed; a crash before the manifest write
re-processes that batch (at-least-once into an append dir, dedup on
read via the manifest). On a real deployment this maps 1:1 onto an
Iceberg snapshot commit; the parquet manifest is the sandbox stand-in
(SURVEY.md §4.4).

Scale note: the manifest carries only (url, run_id) — at 10^12 docs it
would itself be big, which is why the production path is an Iceberg
metadata predicate, not a data join. Here the resume anti-join plans as
``BroadcastHashJoin LeftAnti, BuildRight``: the manifest is broadcast
to the pages scan. Once the manifest outgrows
``spark.sql.autoBroadcastJoinThreshold`` it becomes a shuffle join.
"""
from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from .config import PipelineConfig
from .io_tables import LOOKUP, iceberg_catalog, read_table, write_table
from .pipeline import ExtractionResult, run_extraction

MANIFEST_SCHEMA = "url string, run_id string"


def _is_missing_path_error(exc: Exception) -> bool:
    """True only for 'nothing committed yet' shapes: a missing path or
    a dir holding no readable footer (crash during the FIRST manifest
    write leaves only _temporary/). Transient failures (S3 throttle,
    auth, network) must NOT match — swallowing them would silently
    disable resume and the next run_and_commit would re-extract and
    APPEND the whole input again, duplicating every output table."""
    s = str(exc)
    return any(tok in s for tok in (
        "PATH_NOT_FOUND", "FileNotFoundException", "NoSuchFileException",
        "UNABLE_TO_INFER_SCHEMA",  # dir exists but no committed footer
        "Path does not exist", "TABLE_OR_VIEW_NOT_FOUND"))


def committed_urls(spark: SparkSession, out_dir: str,
                   catalog=LOOKUP) -> DataFrame | None:
    """The committed manifest, or None when nothing is committed.

    A read, not an os.path check: out_dir may be a remote fs (hdfs://,
    s3a://) the driver's local os module cannot see. The parquet read
    carries the manifest schema, so it runs no job: a missing path
    fails here, and a dir holding only _temporary/ (a crash during the
    FIRST manifest write) reads as empty. Any other failure (a corrupt
    footer, a flaky store) surfaces in the batch's first job, before
    any write — a flaky read must ABORT, not duplicate output on
    re-run."""
    try:
        return read_table(spark, "_manifest", out_dir, catalog,
                          MANIFEST_SCHEMA)
    except Exception as exc:  # absent = nothing committed
        if _is_missing_path_error(exc):
            return None
        raise


def filter_uncommitted(
    spark: SparkSession, pages: DataFrame, out_dir: str, catalog=LOOKUP
) -> DataFrame:
    """Anti-join input vs the committed manifest (the resume filter)."""
    manifest = committed_urls(spark, out_dir, catalog)
    if manifest is None:
        return pages
    return pages.join(manifest.select("url"), "url", "left_anti")


def run_and_commit(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    cfg: PipelineConfig | None = None,
) -> ExtractionResult | None:
    """One incremental batch: resume-filter -> extract -> append ->
    commit manifest. Returns None when nothing is uncommitted.

    The returned result's branch cache is CALLER-OWNED (the caller
    usually consumes result.extracted further — chunk/JSONL exports);
    call result.unpersist() when done, as cli.main does — a per-batch
    scheduler that never releases it accumulates one full-batch cache
    per poll."""
    from .observability import job_params_table, log_phase

    cfg = cfg or PipelineConfig()
    log_phase("start", run_id=cfg.run_id, out_dir=out_dir)
    catalog = iceberg_catalog(spark)  # one backend lookup per batch
    # persist: the pages scan + manifest anti-join feed both the
    # extraction and the manifest write; uncached, the input would be
    # read twice per incremental batch
    todo = filter_uncommitted(spark, pages, out_dir, catalog).persist()
    result = None
    try:
        result = run_extraction(spark, todo, cfg)
        # ONE action fills both caches (todo under branches). Zero
        # branch rows is a noise-only or an empty batch; only then
        # does the emptiness probe run, over the filled todo cache
        if not result.branches.count() and not todo.take(1):
            # noop stays write-free: a scheduler polling a quiet
            # input must not append a banner batch per poll
            result.unpersist()
            log_phase("noop", run_id=cfg.run_id)
            return None
        # io_tables routes each write to the configured Iceberg catalog
        # (atomic snapshot commits) or to parquet dirs under out_dir
        _write_concurrently(spark, out_dir, catalog, {
            "extracted": result.extracted,
            "quarantine": result.quarantine,
            "metrics": result.metrics,
        })
        # commit point: manifest written last, after all data lands
        write_table(
            todo.select("url").withColumn("run_id", F.lit(cfg.run_id)),
            "_manifest", out_dir, catalog=catalog)
        # O2: the effective-config banner (entrypoint.sh:69-88) —
        # AFTER the manifest commit, so a params row implies the
        # batch it describes actually committed: a mid-run failure
        # before this point leaves no orphan banner, and the retry
        # (which re-runs the whole batch) writes the set exactly
        # once. The narrow crash window between manifest and banner
        # loses only the banner, never data integrity.
        write_table(job_params_table(spark, cfg), "job_params", out_dir,
                    catalog=catalog)
        log_phase("commit", run_id=cfg.run_id)
        return result
    except BaseException:
        if result is not None:  # never handed to the caller
            result.unpersist()
        raise
    finally:
        todo.unpersist()


def _write_concurrently(spark: SparkSession, out_dir: str, catalog,
                        tables: dict[str, DataFrame]) -> None:
    """Append independent tables from one thread each, so their short
    jobs over the filled branch cache share the cores instead of
    queueing. Each thread keeps the caller's local properties (job
    group, scheduler pool). Returns once every write has finished;
    then re-raises the first failure, in ``tables`` order."""
    with ThreadPoolExecutor(len(tables)) as pool:
        # one wrapper per table: each clones the caller's properties,
        # so a thread that relabels its job group touches only its own
        futures = [
            pool.submit(inheritable_thread_target(spark)(write_table),
                        df, name, out_dir, catalog=catalog)
            for name, df in tables.items()]
    for f in futures:
        f.result()
