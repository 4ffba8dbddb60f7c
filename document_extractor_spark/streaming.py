"""Structured Streaming surface — the watcher loop, Spark-native.

The reference's ingestion is a poll loop: wait for the input dir to
go quiet (inotify 15 s / sleep 15 s), snapshot entries, process, and
delete-on-success so files are seen once (entrypoint.sh:92-158).

Spark mapping (S1): a file-source `readStream` over the pages
directory (`read_pages_stream`) or over a directory of WARC files
(`read_warc_stream`). New files are discovered per micro-batch; the
streaming checkpoint replaces delete-on-success with exactly-once
file tracking. `run_watcher` drives either source through the batch
pipeline per micro-batch (foreachBatch, all three tables): with
`poll_secs=None` it is one watcher cycle (`Trigger.AvailableNow`:
drain whatever is there now, then stop); with a number it is the
daemon, polling at that cadence (processingTime, the reference's
INPUT_CHECK_INTERVAL, entrypoint.sh:30-31).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .config import PipelineConfig
from .schemas import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    reader = (
        spark.readStream.schema(PAGES_SCHEMA).format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(input_dir)


def _make_batch_writer(output_dir: str, cfg: PipelineConfig):
    """foreachBatch sink: run the SAME batch pipeline per micro-batch
    and append all THREE tables (extracted / quarantine / metrics).
    A sink that wrote only the extracted stream silently vanished
    unsupported rows and never produced metrics — the batch and
    streaming paths must share one accounting model."""
    from .io_tables import write_table
    from .pipeline import run_extraction

    def write_batch(batch_df, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        # persist=True: three sinks consume one result — without the
        # cache the full extraction (the expensive Arrow stage) would
        # recompute once PER SINK, 3x per micro-batch
        res = run_extraction(batch_df.sparkSession, batch_df, cfg,
                             persist=True)
        try:
            # foreachBatch is at-least-once: a crash between the three
            # appends replays the WHOLE batch on restart (the streaming
            # checkpoint commits only after write_batch returns). Each
            # row carries batch_id so readers — or a compaction job on
            # a transactional table — can dedup replays exactly:
            # row_number() over (url, page, batch_id) keeping min.
            # write_table, NOT a raw parquet append: it heals a
            # crashed compaction swap (recover_table) before touching
            # the live directory and routes to the Iceberg catalog
            # when one is configured — the raw writer would recreate a
            # half-swapped dir and the next recover_table call would
            # discard the pre-crash rows (io_tables.py:102-106).
            bid = F.lit(batch_id).alias("batch_id")
            write_table(res.extracted.withColumn("batch_id", bid),
                        "extracted", output_dir)
            write_table(res.quarantine.withColumn("batch_id", bid),
                        "quarantine", output_dir)
            write_table(res.metrics.withColumn("batch_id", bid),
                        "metrics", output_dir)
        finally:
            res.unpersist()

    return write_batch


def run_watcher(
    stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
    poll_secs: float | None = None,
) -> StreamingQuery:
    """Run the full pipeline over `stream` (read_pages_stream or
    read_warc_stream) exactly once per input file: extracted +
    quarantine + metrics land per micro-batch. `poll_secs=None` drains
    the files present now and stops (Trigger.AvailableNow); a number
    polls at that cadence until the query is stopped. Restarting with
    the same checkpoint skips files already committed."""
    trigger = ({"availableNow": True} if poll_secs is None
               else {"processingTime": f"{poll_secs} seconds"})
    return (
        stream.writeStream
        .foreachBatch(_make_batch_writer(output_dir, cfg or PipelineConfig()))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger)
        .start()
    )


def dedup_pages_stream(
    pages_stream: DataFrame,
    watermark: str = "24 hours",
) -> DataFrame:
    """Streaming exact dedup: first-seen wins per content hash.

    The streaming twin of dedup.exact_dedup_groups for a continuous
    crawl: re-fetches of identical payloads inside the watermark
    horizon are dropped by state lookup
    (dropDuplicatesWithinWatermark), so downstream extraction never
    pays for a duplicate. The watermark bounds state: at 10^12 pages
    an unbounded seen-set is impossible, so dedup is exact within the
    horizon and duplicates farther apart than it fall through to the
    batch dedup layer (documented two-tier design — the same split
    CCNet-style pipelines use).

    Key = md5 of the binary payload (null-safe: null html hashes the
    text column instead, covering pretext rows).
    """
    keyed = pages_stream.withColumn(
        "content_hash",
        # a row with neither payload nor text hashes its URL: a shared
        # constant key would collapse ALL such rows onto the first one
        # instead of letting each flow through to quarantine
        F.coalesce(F.md5(F.col("html")),
                   F.md5(F.encode(F.col("text"), "UTF-8")),
                   F.md5(F.encode(F.col("url"), "UTF-8"))),
    ).withColumn(
        # PAGES_SCHEMA.warc_ts is nullable (warc_pages emits NULL for
        # an unparseable WARC-Date) and a watermark silently DESTROYS
        # null-event-time rows — the same silent-collapse failure the
        # hash coalesce above exists to avoid. A dateless capture is
        # treated as arriving "now": never late, still deduped against
        # same-hash rows inside the horizon.
        "_evt_ts", F.coalesce(F.col("warc_ts"), F.current_timestamp()),
    ).withWatermark("_evt_ts", watermark)
    return keyed.dropDuplicatesWithinWatermark(["content_hash"]) \
        .drop("_evt_ts")


# ---------------------------------------------------------------------------
# WARC source: the crawl-facing variant of the S1 loop. The watched
# directory holds raw .warc/.warc.gz files (Common Crawl delivery
# format) instead of a parquet pages table; each micro-batch explodes
# the newly-arrived files' response records into the pages shape for
# run_watcher's three-table sink.
# ---------------------------------------------------------------------------
_BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, "
    "content binary")


def read_warc_stream(spark: SparkSession, warc_dir: str,
                     max_files_per_trigger: int | None = None
                     ) -> DataFrame:
    """Streaming pages DataFrame from a directory of WARC files.

    binaryFile is a valid streaming file source but requires the
    schema to be supplied explicitly (streams cannot infer). One row
    per FILE per micro-batch — the file is the unit of exactly-once
    tracking, matching the reference's per-file accounting
    (entrypoint.sh snapshot loop); maxFilesPerTrigger bounds the
    bytes a micro-batch materializes.
    """
    from .operators.warc_source import warc_pages

    reader = (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_SCHEMA)
        .option(  # anchored: '*.warc*' would ingest in-progress
            # upload temp names (.warc.gz.part/.tmp) once, truncated,
            # and then the renamed final file again as a duplicate —
            # uploaders must rename-into-place with the final suffix
            "pathGlobFilter", "*.{warc,warc.gz}")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(warc_dir).select(
        F.xxhash64("path").alias("warc_id"),
        F.col("content").alias("warc"))
    return warc_pages(raw)
