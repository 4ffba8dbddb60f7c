"""The end-to-end extraction pipeline as one declarative Spark plan.

Dataflow (the Spark re-expression of the reference's watcher ->
process_run -> pass_* -> output_writer DAG, SURVEY.md §3):

    pages ─ sniff fmt (Column expr, codegen)
      ├─ fmt=noise        → dropped silently (process_run.py:158-164)
      ├─ fmt=unsupported  → quarantine (process_run.py:166-171)
      ├─ fmt=pdf          → portfolio children inline → pdf text layer
      ├─ fmt=html         → strict → lenient → raw cascade
      ├─ fmt=txt/pretext  → text branch
      └─ one BRANCH_SCHEMA stream
          ├─ granularity switch: per-doc row (array_join pages, JVM)
          │   or explode to per-page rows (pass_pdf.py:108-110)
          ├─ extracted table (status OK | ERROR)
          ├─ quarantine table (ERROR rows + unsupported)
          └─ metrics per partition (north_rule counters)

Physical plan (run_extraction): ONE Arrow mapInPandas stage dispatches
per row on the JVM-sniffed fmt and short-circuits the cascade
internally; portfolio children are re-dispatched inline (depth 1).
One scan, one Python stage, zero duplicate work — the right shape at
100 TB, where a cascade of separate stages would re-execute upstream
Python stages once per consumer and re-scan the table per branch.

Scale notes (100 TB design):
- Dispatch and the final doc-text join are JVM-side (whole-stage
  codegen); Python runs only inside the Arrow-batched parse stage.
- The branch stream is persisted (MEMORY_AND_DISK) before fan-out to
  the three sinks, so extracted/quarantine/metrics share one pass.
  The persisted stream carries extracted text, never input binaries.
- The only shuffles in the whole job: the optional url-hash
  repartition and the metrics groupBy (one aggregate over the branch
  stream, no join; one row per partition).
- AQE handles post-explode page-row skew from big documents.
"""
from __future__ import annotations

from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import PipelineConfig
from .functions.sniff import (
    FMT_PRETEXT, FMT_TXT, FMT_UNSUPPORTED, sniff_format)
from .schemas import PAGES_COLS as _PAGES_COLS
from .operators.extract_branches import BRANCH_SCHEMA, make_extract_any


@dataclass
class ExtractionResult:
    extracted: DataFrame
    quarantine: DataFrame
    metrics: DataFrame
    # the persisted branch stream the three tables derive from (None
    # when run_extraction(persist=False)): unpersisting the derived
    # DataFrames alone would leak the underlying cache
    branches: DataFrame | None = None

    def unpersist(self) -> None:
        # ONLY the factory-owned branch cache: run_extraction never
        # persists the derived frames, so unpersisting them here would
        # evict a cache the CALLER put on them (CLAUDE.md: never
        # unpersist a caller-owned cache)
        if self.branches is not None:
            try:
                self.branches.unpersist()
            except Exception:
                pass


def bucket_by_url_hash(df: DataFrame, buckets: int) -> DataFrame:
    """Explicit url-hash bucketing (north_rule). xxhash64 is uniform on
    unique urls, so extraction work balances regardless of domain skew;
    the salted path (operators/skew.py) is for keyed aggregations.

    buckets > 0: force that many buckets. buckets == 0 (auto): only
    repartition when the scan yields fewer splits than the cluster has
    cores — a wide input (the 100 TB case: thousands of parquet row
    groups) is left alone, because reshuffling raw binary payloads is
    pure waste; a narrow input (small corpus, one file) must be spread
    or every Arrow stage runs on one core. (A 4-waves-per-core policy
    was trialed against per-doc cost skew — PDFs cost many HTMLs —
    but interleaved A/B on this host showed the extra shuffle is a
    wash at best; at real scale AQE handles the tail.)
    """
    spark = df.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    if buckets == 0:
        if df.rdd.getNumPartitions() >= parallelism:
            return df
        buckets = parallelism * 2
    elif buckets < 0:
        return df
    return df.repartition(buckets, F.pmod(F.xxhash64("url"), F.lit(buckets)))


def pages_repr() -> Column:
    """A7 granularity switch + E12 page-concat as ONE array column:
    per-page rows keep their pages, per-doc rows become a single
    synthetic whole-doc page struct. granularity_project explodes it
    and run_extraction's metrics count and measure it, so the
    granularity semantics live here once."""
    doc_struct = F.struct(
        F.lit(None).cast("int").alias("page"),
        F.when(
            F.size("pages") > 0,
            F.array_join(
                F.transform("pages", lambda p: p["text"]), "\n", ""),
        ).otherwise(F.lit(None)).alias("text"),  # E12 "\n".join contract
        F.col("reliability").alias("reliability"),
    )
    return F.when(F.col("per_page"), F.col("pages")).otherwise(
        F.array(doc_struct))


def granularity_project(branches: DataFrame, run_id: str) -> DataFrame:
    """Explode pages_repr() into extracted rows in ONE pass."""
    return (
        branches.filter(F.col("fmt") != FMT_UNSUPPORTED)
        .select(
            "url", "lang", "fmt", "method", "status", "used_fallback",
            F.col("n_pages").alias("pages"), "spans", "error",
            F.col("reliability").alias("doc_reliability"),
            F.explode_outer(pages_repr()).alias("p"),
        )
        .select(
            "url",
            F.lit(run_id).alias("run_id"),
            "fmt", "method", "status", "used_fallback", "pages",
            F.col("p.page").alias("page"),
            F.col("p.text").alias("text"),
            # per-page row span = that page's offsets in the doc text
            F.when(F.col("p.page").isNotNull(),
                   F.slice(F.col("spans"), F.col("p.page"), 1))
            .otherwise(F.col("spans")).alias("spans"),
            F.coalesce(F.col("p.reliability"), F.col("doc_reliability"))
            .alias("reliability"),
            "error",
        )
    )


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig | None = None,
    persist: bool = True,
) -> ExtractionResult:
    cfg = cfg or PipelineConfig()

    pages = pages.select(*_PAGES_COLS)
    pages = bucket_by_url_hash(pages, cfg.url_hash_buckets)
    branches = pages.withColumn(
        "fmt", sniff_format(F.col("html"), F.col("text"))
    ).mapInPandas(make_extract_any(cfg), schema=BRANCH_SCHEMA)

    if persist:
        branches = branches.persist(StorageLevel.MEMORY_AND_DISK)

    extracted = granularity_project(branches, cfg.run_id)

    # --- quarantine (S8/R3): parse/gate failures + unsupported --------------
    quarantine = (
        branches.filter(
            (F.col("status") == "ERROR")
            & (~F.col("fmt").isin(FMT_TXT, FMT_PRETEXT)))
        .select(
            "url",
            F.regexp_extract("error", r"^([a-z_]+)", 1).alias("reason"),
            F.col("error").alias("note"),
        )
    )

    # --- per-partition lineage counters (north_rule) -------------------------
    # ONE aggregate over the branch stream: each kept branch row
    # explodes into max(1, size(pages_repr)) extracted rows (the
    # explode_outer rule), all carrying its status, so the extracted
    # counters are sums over branch rows. The explode is narrow, so
    # spark_partition_id() matches the extracted rows' partition. A
    # partition without kept rows reads NULL, as a join would leave it.
    kept = F.col("fmt") != FMT_UNSUPPORTED
    out_pages = pages_repr()
    rows_out = F.greatest(F.coalesce(F.size(out_pages), F.lit(0)),
                          F.lit(1)).cast("long")
    text_bytes = F.coalesce(F.aggregate(
        out_pages, F.lit(0).cast("long"),
        lambda acc, p: acc + F.coalesce(F.octet_length(p["text"]),
                                        F.lit(0))), F.lit(0))
    metrics = branches.groupBy(
        F.spark_partition_id().alias("partition_id")
    ).agg(
        F.count("*").alias("docs_in"),
        F.sum(F.when(kept, rows_out)).alias("docs_out"),
        F.sum(F.when(kept, rows_out * (F.col("status") == "ERROR")
                     .cast("long"))).alias("parse_failures"),
        F.sum(F.when(kept, text_bytes)).alias("bytes_extracted"),
    ).select(F.lit(cfg.run_id).alias("run_id"), "partition_id", "docs_in",
             "docs_out", "parse_failures", "bytes_extracted")

    return ExtractionResult(extracted, quarantine, metrics,
                            branches if persist else None)


def extract_one(
    spark: SparkSession,
    pages: DataFrame,
    url: str,
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """Ad-hoc single-document debug path (reference §3.2: pass_any.sh
    routes one file through the same passes). Same pipeline, WHERE
    url = X; stage-forcing is done via cfg cutoff overrides, the
    analog of the probe wrappers setting PASS_*_CUTOFF=2
    (pass_pdf_ocr_a.sh:40-42)."""
    one = pages.filter(F.col("url") == url)
    return run_extraction(spark, one, cfg, persist=False).extracted
