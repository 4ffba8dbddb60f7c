"""SparkSession factory tuned for the extraction workload."""
from __future__ import annotations

import os

from pyspark.sql import SparkSession

ARROW_MAX_RECORDS_PER_BATCH = 1024


def build_session(
    app_name: str = "document-extractor-spark",
    cores: int | None = None,
) -> SparkSession:
    """local[N] session with the confs the engine relies on.

    - Arrow enabled: every extractor is an Arrow-batched pandas UDF /
      mapInPandas stage (north_rule: "no per-row Python").
    - Small Arrow batches: rows carry multi-KB `html:binary` payloads,
      so default 10k-row batches would balloon executor-python memory.
    - AQE on: post-explode page-row skew and the salted domain agg
      re-plan at runtime.
    On a real cluster the same confs apply; only `master` changes
    (spark-submit --py-files, see cli.py).
    """
    if cores is None:
        cores = int(os.getenv("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(max(cores, 32)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # guide §3.1: allow shuffled-hash join where its size
        # conditions hold — skips the per-partition sorts of SMJ.
        # The planner still falls back to sort-merge when the build
        # side can't be proven to fit, so this is size-gated at any
        # scale, not a local-mode tune.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # (runtime bloom-filter join pushdown — the feature that lets
        # a selective join side prune the other side's scan — already
        # defaults to ON in this Spark line; verified via conf.get,
        # so no override is set here)
        .config("spark.driver.memory", os.getenv("SPARK_DRIVER_MEMORY", "8g"))
        # Engine-wide convention: all timestamp semantics are UTC.
        # Pinned HERE, once, so no query function needs to mutate
        # session-global state mid-run (queries on foreign sessions
        # re-assert the same value via __spark_entry__._pin_utc).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # no Python call-site capture per Column call (about five
        # py4j round trips each); error messages lose only the
        # DataFrame query context
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()
