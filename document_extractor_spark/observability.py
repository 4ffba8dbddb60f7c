"""Driver-side observability: unified structured logger (O1) and the
effective-config banner row (O2).

Reference analogs:
- O1 unified logger (common.py:34-101): one logger, stdout + optional
  file, LOG_LEVEL env, global excepthook.  Here the payload is a
  structured JSON line per pipeline phase instead of free text, so a
  log aggregator on a 1000-executor cluster can parse it without
  regexes.  Only the DRIVER logs — executors never run this module's
  code, so the logger adds zero per-row cost.
- O2 startup echo (entrypoint.sh:69-88): the reference prints every
  effective env knob and library version before the first run.  Here
  the same facts become ONE queryable `job_params` table (long
  key/value form) written alongside the metrics table, so "which
  cutoffs did run X use?" is a SQL query, not a log archaeology dig.
"""
from __future__ import annotations

import json
import logging
import os
import sys
from dataclasses import fields
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .config import PipelineConfig

_LOGGER_NAME = "document_extractor_spark"

JOB_PARAMS_SCHEMA = "run_id string, key string, value string"

# session confs that change results or plan shape — echoed per run
_ECHO_CONFS = (
    "spark.sql.session.timeZone",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
    "spark.sql.files.maxPartitionBytes",
)


def get_logger() -> logging.Logger:
    """O1: one stdout logger, LOG_LEVEL env, optional APP_LOG file
    handler, uncaught-exception hook (common.py:58-101 semantics)."""
    log = logging.getLogger(_LOGGER_NAME)
    if log.handlers:
        return log
    level = {
        "DEBUG": logging.DEBUG, "INFO": logging.INFO,
        "WARN": logging.WARNING, "WARNING": logging.WARNING,
        "ERROR": logging.ERROR,
    }.get(os.getenv("LOG_LEVEL", "INFO").upper(), logging.INFO)
    log.setLevel(level)
    log.propagate = False
    sh = logging.StreamHandler(sys.stdout)
    sh.setFormatter(logging.Formatter("%(message)s"))
    log.addHandler(sh)
    target = os.getenv("APP_LOG")
    if target:
        try:
            fh = logging.FileHandler(target)
            fh.setFormatter(logging.Formatter("%(message)s"))
            log.addHandler(fh)
        except OSError:
            log.warning('{"event": "log_file_unavailable", "path": %s}'
                        % json.dumps(target))
    prev_hook = sys.excepthook

    def _hook(exc_type, exc, tb):
        log.error(json.dumps({
            "event": "uncaught", "error_type": exc_type.__name__,
            "error": str(exc)}))
        prev_hook(exc_type, exc, tb)

    sys.excepthook = _hook
    return log


def log_phase(phase: str, run_id: str | None = None, **fields_: Any) -> str:
    """One structured JSON log line per pipeline phase; returns the
    line so tests can pin its shape.  Keys are sorted for stable
    bytes."""
    payload = {"event": "phase", "phase": phase}
    if run_id is not None:
        payload["run_id"] = run_id
    payload.update(fields_)
    line = json.dumps(payload, sort_keys=True, default=str)
    get_logger().info(line)
    return line


def _versions() -> dict[str, str]:
    out = {"python": ".".join(map(str, sys.version_info[:3]))}
    for mod in ("pyspark", "pandas", "numpy", "pyarrow"):
        try:
            out[mod] = __import__(mod).__version__
        except Exception:  # pragma: no cover - all baked into the image
            out[mod] = "missing"
    return out


def job_params_rows(spark: SparkSession,
                    cfg: PipelineConfig) -> list[tuple[str, str, str]]:
    """(run_id, key, value) rows: every PipelineConfig field (the
    effective value, after env overrides), result-affecting session
    confs, and library versions — entrypoint.sh:69-88 as data."""
    rows = [("cfg." + f.name, str(getattr(cfg, f.name)))
            for f in fields(cfg)]
    rows += [("conf." + k, str(spark.conf.get(k, None)))
             for k in _ECHO_CONFS]
    rows += [("version." + k, v) for k, v in _versions().items()]
    rows.append(("version.spark", spark.version))
    return [(cfg.run_id, k, v) for k, v in sorted(rows)]


def job_params_table(spark: SparkSession,
                     cfg: PipelineConfig) -> DataFrame:
    """O2 as a DataFrame — written next to the metrics table by
    run_and_commit; dim-bounded (a few dozen rows per run). Built from
    pandas, so the rows cross to the JVM as one Arrow batch."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(job_params_rows(spark, cfg),
                     columns=["run_id", "key", "value"]),
        JOB_PARAMS_SCHEMA)
