"""Metric names, units and directions, shared by the harness, the
tests and BENCHMARK.json (a test pins that the two agree).

End-to-end metrics are measured untraced. Per-layer metrics come from
the traced run; every one is printed for every workload, so a layer a
workload never reaches reads 0 there. Layer times that only one
workload reaches (``sink.extracted.s``, ``operators.<query>.s``, ...)
are kept in the trace file's full layer table, and appear here as the
matching rate, which reads 0 where the layer does no work.
"""
from __future__ import annotations

# name, unit, better, bound
END_TO_END = [
    ("docs_per_s", "1/s", "higher", 0.25),
    ("setup_s", "s", "lower", 0.25),
    ("py_worker_peak_mb", "MB", "lower", 0.1),
    ("ok_frac", "fraction", "higher", 0.01),
]

KERNEL_FORMATS = ("html", "gzip", "txt", "pdf", "container", "docx", "doc",
                  "img")
CORPUS_QUERIES = ("dedup_exact", "quality_scores", "gopher_quality",
                  "ngram_jaccard", "simhash_fingerprints")
ENGINE = [
    ("jobs", "count", "lower"), ("stages", "count", "lower"),
    ("tasks", "count", "lower"), ("executor_run_s", "s", "lower"),
    ("executor_cpu_s", "s", "lower"), ("gc_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"), ("shuffle_read_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"), ("task_p50_s", "s", "lower"),
    ("task_max_s", "s", "lower"), ("idle_core_frac", "fraction", "lower"),
]

# name, unit, better
PER_LAYER = (
    [("session.build_s", "s", "lower"),
     ("scan.s", "s", "lower"), ("scan.tasks", "count", "higher"),
     ("widen.fired", "count", "lower"),
     ("widen.shuffle_write_mb", "MB", "lower")]
    + [(f"engine.{n}", u, b) for n, u, b in ENGINE]
    + [("engine.kernel_efficiency", "ratio", "higher"),
       ("pyboundary.worker_run_s", "s", "lower"),
       ("pyboundary.worker_init_s", "s", "lower"),
       ("pyboundary.mb_to_py", "MB", "lower"),
       ("pyboundary.mb_from_py", "MB", "lower"),
       ("sniff.docs", "count", "higher"),
       ("sniff.docs_per_s", "1/s", "higher"),
       ("kernel.docs_per_s", "1/s", "higher")]
    + [(f"kernel.{f}.docs_per_s", "1/s", "higher") for f in KERNEL_FORMATS]
    + [("kernel.html.fallback_frac", "fraction", "lower"),
       ("kernel.pdf.ocr_frac", "fraction", "lower"),
       ("explode.rows_per_doc", "ratio", "lower"),
       ("explode.rows_per_s", "1/s", "higher"),
       ("checkpoint.todo_docs", "count", "lower"),
       ("checkpoint.filter_docs_per_s", "1/s", "higher"),
       ("sink.mb_written", "MB", "lower"),
       ("sink.files_written", "count", "lower")]
    + [(f"operators.{q}.docs_per_s", "1/s", "higher")
       for q in CORPUS_QUERIES]
    + [(f"operators.{q}.shuffle_mb", "MB", "lower") for q in CORPUS_QUERIES]
    + [("proc.cpu_s", "s", "lower"), ("proc.jvm_peak_mb", "MB", "lower")]
)
