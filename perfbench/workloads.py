"""The two workloads: what the cold pass, a timed pass, the
correctness check and the traced layer probes do for each.

A workload object is built per invocation from its generated inputs
(``gen.build``) and driven by ``harness.run``. Layer numbers are taken
from outside: spans around calls into the program's public functions,
job groups read back from Spark's event log, and the kernel called in
this process on pre-sniffed batches.
"""
from __future__ import annotations

import os
import shutil
import statistics
import time

import pandas as pd

from . import check
from .metrics import CORPUS_QUERIES

SINK_TABLES = ("extracted", "quarantine", "metrics", "_manifest",
               "job_params")
_MB = 1024 * 1024
BATCH_ROWS = 1024  # the kernel layer's pandas batch, as Arrow hands it over


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _files(d: str) -> list[tuple[str, int]]:
    return sorted((os.path.relpath(os.path.join(p, f), d),
                   os.path.getsize(os.path.join(p, f)))
                  for p, _, fs in os.walk(d) for f in fs)


def _timed(sess, tracer, name: str, fn):
    """Run ``fn()`` under job group and span ``name``; (result, s)."""
    sess.label(name)
    with tracer.span(name):
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0


def _rate(n: float, s: float) -> float:
    return n / s if s > 0 else 0.0


def scan_and_widen(sess, tracer, src: str, narrow: str, widen,
                   prepare=lambda df: df) -> dict:
    """Scan probe of the pass input ``src`` (every column to the noop
    sink), and the widen decision ``widen(df)`` on ``prepare(scan)``:
    ``widen.fired`` when it returns a new plan for ``src``. The widen
    path itself is timed on ``narrow``, an input it fires on, as its
    own probe (scan + exchange) less a scan of ``narrow``."""
    spark = sess.spark

    def scan(label, path):
        return _timed(sess, tracer, label,
                      lambda: _noop(spark.read.parquet(path)))[1]

    def plan(path):
        df = prepare(spark.read.parquet(path))
        return df, widen(df)

    df, wide = plan(src)
    out = {"scan.s": scan("probe.scan", src),
           "widen.fired": int(wide is not df)}
    narrow_scan_s = (out["scan.s"] if narrow == src
                     else scan("probe.widen_scan", narrow))
    df, wide = plan(narrow)
    assert wide is not df, f"widen does not fire on {narrow}"
    _, s = _timed(sess, tracer, "probe.widen", lambda: _noop(wide))
    out["widen.s"] = max(0.0, s - narrow_scan_s)
    return out


class CrawlCommit:
    """``checkpoint.run_and_commit`` over a wide crawl into a parquet
    out dir whose manifest already commits ~25% of the urls. The last
    timed pass's out dir is kept for the check."""

    name = "crawl_commit"
    size = 8000

    def __init__(self, d: str, meta: dict, work: str):
        from document_extractor_spark.config import PipelineConfig

        self.d, self.work = d, work
        self.input = f"{d}/input"
        self.docs = meta["todo"]
        # per-page granularity for the generator's 8-page big PDFs, as
        # the golden tables encode it
        self.cfg = PipelineConfig(bigdoc_page_limit=6, run_id="bench")
        self._n = 0
        self._kept: str | None = None
        self.sink_spans: dict[str, list[float]] = {}
        self.sink_out: list[tuple[float, int]] = []

    def _fresh_out(self) -> str:
        self._n += 1
        out = f"{self.work}/out{self._n}"
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(f"{self.d}/template", out)
        return out

    def _commit(self, sess, out: str, src: str | None = None):
        from document_extractor_spark.checkpoint import run_and_commit

        res = run_and_commit(sess.spark,
                             sess.spark.read.parquet(src or self.input),
                             out, self.cfg)
        if res is not None:
            res.unpersist()
        return res

    def planned(self) -> int:
        """Checks a run attempts (all fail when a pass crashes)."""
        none = pd.DataFrame(columns=["url", "page", "reason"])
        return check.check_extraction(
            none, none, pd.read_parquet(f"{self.d}/expected.parquet"),
            pd.read_parquet(f"{self.d}/expected_quarantine.parquet"),
            set(pd.read_parquet(f"{self.d}/template/_manifest").url),
            False)[0]

    def verify(self, sess) -> tuple[int, int, dict]:
        out, self._kept = self._kept, None
        before = _files(out)
        sess.label("check.resume")
        noop = self._commit(sess, out) is None and _files(out) == before
        extracted = pd.read_parquet(f"{out}/extracted")
        quarantine = pd.read_parquet(f"{out}/quarantine")
        committed = set(pd.read_parquet(f"{self.d}/template/_manifest").url)
        attempted, failed = check.check_extraction(
            extracted, quarantine,
            pd.read_parquet(f"{self.d}/expected.parquet"),
            pd.read_parquet(f"{self.d}/expected_quarantine.parquet"),
            committed, noop)
        shutil.rmtree(out, ignore_errors=True)
        self.extracted_rows = len(extracted)
        return attempted, failed, {"extracted_rows": len(extracted),
                                   "resume_noop": noop}

    def cold_pass(self, sess) -> None:
        """Every job of a pass, planned and run over one input file."""
        out = self._fresh_out()
        sess.label("cold")
        self._commit(sess, out, f"{self.input}/part-00000.parquet")
        shutil.rmtree(out, ignore_errors=True)

    def timed_pass(self, sess, label: str, tracer) -> float:
        out = self._fresh_out()
        self._label = label
        _, dt = _timed(sess, tracer, label, lambda: self._commit(sess, out))
        if tracer.enabled:
            files = [(f, n) for f, n in _files(out) if f.endswith(".parquet")]
            self.sink_out.append((sum(n for _, n in files) / _MB, len(files)))
        if self._kept:
            shutil.rmtree(self._kept, ignore_errors=True)
        self._kept = out
        return dt

    def instrument(self, sess, tracer) -> None:
        """Time each ``write_table`` call inside ``run_and_commit`` (a
        span and a job group per table) for the traced passes."""
        from document_extractor_spark import checkpoint

        inner = checkpoint.write_table

        def write_table(df, name, root, *a, **kw):
            label = f"{self._label}.sink.{name}"
            sess.label(label)
            with tracer.span(label):
                t0 = time.perf_counter()
                try:
                    return inner(df, name, root, *a, **kw)
                finally:
                    self.sink_spans.setdefault(name, []).append(
                        time.perf_counter() - t0)
                    sess.label(self._label)

        checkpoint.write_table = write_table
        self._restore = lambda: setattr(checkpoint, "write_table", inner)

    def probes(self, sess, tracer) -> dict:
        from pyspark.sql import functions as F

        from document_extractor_spark.checkpoint import filter_uncommitted
        from document_extractor_spark.functions.sniff import sniff_format
        from document_extractor_spark.operators.extract_branches import (
            make_extract_any)
        from document_extractor_spark.pipeline import (
            bucket_by_url_hash, granularity_project, run_extraction)
        from document_extractor_spark.schemas import PAGES_COLS

        self._restore()
        spark = sess.spark
        # run_extraction's own order: project the pages columns, then
        # let bucket_by_url_hash decide
        m = scan_and_widen(
            sess, tracer, self.input, f"{self.input}/part-00000.parquet",
            lambda df: bucket_by_url_hash(df, self.cfg.url_hash_buckets),
            lambda df: df.select(*PAGES_COLS))
        for name in SINK_TABLES:
            m[f"sink.{name}.s"] = statistics.median(self.sink_spans[name])
        mb = statistics.median(x for x, _ in self.sink_out)
        m["sink.mb_written"] = mb
        m["sink.files_written"] = statistics.median(
            n for _, n in self.sink_out)

        out = self._fresh_out()
        todo = filter_uncommitted(
            spark, spark.read.parquet(self.input), out).persist()
        n, s = _timed(sess, tracer, "probe.checkpoint_filter", todo.count)
        m.update({"checkpoint.filter_s": s, "checkpoint.todo_docs": n,
                  "checkpoint.filter_docs_per_s": _rate(n, s)})
        sniffed = todo.withColumn(
            "fmt", sniff_format(F.col("html"), F.col("text")))
        counts, s = _timed(sess, tracer, "probe.sniff", lambda: dict(
            sniffed.groupBy("fmt").count().collect()))
        m["sniff.s"] = s
        m["sniff.docs"] = sum(counts.values())
        m["sniff.docs_per_s"] = _rate(m["sniff.docs"], s)
        m.update({f"sniff.docs.{f}": c for f, c in sorted(counts.items())})

        res = run_extraction(spark, todo, self.cfg)
        branch_rows, _ = _timed(sess, tracer, "probe.branches",
                                res.branches.count)
        rows, s = _timed(sess, tracer, "probe.explode", lambda: (
            granularity_project(res.branches, self.cfg.run_id).count()))
        res.unpersist()
        m.update({"explode.s": s, "explode.rows": rows,
                  "explode.rows_per_doc": _rate(rows, branch_rows),
                  "explode.rows_per_s": _rate(rows, s)})

        batch = sniffed.select(*PAGES_COLS, "fmt").toPandas()
        todo.unpersist()
        with tracer.span("probe.kernel"):
            m.update(kernel_layer(make_extract_any(self.cfg), batch))

        self._commit(sess, out)
        _, s = _timed(sess, tracer, "probe.checkpoint_noop",
                      lambda: self._commit(sess, out))
        m["checkpoint.noop_s"] = s
        shutil.rmtree(out, ignore_errors=True)
        m["reconcile.sniff_vs_kernel"] = int(
            m["kernel.docs"] == m["sniff.docs"] == m["checkpoint.todo_docs"])
        m["reconcile.kernel_vs_extracted"] = int(
            m["kernel.rows_out"] == m["explode.rows"] == self.extracted_rows)
        return m


def kernel_format(fmt: str, payload) -> str | None:
    """Kernel-layer format of a sniffed row: pdf rows that carry
    attachments are containers; txt and pretext share the text core;
    noise and unsupported rows have no kernel work (None)."""
    if fmt == "pdf" and payload is not None and b"/EmbeddedFile" in payload:
        return "container"
    if fmt == "pretext":
        return "txt"
    return None if fmt in ("noise", "unsupported") else fmt


def kernel_layer(extract_any, batch: pd.DataFrame) -> dict:
    """Time ``extract_any`` per kernel format on pre-sniffed rows, in
    ``BATCH_ROWS``-row batches in this process (one core).
    ``kernel.rows_out`` predicts the rows the granularity explode makes
    of the kernel's output."""
    from document_extractor_spark.functions.sniff import FMT_UNSUPPORTED

    kf = [kernel_format(f, p) for f, p in zip(batch.fmt, batch.html)]
    groups = batch.assign(kf=kf).groupby("kf", dropna=False, sort=True)
    m: dict = {}
    total_s = docs = rows_out = 0
    for key, g in groups:
        g = g.drop(columns="kf")
        t0 = time.perf_counter()
        outs = list(extract_any(
            g.iloc[i:i + BATCH_ROWS] for i in range(0, len(g), BATCH_ROWS)))
        s = time.perf_counter() - t0
        out = pd.concat(outs, ignore_index=True)
        total_s += s
        docs += len(g)
        kept = out[out.fmt != FMT_UNSUPPORTED]
        rows_out += sum(max(1, len(p)) if pp else 1
                        for p, pp in zip(kept.pages, kept.per_page))
        if isinstance(key, str):
            m[f"kernel.{key}.docs"] = len(g)
            m[f"kernel.{key}.s"] = s
            m[f"kernel.{key}.docs_per_s"] = _rate(len(g), s)
            if key == "html":
                m["kernel.html.fallback_frac"] = float(out.used_fallback.mean())
            if key == "pdf":
                m["kernel.pdf.ocr_frac"] = float(
                    out.method.str.startswith("ocr").mean())
    m.update({"kernel.docs": docs, "kernel.s": total_s,
              "kernel.docs_per_s": _rate(docs, total_s),
              "kernel.rows_out": rows_out})
    return m


class CorpusOps:
    """``__spark_entry__.queries()`` entries over a narrow (one row
    group) ``documents`` table, each written to the noop sink."""

    name = "corpus_ops"
    size = 5000
    queries = CORPUS_QUERIES

    def __init__(self, d: str, meta: dict, work: str):
        import __spark_entry__ as entry

        self.d, self.work = d, work
        self.input = f"{d}/input"
        self.docs = meta["docs"]
        self.fns = {q: entry.queries()[q] for q in self.queries}
        self.query_s: dict[str, list[float]] = {}

    def planned(self) -> int:
        return len(self.queries)

    def verify(self, sess) -> tuple[int, int, dict]:
        import duckdb

        import __spark_entry__ as entry

        got = {}
        for q in self.queries:
            sess.label(f"check.{q}")
            df = self.fns[q](sess.spark, self.input)
            got[q] = (df.columns, [tuple(r) for r in df.collect()])

        # oracle_sql() also materializes the entry corpus its pipeline
        # twins read: keep that in the input cache
        entry._ENTRY_CORPUS_DIR = os.path.join(os.path.dirname(self.d),
                                               "entry_corpus")
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{self.input}/documents.parquet'")
        want = {}
        for q in self.queries:
            rel = con.sql(oracles[q])
            want[q] = (list(rel.columns), rel.fetchall())
        con.close()
        attempted, bad = check.check_queries(got, want)
        return attempted, len(bad), {"mismatched": bad}

    def cold_pass(self, sess) -> None:
        """Every query of a pass over a tenth of the documents."""
        for q in self.queries:
            sess.label(f"cold.{q}")
            _noop(self.fns[q](sess.spark, f"{self.d}/small"))

    def timed_pass(self, sess, label: str, tracer) -> float:
        with tracer.span(label):
            t0 = time.perf_counter()
            for q in self.queries:
                _, s = _timed(sess, tracer, f"{label}.{q}", lambda: _noop(
                    self.fns[q](sess.spark, self.input)))
                if tracer.enabled:
                    self.query_s.setdefault(q, []).append(s)
            return time.perf_counter() - t0

    def instrument(self, sess, tracer) -> None:
        pass

    def probes(self, sess, tracer) -> dict:
        from document_extractor_spark.operators.dedup import (
            widen_narrow_input)

        m = scan_and_widen(sess, tracer, self.input, self.input,
                           widen_narrow_input)
        for q, ts in self.query_s.items():
            s = statistics.median(ts)
            m[f"operators.{q}.s"] = s
            m[f"operators.{q}.docs_per_s"] = _rate(self.docs, s)
        return m


WORKLOADS = {w.name: w for w in (CrawlCommit, CorpusOps)}
