"""One benchmark invocation: generate, set up, measure, check.

Untraced run: one session. Its setup is ``build_session`` and a cold
pass over a small input: a fresh session's first pass runs several
times slower than a warm one, whatever the input's size. Timed passes
over the full input follow until ``seconds`` have been measured, and
at least ``MIN_PASSES``; ``docs_per_s`` takes their median, which
leaves out the first timed pass, the slowest while the driver still
warms up. The output of the last timed pass is then checked, untimed.

Traced run: the same session with Spark's event log on, spans recorded
and ``write_table`` timed per table, followed by the layer probes.
``trace.overhead_frac``, in the trace file only, compares its
``docs_per_s`` with the untraced run of the same seed and the same
sources recorded in this checkout, when there is one.
"""
from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from . import gen
from .eventlog import EventLog, load
from .metrics import CORPUS_QUERIES, END_TO_END, ENGINE, PER_LAYER
from .session import CORES, Session
from .trace import Tracer
from .workloads import WORKLOADS

MIN_PASSES = 3
# what a recorded untraced result depends on
SOURCES = ("document_extractor_spark", "perfbench", "scripts",
           "__spark_entry__.py")


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - _T0:.1f}s] {msg}",
          file=sys.stderr, flush=True)


def _session(root, ws, wl, seconds, tracer, event_log=None):
    """Set up, run the timed passes, check the last one. Returns
    (session, setup_s, check, pass times, worker peak MB, pass CPU s);
    the caller stops the session."""
    t0 = time.perf_counter()
    sess = Session(root, ws, event_log)
    try:
        t1 = time.perf_counter()
        wl.cold_pass(sess)
        setup_s = time.perf_counter() - t0
        log(f"setup {setup_s:.2f}s (build {sess.build_s:.2f}s, "
            f"cold pass {time.perf_counter() - t1:.3f}s)")
        if tracer.enabled:
            wl.instrument(sess, tracer)
        cpu0 = sess.sampler.cpu_s()
        times: list[float] = []
        while len(times) < MIN_PASSES or sum(times) < seconds:
            times.append(wl.timed_pass(sess, f"pass.{len(times)}", tracer))
        cpu = (sess.sampler.cpu_s() - cpu0) / len(times)
        log(f"passes {[round(t, 3) for t in times]}")
        verdict = wl.verify(sess)
        log(f"check attempted={verdict[0]} failed={verdict[1]} {verdict[2]}")
        return sess, setup_s, verdict, times, sess.sampler.worker_peak_mb(), cpu
    except BaseException:
        sess.stop()
        raise


def run(root: str, workload: str, seed: int, seconds: float,
        trace: bool) -> dict:
    ws = os.path.join(root, ".perfbench")
    work = os.path.join(ws, "work")
    cls = WORKLOADS[workload]
    d, meta = gen.build(os.path.join(ws, "cache"), workload, seed, cls.size)
    log(f"{workload} seed={seed} inputs={meta}")
    wl = cls(d, meta, work)
    try:
        if trace:
            return _traced(root, ws, wl, seconds, seed)
        return _untraced(root, ws, wl, seconds, seed)
    except Exception:
        # a crashed pass fails every check the run would have made
        log(traceback.format_exc())
        n = wl.planned()
        names = PER_LAYER if trace else END_TO_END
        return {"correct": False, "attempted": n, "failed": n,
                "metrics": {m[0]: {"value": 0.0, "unit": m[1]}
                            for m in names}}


def _untraced(root, ws, wl, seconds, seed) -> dict:
    work = wl.work
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sess, setup_s, (attempted, failed, _), times, worker_mb, _ = _session(
        root, ws, wl, seconds, Tracer(enabled=False))
    sess.stop()
    shutil.rmtree(work, ignore_errors=True)
    result = {
        "docs_per_s": wl.docs / statistics.median(times),
        "setup_s": setup_s, "py_worker_peak_mb": worker_mb,
        "ok_frac": 1 - failed / attempted}
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {n: {"value": result[n], "unit": u}
                       for n, u, _, _ in END_TO_END}}
    if failed == 0:
        os.makedirs(os.path.join(ws, "results"), exist_ok=True)
        with open(_result_path(ws, wl.name, seed), "w") as f:
            json.dump({"sources": _source_id(root),
                       "docs_per_s": result["docs_per_s"]}, f)
    return out


def _result_path(ws: str, workload: str, seed: int) -> str:
    return os.path.join(ws, "results", f"{workload}-s{seed}.json")


def _source_id(root: str) -> str:
    """Hash of the ``.py`` files under ``SOURCES``."""
    files = []
    for top in SOURCES:
        path = os.path.join(root, top)
        if os.path.isfile(path):
            files.append(path)
        files += [os.path.join(p, f) for p, _, fs in os.walk(path)
                  for f in fs if f.endswith(".py")]
    h = hashlib.sha256()
    for f in sorted(files):
        with open(f, "rb") as fh:
            h.update(f"{os.path.relpath(f, root)}\0".encode() + fh.read())
    return h.hexdigest()


def _untraced_base(root, ws, workload, seed) -> float | None:
    """Untraced ``docs_per_s`` of this seed, as recorded in this
    checkout by a run of the same sources, or None."""
    path = _result_path(ws, workload, seed)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        rec = json.load(f)
    return (rec["docs_per_s"] if rec.get("sources") == _source_id(root)
            else None)


def _traced(root, ws, wl, seconds, seed) -> dict:
    base_dps = _untraced_base(root, ws, wl.name, seed)
    shutil.rmtree(wl.work, ignore_errors=True)
    os.makedirs(wl.work)
    evdir = os.path.join(ws, "eventlog")
    shutil.rmtree(evdir, ignore_errors=True)
    tracer = Tracer()
    sess, setup_s, (attempted, failed, _), times, worker_mb, cpu = _session(
        root, ws, wl, seconds, tracer, evdir)
    try:
        m = wl.probes(sess, tracer)
        jvm_mb = sess.sampler.root_peak_mb()
    finally:
        sess.stop()
    ev = EventLog(load(evdir))
    dps = wl.docs / statistics.median(times)
    passes = ev.summary(lambda g: g.startswith("pass."), CORES, sum(times))
    m.update({f"engine.{n}": passes[n] for n, _, _ in ENGINE})
    m.update({
        "session.build_s": sess.build_s, "setup_s": setup_s,
        "docs_per_s": dps, "py_worker_peak_mb": worker_mb,
        "scan.tasks": ev.summary(lambda g: g == "probe.scan", CORES)["tasks"],
        "widen.shuffle_write_mb": ev.summary(
            lambda g: g == "probe.widen", CORES)["shuffle_write_mb"],
        "pyboundary.worker_run_s": passes["py.worker_run_s"],
        "pyboundary.worker_init_s": passes["py.worker_init_s"],
        "pyboundary.mb_to_py": passes["py.mb_to_py"],
        "pyboundary.mb_from_py": passes["py.mb_from_py"],
        "engine.kernel_efficiency": (
            dps / (CORES * m["kernel.docs_per_s"])
            if m.get("kernel.docs_per_s") else 0.0),
        "proc.cpu_s": cpu, "proc.jvm_peak_mb": jvm_mb,
    })
    if base_dps is None:
        log(f"no untraced run of seed {seed} and these sources recorded: "
            f"trace.overhead_frac left out")
    else:
        m["trace.overhead_frac"] = 1 - dps / base_dps
    for q in CORPUS_QUERIES:
        m[f"operators.{q}.shuffle_mb"] = ev.summary(
            lambda g, q=q: g.startswith("pass.") and g.endswith(f".{q}"),
            CORES)["shuffle_write_mb"] / len(times)
    ok = {k: bool(v) for k, v in m.items() if k.startswith("reconcile.")}
    for name, _, _ in PER_LAYER:
        m.setdefault(name, 0.0)
    os.makedirs(os.path.join(ws, "traces"), exist_ok=True)
    path = os.path.join(ws, "traces", f"{wl.name}-s{seed}.json")
    tracer.dump(path, workload=wl.name, seed=seed, layers=m,
                groups={g: ev.summary(lambda x, g=g: x == g, CORES)
                        for g in ev.groups()})
    log(f"trace written to {path}")
    for k in sorted(m):
        log(f"  {k:42s} {m[k]:.6g}")
    shutil.rmtree(wl.work, ignore_errors=True)
    failed += sum(not v for v in ok.values())
    return {"correct": failed == 0, "attempted": attempted + len(ok),
            "failed": failed,
            "metrics": {n: {"value": float(m[n]), "unit": u}
                        for n, u, _ in PER_LAYER}}


def main_json(root, workload, seed, seconds, trace) -> str:
    # the program logs its phases to stdout: keep stdout for the result
    with contextlib.redirect_stdout(sys.stderr):
        return json.dumps(run(root, workload, seed, seconds, trace))
