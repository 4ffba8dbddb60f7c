"""Generate SCALE.md: a physical-plan inventory for every driver query.

For each `queries()` entry this prints what actually matters at
10^12-row scale, read from the executed plan (not from intentions):
number of shuffle Exchanges, Python (Arrow) stages, broadcast joins,
sort-merge/hash joins, nested-loop joins (must be zero), and whether
the parquet scan carries pushed filters.

Usage: python scripts/plan_inventory.py [sf_dir] > SCALE.md
"""
from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from document_extractor_spark.session import build_session  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

# exact all-pairs baselines: a nested-loop IS the semantics (every
# pair compared); each has a bucketed scale path beside it
EXPECTED_NESTED_LOOP = {
    "embedding_neardup": "exact baseline; scale path = embedding_neardup_lsh",
}


def count(plan: str, token: str) -> int:
    return len(re.findall(re.escape(token), plan))


def count_shuffles(plan: str) -> int:
    """Every shuffle Exchange node of the plan tree, whatever its
    partitioning (hash, range, round-robin, single partition).
    BroadcastExchange and ReusedExchange nodes are not shuffles of
    their own."""
    return len(re.findall(r"^[ :|+\-]*Exchange ", plan, re.M))


def main() -> None:
    spark = build_session(app_name="plan-inventory", cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # pragma: no cover
            rows.append((name, f"ERROR: {str(exc)[:60]}"))
            continue
        rows.append((
            name,
            count_shuffles(plan),
            count(plan, "ArrowEvalPython") + count(plan, "BatchEvalPython")
            + count(plan, "MapInPandas") + count(plan, "MapInArrow")
            + count(plan, "FlatMapGroupsInPandas"),
            count(plan, "BroadcastHashJoin"),
            count(plan, "SortMergeJoin") + count(plan, "ShuffledHashJoin"),
            count(plan, "BroadcastNestedLoopJoin")
            + count(plan, "CartesianProduct"),
            "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "-",
        ))

    print("# SCALE.md — physical-plan inventory (generated)")
    print()
    print(f"Generated by `python scripts/plan_inventory.py {SF_DIR}`.")
    print("Every number is read from the EXECUTED plan of the registered")
    print("driver query, not from design intent. Columns:")
    print()
    print("- **shuffles**: Exchanges of any partitioning (hash, range,")
    print("  round-robin widen, single partition) — each is a full")
    print("  network repartition of its input at cluster scale; the count")
    print("  is the thing to budget, and AQE coalesces their partition")
    print("  counts.")
    print("- **py stages**: Arrow-batched Python operators (the engine's")
    print("  rule: at most ONE in the extraction path; 0 = pure JVM).")
    print("- **bcast / smj**: broadcast vs shuffle joins. Dim tables must")
    print("  broadcast; fact-fact joins shuffle on the join key.")
    print("- **nested-loop**: BroadcastNestedLoopJoin/CartesianProduct —")
    print("  MUST be 0 everywhere; the temporal/similarity operators are")
    print("  specifically engineered to avoid them.")
    print("- **pushdown**: parquet scan carries PushedFilters.")
    print()
    print("| query | shuffles | py stages | bcast | smj/shj | nested-loop"
          " | pushdown |")
    print("|---|---|---|---|---|---|---|")
    bad = []
    for r in rows:
        if len(r) == 2:
            print(f"| {r[0]} | {r[1]} | | | | | |")
            bad.append(r[0])
            continue
        name, sh, py, bc, smj, nl, pd_ = r
        mark = ""
        if nl and name in EXPECTED_NESTED_LOOP:
            mark = " *"
        print(f"| {name} | {sh} | {py} | {bc} | {smj} | {nl}{mark} "
              f"| {pd_} |")
        if nl and name not in EXPECTED_NESTED_LOOP:
            bad.append(name)
    print()
    for name, why in sorted(EXPECTED_NESTED_LOOP.items()):
        print(f"\\* `{name}`: {why}.")
    print()
    print("Iterative queries (`dedup_clusters`, `neardup_dedup_pipeline`)"
          " cut lineage with localCheckpoint each propagation round, so"
          " the table above shows only the final stitch; each round is"
          " 2 keyed shuffles (neighbor join + min-label groupBy),"
          " rounds ~= near-dup cluster diameter (small), convergence"
          " detected exactly (components.py).")
    print()
    print("`ngram_jaccard` and the pipelines built on it send their"
          " per-doc shingle arrays through one exchange into a"
          " `mapInArrow` pair kernel. With one shingle range (every"
          " input here) that exchange is `SinglePartition` and the"
          " per-pair merge after the kernel needs no exchange; with"
          " B > 1 ranges both are hash exchanges.")
    print()
    if bad:
        print(f"**ATTENTION: unexpected nested-loop or error in: {bad}**")
    else:
        print("No query plans an unexpected nested-loop join or "
              "cartesian product.")
    print_memory_budget()
    spark.stop()


def print_memory_budget() -> None:
    """Executor-memory budget for the three aggregation-buffer paths.

    Everything else in the engine is streaming/partial-aggregatable;
    these three build an in-memory buffer per GROUP inside an executor
    task, so each needs an explicit bound and the knob that sets it.
    Constants are imported from the live modules so the printed numbers
    cannot drift from the code.
    """
    from document_extractor_spark.artifacts import RENDER_MAX_PAGES
    from document_extractor_spark.config import DEFAULT_CONFIG
    from document_extractor_spark.operators.dedup import (
        PAIR_BUDGET, RANGE_BYTES)
    from document_extractor_spark.session import ARROW_MAX_RECORDS_PER_BATCH

    occ = RANGE_BYTES * 0.43  # (doc, shingle) occurrences per range
    print()
    print("## Executor-memory budget (aggregation buffers)")
    print()
    print(f"- **`rendered_docs` page buffer** — one `collect_list` of page"
          f" texts per url (artifacts.py). Bound: `max_pages="
          f"{RENDER_MAX_PAGES}` (RENDER_MAX_PAGES); docs beyond the cap"
          f" are diverted to a `render_too_large` quarantine BEFORE the"
          f" aggregation, so the buffer holds at most {RENDER_MAX_PAGES}"
          f" pages x ~4 KiB/page of extracted text ~= "
          f"{RENDER_MAX_PAGES * 4 // 1024} MiB worst-case per in-flight"
          f" group. Knob: `rendered_docs(max_pages=...)`;"
          f" `None` disables (tests only).")
    print(f"- **`ngram_jaccard_pairs` pair kernel** — one `mapInArrow`"
          f" task per shingle range holds that range's (doc, shingle)"
          f" occurrences (dedup.py `_pair_counts`). Bound: B = ceil(plan"
          f" size estimate / RANGE_BYTES={RANGE_BYTES >> 20} MiB) ranges,"
          f" so a task sees ~{RANGE_BYTES >> 20} MiB of input, ~"
          f"{occ / 1e6:.1f}M occurrences at the benchmark's 0.43 per"
          f" byte, ~{int(occ * 32 / 1e6)} MB of worker memory at ~32 B"
          f" each; pair expansion runs in chunks"
          f" of PAIR_BUDGET={PAIR_BUDGET:,} pairs (~1 MB). The df cap"
          f" (`max_shingle_df`) drops hot shingles before expansion.")
    print(f"- **`write_chunks` / greedy chunk packer** — per-chunk"
          f" `collect_list` of member docs (artifacts.py / chunker.py)."
          f" Bound: `max_combined_bytes="
          f"{DEFAULT_CONFIG.max_combined_bytes:,}` (reference"
          f" output_writer.py contract): the packer closes a chunk at the"
          f" byte budget, so a buffer never exceeds ~"
          f"{DEFAULT_CONFIG.max_combined_bytes // 1_000_000} MB of text"
          f" plus headers. Knob: env `MAX_COMBINED_BYTES`.")
    print()
    print(f"Arrow batches are additionally capped at"
          f" `spark.sql.execution.arrow.maxRecordsPerBatch="
          f"{ARROW_MAX_RECORDS_PER_BATCH}` (binary-heavy"
          f" rows; session.py) so a Python worker never materializes more"
          f" than ~{ARROW_MAX_RECORDS_PER_BATCH} rows x"
          f" ~1 MiB payload per batch.")


if __name__ == "__main__":
    main()
