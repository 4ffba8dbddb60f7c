"""Skew handling for keyed aggregations (north_rule: "salted
repartitioning to defuse domain skew").

Extraction itself partitions on url-hash (uniform — urls are unique).
Skew bites on *keyed* aggregations: per-domain stats over a corpus
where a few hot domains dominate (the synthetic corpus deliberately
gives 60% of rows to 3 domains, FIXTURES.md §1). A plain
groupBy(domain) sends every hot-domain row to one reducer.

`salted_agg` is two-phase: group on (key, salt) first — the hot key
fans out over `salt_factor` reducers for the heavy partial
aggregation — then re-aggregate the tiny partials by key. Classic
map-side-combine-style rewrite, expressed declaratively so AQE can
still re-plan around it.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    key: str,
    aggs: dict[str, tuple[str, str]],
    salt_factor: int = 16,
    unique_key: str | None = None,
) -> DataFrame:
    """Two-phase salted aggregation.

    aggs: out_name -> (fn, col) with fn in {count, sum, min, max}.
    count/sum re-aggregate with sum; min/max with themselves.
    (avg is expressible as sum+count at the call site.)

    The salt MUST be deterministic per row: hashing
    monotonically_increasing_id() would re-salt rows differently when
    a map task is recomputed after a shuffle fetch failure
    (SPARK-23207-class double/under-count at exactly the 10^12-row
    scale this targets). `unique_key` names a stable row-identity
    column (url, doc_id); when omitted, the salt hashes ALL input
    columns — deterministic, marginally more hashing work.
    """
    salt_src = (F.xxhash64(F.col(unique_key)) if unique_key
                else F.xxhash64(*[F.col(c) for c in df.columns]))
    salt = F.pmod(salt_src, F.lit(salt_factor)).alias("_salt")
    phase1_aggs, phase2_aggs = [], []
    for out, (fn, col) in aggs.items():
        if fn == "count":
            phase1_aggs.append(F.count(col).alias(out))
            phase2_aggs.append(F.sum(out).alias(out))
        elif fn == "sum":
            phase1_aggs.append(F.sum(col).alias(out))
            phase2_aggs.append(F.sum(out).alias(out))
        elif fn in ("min", "max"):
            agg_fn = getattr(F, fn)
            phase1_aggs.append(agg_fn(col).alias(out))
            phase2_aggs.append(agg_fn(out).alias(out))
        else:
            raise ValueError(f"unsupported agg fn: {fn}")
    partials = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(*phase1_aggs)
    )
    return partials.groupBy(key).agg(*phase2_aggs)
