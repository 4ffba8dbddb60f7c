"""Deduplication operators for training-data pipelines.

The reference only *plans* dedup ("Checksum cache to skip reprocessing
duplicates", TODO.md:20). Here it is first-class, at five levels:

- exact: content-hash groupBy (md5) — one shuffle, scales linearly.
- n-gram Jaccard: word-shingle set overlap with df-capped shingles.
  The JVM hashes each doc's shingle set; one exchange carries the
  per-doc arrays into a numpy kernel that counts shared shingles per
  pair where the pairs are produced and emits only pairs that can
  reach the threshold. Shingles (not unigrams) keep candidates
  selective: only docs sharing a full n-gram pair up, so the pair set
  stays near-linear for natural text instead of O(n^2).
- MinHash: k deterministic md5-derived hash functions, signature =
  per-doc min per seed — one explode + one groupBy with k min() aggs.
- MinHash-LSH banding: signatures split into b bands; docs sharing a
  band bucket are candidate pairs (the 100 TB-scale path: candidate
  generation is a groupBy on (band, band_sig), never a cross join).
- SimHash: 63-bit sign-aggregated token hash (Arrow-batched pandas
  UDF); hamming-close docs are near-dups.

All hash functions are md5-derived (not Spark's xxhash64/murmur) so
every step is reproducible in ANSI SQL for the DuckDB oracle:
``conv(substr(md5(tok||':'||seed),1,15),16,10)`` == DuckDB
``('0x'||substring(md5(...),1,15))::BIGINT`` (60-bit, sign-safe).
"""
from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

# the literal awk/java whitespace class: Java \s includes \x0B while
# RE2 (DuckDB) \s does not — every tokenizer and its SQL twin must
# pin the same six chars or \x0B text diverges the value checks
TOKEN_SPLIT = "[ \\t\\n\\x0B\\f\\r]+"
# Python twin of the same class (str.split() would also split on
# \xa0 etc., diverging from the JVM tokenizer and the SQL twins)
_WS_SPLIT_RE = re.compile("[ \t\n\x0b\f\r]+")


def tokens_col(text_col: str = "text"):
    """lower + whitespace split, empty tokens removed (both engines
    emit '' for leading separators — filtered identically)."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), TOKEN_SPLIT), lambda t: t != "")


def shingles_col(tokens, n: int = 3):
    """Word n-gram shingles: [t[i] || ' ' || ... || t[i+n-1]].

    Built as zip_with over n shifted slices, NOT element_at inside a
    transform lambda: an element_at(tokens, i) with `tokens` being an
    unmaterialized expression re-evaluates the whole tokenization per
    element (3 x n_shingles splits per row — measured 10x slower).
    Here `tokens` is evaluated only n+1 times per row.
    """
    size = F.size(tokens)
    cnt = size - (n - 1)
    out = F.slice(tokens, 1, cnt)
    for j in range(1, n):
        out = F.zip_with(
            out, F.slice(tokens, 1 + j, cnt),
            lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(size >= n, out).otherwise(
        F.array().cast("array<string>"))


def seed_hash(col, seed: int):
    """60-bit md5-derived hash, SQL-reproducible (see module doc)."""
    return F.conv(
        F.substring(F.md5(F.concat(col, F.lit(f":{seed}"))), 1, 15), 16, 10
    ).cast("long")


def md5_60(col):
    """Unseeded 60-bit md5 hash of a string column (see module doc)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def tokhash_set_col(text_col: str = "text"):
    """Distinct token set as 60-bit md5 hashes (`array<long>`).

    For exact-Jaccard verification the intersection/union CARDINALITY
    is all that matters, and |h(A) ∩ h(B)| == |A ∩ B| unless two
    distinct tokens collide in 60 bits — the same negligible-collision
    argument `ngram_jaccard_pairs` documents for shuffling shingles as
    hashes. An 8-byte element vs a string shrinks the verify join's
    shuffle and makes the per-pair intersect a primitive-long set
    probe instead of a string one."""
    return F.array_distinct(F.transform(tokens_col(text_col), md5_60))


def widen_narrow_input(df: DataFrame) -> DataFrame:
    """Round-robin a narrow scan up to cluster parallelism.

    A small parquet file is one row group = ONE Spark split, so the
    compute-heavy first stage (tokenize + shingle + hash) would run on
    a single core regardless of cluster size. At real scale the scan
    has plenty of splits and this is a no-op (the predicate guards the
    extra shuffle).

    The partition probe needs a DataFrame->RDD plan conversion, which
    Spark Connect doesn't support and which costs driver time on deep
    plans — so the probe is best-effort: any failure (Connect session,
    exotic plan) leaves the input untouched rather than erroring the
    hot path."""
    try:
        p = df.sparkSession.sparkContext.defaultParallelism
        nparts = df.rdd.getNumPartitions()
    except Exception:  # Connect: no sparkContext / .rdd — trust the scan
        return df
    if nparts < p:
        return df.repartition(p)
    return df


# --------------------------------------------------------------------------
def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(content_hash, n_docs, keeper_id): keeper = min id per group."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper_id"))
    )


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.2,
                        max_shingle_df: int | None = 1000) -> DataFrame:
    """Pairs (a < b) with shingle-set Jaccard >= threshold.

    The JVM tokenizes, shingles and md5-60-hashes each doc into its
    distinct shingle-hash array (SQL-reproducible, see module doc;
    collisions at 2^60 are negligible for intersection counting). ONE
    exchange carries those arrays, one row per doc and shingle range,
    into `_pair_counts`, a numpy kernel that takes exact shingle df,
    applies the cap, counts each pair's shared shingles where the
    pairs are produced, and emits only pairs that can still reach
    `threshold`. A JVM sum by pair merges the ranges' partial counts
    (with one range its input is one partition, so it adds no
    exchange); the Jaccard round and threshold stay JVM expressions.

    Shingle ranges: each array splits by `pmod(hash, B)` and the
    exchange keys on the range, so every occurrence of a shingle lands
    in one task and its df is exact there. B comes from the plan's
    size estimate (`_shingle_ranges`); it is 1 for every parquet input
    in this repo, so the kernel sees the whole corpus and prunes
    exactly.

    `max_shingle_df` caps shingle document frequency: a corpus-hot
    shingle (boilerplate phrase) otherwise contributes O(df^2) pairs —
    at 10^12 docs that is a straggler that never finishes. Set sizes
    stay over the FULL shingle universe while intersections count only
    capped shingles, so a boilerplate-only pair's Jaccard can only
    shrink; true near-dup pairs share mostly *rare* shingles and keep
    their score (pytest proves recall unchanged on the synthetic
    corpus). Pass None to disable (exact baseline, test scale only).
    """
    sh = F.array_distinct(F.transform(
        shingles_col(tokens_col(text_col), n), md5_60))
    # no filter on the array: the optimizer pushes one below the
    # caller's widen exchange and hashes every doc twice there; the
    # kernel passes over docs with no shingles instead
    arrs = (docs.filter(F.col(id_col).isNotNull())
            .select(F.col(id_col).alias("id"), sh.alias("sh"))
            .select("id", F.size("sh").alias("n_sh"), "sh"))
    ranges = _shingle_ranges(docs)
    if ranges > 1:  # one row per (doc, range it has shingles in)
        arrs = (arrs.select(
            "id", "n_sh", "sh", F.explode(F.array_distinct(F.transform(
                "sh", lambda h: F.pmod(h, ranges)))).alias("p"))
            .select("id", "n_sh", F.filter(
                "sh", lambda h: F.pmod(h, ranges) == F.col("p")).alias("sh"),
                "p")
            .repartition(ranges, "p").select("id", "n_sh", "sh"))
    else:
        arrs = arrs.repartition(1)
    id_type = docs.schema[id_col].dataType.simpleString()
    # read here, not in the worker: the pickled closure carries them
    cap, budget = max_shingle_df, PAIR_BUDGET
    counted = arrs.mapInArrow(
        lambda it: _pair_counts(it, threshold, cap, budget),
        schema=f"id_a {id_type}, id_b {id_type}, inter long, "
               "sh_a int, sh_b int")
    inter = (counted.groupBy("id_a", "id_b", "sh_a", "sh_b")
             .agg(F.sum("inter").alias("inter")))
    return (
        inter
        .withColumn("jaccard", F.round(
            F.col("inter")
            / (F.col("sh_a") + F.col("sh_b") - F.col("inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# Estimated input bytes (optimized-plan `sizeInBytes`, i.e. parquet
# bytes for a scan) per shingle range of `ngram_jaccard_pairs`. The
# benchmark's 5,000-doc table estimates 599,730 B and yields 259k
# (doc, shingle) occurrences, ~0.43 per byte, so one range holds
# <= ~1.8M occurrences. `_pair_counts` peaks at ~32 B of worker RSS
# per occurrence (measured there: +8 MB for 259k), so ~60 MB per task
# at the bound. B = 1 for every parquet input in this repo.
RANGE_BYTES = 4 << 20
# Pairs expanded per `_pair_counts` chunk (a doc whose own pairs
# exceed it is one chunk); ~50 B per pair, ~1 MB, live while counted.
PAIR_BUDGET = 20_000


def _shingle_ranges(docs: DataFrame) -> int:
    """B = ceil(size estimate / RANGE_BYTES), within
    [1, spark.sql.shuffle.partitions]. The estimate is read from the
    optimized plan's statistics: no job runs. A plan without size
    statistics (an RDD or a local collection) estimates Long.MaxValue,
    hence the upper clamp; a session without a JVM plan handle
    (Connect) gets one range."""
    try:
        plan = docs._jdf.queryExecution().optimizedPlan()
    except AttributeError:  # Connect: no JVM plan handle
        return 1
    est = int(str(plan.stats().sizeInBytes()))
    most = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(most, -(-est // RANGE_BYTES)))


def _pair_counts(batches, threshold: float, cap: int | None,
                 budget: int):
    """mapInArrow kernel of `ngram_jaccard_pairs`: rows (id, n_sh, sh)
    -> (id_a, id_b, inter, sh_a, sh_b) with id_a < id_b.

    A doc may arrive as several rows (one per shingle range that hash
    partitioning put in this task); `sh` holds the doc's hashes in that
    range and `n_sh` its full distinct count. Ids are ranked densely
    and live shingles (2 <= df <= cap) numbered densely, so an
    occurrence packs into one int64 (shingle << 32 | rank) and a pair
    into one int64 (rank_a << 32 | rank_b) for any id type. Sorting the
    occurrence keys lays out each shingle's postings in ascending rank;
    each occurrence pairs with the rest of its run. The expansion runs
    in chunks of source ranks under `budget` pairs and is counted by
    `np.unique`, so all of a source's pairs are counted in one chunk.

    A pair leaves only if it can reach `threshold`: its count here
    plus min(rest_a, rest_b), each doc's shingles outside this task,
    bounds its full intersection. With one range rest is 0 and the
    prune is exact; 1e-6 of slack leaves the decision to the JVM
    round. A pair that survives here survives in every task sharing
    its shingles, so the summed count is exact.

    Memory: one n-long int64 buffer is sorted three times over (raw
    hashes, occurrence keys, source keys) instead of allocating each;
    with the Arrow input and two int32 arrays that is the peak."""
    import pyarrow as pa

    ids, nsh, lens, hs = [], [], [], []
    for b in batches:
        sh = b.column(2)
        ids.append(b.column(0).to_numpy(zero_copy_only=False))
        nsh.append(b.column(1).to_numpy(zero_copy_only=False))
        lens.append(sh.value_lengths().to_numpy(zero_copy_only=False))
        hs.append(sh.flatten().to_numpy(zero_copy_only=False))
    if not sum(map(len, hs)):
        return
    uid, row_rank = np.unique(np.concatenate(ids), return_inverse=True)
    row_rank = row_rank.astype(np.int32)
    n_doc = np.zeros(len(uid), dtype=np.int32)
    n_doc[row_rank] = np.concatenate(nsh)
    rest = n_doc - np.bincount(row_rank, weights=np.concatenate(lens),
                               minlength=len(uid)).astype(np.int32)
    del ids, nsh
    # exact df of every shingle: sort a copy of all hashes
    buf = np.concatenate(hs)
    buf.sort()
    new = np.empty(len(buf), dtype=bool)
    new[0] = True
    np.not_equal(buf[1:], buf[:-1], out=new[1:])
    starts = np.flatnonzero(new)
    del new
    df = np.diff(starts, append=len(buf))
    live = df >= 2
    if cap is not None:
        live &= df <= cap
    u, df = buf[starts[live]], df[live].astype(np.int32)
    del starts, live
    if not len(u):
        return
    # live occurrences as (shingle id, rank), reusing the sort buffer
    key = buf[:int(df.sum())]
    kv = key.view(np.int32).reshape(-1, 2)  # little-endian: [:, 1] high
    at, row = 0, 0
    for i, (x, ln) in enumerate(zip(hs, lens)):
        j = np.minimum(np.searchsorted(u, x), len(u) - 1)
        hit = u[j] == x
        k = int(np.count_nonzero(hit))
        kv[at:at + k, 1] = j[hit]
        kv[at:at + k, 0] = np.repeat(row_rank[row:row + len(ln)], ln)[hit]
        at, row = at + k, row + len(ln)
        hs[i] = None  # release the Arrow batch
    del hs, lens, u, j, hit
    key.sort()
    r = kv[:, 0].copy()
    m = len(r)
    # partners after each occurrence: the rest of its run
    part = np.repeat(np.cumsum(df, dtype=np.int32), df)
    part -= np.arange(1, m + 1, dtype=np.int32)
    del df
    # sources (occurrences with partners) as (rank, position), sorted
    # so a rank range is one slice; the buffer is free again
    is_src = part > 0
    src = buf[:int(np.count_nonzero(is_src))]
    sv = src.view(np.int32).reshape(-1, 2)
    sv[:, 1] = r[is_src]
    sv[:, 0] = np.arange(m, dtype=np.int32)[is_src]
    del is_src, key, kv
    src.sort()
    bnd = np.searchsorted(src, np.arange(len(uid) + 1, dtype=np.int64) << 32)
    load = np.zeros(len(uid))
    for i in range(0, len(src), 1 << 16):
        blk = sv[i:i + (1 << 16)]
        load += np.bincount(blk[:, 1], weights=part[blk[:, 0]],
                            minlength=len(uid))
    load = np.cumsum(load)
    lo, done = 0, 0.0
    slack = threshold - 1e-6
    while lo < len(uid):
        hi = max(lo + 1, int(np.searchsorted(load, done + budget, "right")))
        s = sv[bnd[lo]:bnd[hi], 0]
        lo, done = hi, load[hi - 1]
        if not len(s):
            continue
        c = part[s]
        partner = np.repeat(s + 1 - (np.cumsum(c, dtype=np.int64) - c), c)
        partner += np.arange(len(partner))
        pair = np.empty(len(partner), dtype=np.int64)
        pv = pair.view(np.int32).reshape(-1, 2)
        pv[:, 1] = np.repeat(r[s], c)
        pv[:, 0] = r[partner]
        del partner
        pair, inter = np.unique(pair, return_counts=True)
        pv = pair.view(np.int32).reshape(-1, 2)
        a, b = pv[:, 1], pv[:, 0]
        sa, sb = n_doc[a], n_doc[b]
        bound = inter + np.minimum(rest[a], rest[b])
        ok = bound >= slack * (sa.astype(np.int64) + sb - bound)
        if ok.any():
            a, b = a[ok], b[ok]
            yield pa.RecordBatch.from_arrays(
                [pa.array(uid[a]), pa.array(uid[b]), pa.array(inter[ok]),
                 pa.array(sa[ok]), pa.array(sb[ok])],
                ["id_a", "id_b", "inter", "sh_a", "sh_b"])


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 8) -> DataFrame:
    """One row per doc with columns mh_0..mh_{k-1} (min over tokens).

    ONE shuffle: no pre-explode distinct — min() is idempotent over
    duplicate tokens, so deduplicating first would only add a shuffle
    for an identical result."""
    toks = docs.select(
        F.col(id_col), F.explode(tokens_col(text_col)).alias("tok"))
    aggs = [F.min(seed_hash(F.col("tok"), s)).alias(f"mh_{s}")
            for s in range(k)]
    return toks.groupBy(id_col).agg(*aggs)


def _band_sig_array(k: int, bands: int):
    """In-row array of per-band signatures (md5 over the band's
    signature slice) — one posexplode over this array instead of a
    `bands`-way union keeps banding at 2 exchanges total."""
    assert k % bands == 0
    r = k // bands
    return F.array(*[
        F.md5(F.concat_ws(",", *[
            F.col(f"mh_{bidx * r + j}").cast("string") for j in range(r)]))
        for bidx in range(bands)
    ])


def minhash_band_buckets(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", k: int = 8,
                         bands: int = 4) -> DataFrame:
    """LSH banding: (band, band_sig, n_docs, min_id) for buckets with
    >1 doc — the candidate-pair generator. rows_per_band = k/bands."""
    sigs = minhash_signatures(docs, id_col, text_col, k)
    stacked = sigs.select(
        F.col(id_col),
        F.posexplode(_band_sig_array(k, bands)).alias("band", "band_sig"))
    return (
        stacked.groupBy("band", "band_sig")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("min_id"))
        .filter(F.col("n_docs") > 1)
    )


def minhash_candidate_pairs(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", k: int = 8,
                            bands: int = 4,
                            max_bucket_df: int | None = 1000) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from MinHash-LSH band
    buckets — what `minhash_band_buckets` summarizes, expanded into
    the pair stream a verifier can consume.

    `max_bucket_df` caps bucket membership exactly like
    `ngram_jaccard_pairs.max_shingle_df` caps shingle df: a
    corpus-hot bucket (mass-produced boilerplate all sharing one band
    signature) otherwise emits O(df^2) pairs — the straggler that
    never finishes at 10^12 docs.  Over-cap buckets are DROPPED, not
    sampled: their members are exact-dup-grade clusters that
    `exact_dedup_groups` collapses in one linear pass, and genuinely
    near-dup members still pair through their other (rarer) bands.

    Memory coupling: each surviving bucket is materialized as ONE row
    (collect_list of ids, <=1000 ids at the default cap); its pairs
    then STREAM out of two chained posexplode Generates, so the cap
    bounds the collected list itself and the per-bucket quadratic
    work, not a per-row pair buffer. Raising `max_bucket_df` past
    ~10^4 still buys quadratic work per hot bucket; above that,
    expand pairs via a band-keyed self-join on the stacked band table
    instead (the shape `minhash_incremental_decision` uses).
    """
    sigs = minhash_signatures(docs, id_col, text_col, k)
    stacked = sigs.select(
        F.col(id_col).alias("id"),
        F.posexplode(_band_sig_array(k, bands)).alias("band", "band_sig"))
    posting = (
        stacked.groupBy("band", "band_sig")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket_df is not None:
        posting = posting.filter(F.size("ids") <= max_bucket_df)
    # ordered pairs from the id-sorted list via TWO chained posexplodes:
    # Generate is whole-stage-codegen'd and streams, while a nested
    # transform/flatten builds every pair in the interpreter and
    # buffers a bucket's whole expansion in one row. Position order is
    # id order (array_sort), so py > px gives exactly id_a < id_b.
    e1 = posting.select("ids", F.posexplode("ids").alias("px", "id_a"))
    return (
        e1.select("id_a", "px", F.posexplode("ids").alias("py", "id_b"))
        .filter(F.col("py") > F.col("px"))
        .select("id_a", "id_b")
        .distinct()  # a pair can co-occur in several bands
    )


def seen_band_table(seen_docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 8,
                    bands: int = 4) -> DataFrame:
    """(id_seen, band, band_sig): the stacked LSH band table of the
    SEEN corpus — the artifact a production deployment PRECOMPUTES
    once per corpus snapshot and persists (parquet partitioned by
    `band`), so each incoming batch pays only its own signatures plus
    one band-keyed join.  `minhash_incremental_decision(...,
    seen_bands=...)` consumes it and is pinned by pytest to make
    identical decisions to the inline derivation; `k`/`bands` must
    match between precompute and decision time (band signatures are
    md5 over the band's slice of the k minima)."""
    sig_seen = minhash_signatures(seen_docs, id_col, text_col, k)
    return sig_seen.select(
        F.col(id_col).alias("id_seen"),
        F.posexplode(_band_sig_array(k, bands)).alias("band", "band_sig"))


def minhash_incremental_decision(new_docs: DataFrame,
                                 seen_docs: DataFrame,
                                 id_col: str = "doc_id",
                                 text_col: str = "text", k: int = 8,
                                 bands: int = 4,
                                 threshold: float = 0.5,
                                 max_bucket_df: int | None = 1000,
                                 seen_bands: DataFrame | None = None,
                                 ) -> DataFrame:
    """(id, dup_of, is_unique) for every NEW doc: near-dup decision
    against the SEEN corpus without re-deduplicating the seen side —
    what a recurring crawl runs per batch (the MinHash analog of
    `incremental_dedup`'s exact-fingerprint anti-join).

    Candidates = new x seen band-bucket matches only (never new x new
    — intra-batch dedup is `minhash_verified_pairs`' job); the
    seen-side bucket membership is df-capped like every posting list
    in this module (a boilerplate bucket matching the whole history
    would emit O(|seen|) candidates per new doc).  Verification is
    the exact token-set Jaccard the signatures estimate; `dup_of` is
    the smallest seen id among verified matches, NULL when unique.
    At 10^12 docs the seen side's stacked band table is the thing a
    production deployment PRECOMPUTES and stores — pass it as
    ``seen_bands`` (built by `seen_band_table` with the same
    `k`/`bands`, typically read back from parquet) and the seen
    corpus is never re-signed; left None, it is derived inline so
    the decision stays a pure function of its two inputs.
    ``seen_docs`` is still required either way: verification
    tokenizes the candidate seen docs (the bands alone can't verify).
    """
    sig_new = minhash_signatures(new_docs, id_col, text_col, k)
    new_b = sig_new.select(
        F.col(id_col).alias("id_new"),
        F.posexplode(_band_sig_array(k, bands)).alias("band", "band_sig"))
    seen_b = (seen_bands if seen_bands is not None
              else seen_band_table(seen_docs, id_col, text_col, k, bands))
    if max_bucket_df is not None:
        hot = (seen_b.groupBy("band", "band_sig")
               .agg(F.count("*").alias("_n"))
               .filter(F.col("_n") > max_bucket_df)
               .select("band", "band_sig"))
        seen_b = seen_b.join(hot, ["band", "band_sig"], "left_anti")
    # NO distinct on the candidate stream: the decision below is a
    # multiplicity-invariant aggregate (min over when-guarded ids),
    # so a pair matching in several bands just re-verifies — measured
    # duplication factor 1.13 (bounded by `bands`), cheaper than the
    # full-stream dedup shuffle the distinct paid.
    cand = (new_b.join(seen_b, ["band", "band_sig"])
            .select("id_new", "id_seen"))
    # token sets verify as 60-bit hashes (identical cardinalities
    # modulo 2^-60 collisions — see tokhash_set_col)
    toks = lambda d, name: d.select(  # noqa: E731
        F.col(id_col).alias(name),
        tokhash_set_col(text_col).alias(f"toks_{name}"))
    # join ORDER is the guide-§8 move: attach the seen-side arrays
    # via the LIGHT shuffle (the candidate stream is still bare id
    # pairs there), then attach the new side by BROADCAST so the now
    # array-laden stream never shuffles again. Broadcasting the NEW
    # side is scale-safe by contract: it is the per-batch crawl (the
    # bounded input of this operator), while the seen corpus — which
    # may be 10^12 docs — only ever joins through the keyed shuffle.
    joined = (cand.join(toks(seen_docs, "id_seen"), "id_seen")
              .join(F.broadcast(toks(new_docs, "id_new")), "id_new"))
    # The threshold decision rides INSIDE the aggregate, not a Filter:
    # a Filter on the Jaccard gets predicate-pushed into the verify
    # JOIN CONDITION with the alias inlined, so the two references
    # (numerator + union denominator) evaluated array_intersect twice
    # per candidate pair (observed in the executed plan; codegen has
    # no CSE across them). min(when(...)) cannot be pushed into a
    # join, the intersect is referenced once, and a NULL dup_of for
    # an id_new whose candidates all failed is indistinguishable
    # downstream from the id_new being absent (the caller left-joins
    # and reads dup_of IS NULL as unique).
    stats = joined.select(
        "id_new", "id_seen",
        F.size(F.array_intersect("toks_id_new", "toks_id_seen"))
        .alias("_i"),
        (F.size("toks_id_new") + F.size("toks_id_seen")).alias("_s"))
    jac = F.round(F.col("_i") / (F.col("_s") - F.col("_i")), 6)
    dups = (stats.groupBy("id_new")
            .agg(F.min(F.when(jac >= threshold, F.col("id_seen")))
                 .alias("dup_of")))
    return (new_docs.select(F.col(id_col))
            .join(dups.withColumnRenamed("id_new", id_col), id_col, "left")
            .select(id_col, "dup_of",
                    F.col("dup_of").isNull().alias("is_unique")))


def minhash_verified_pairs(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", k: int = 8,
                           bands: int = 4, threshold: float = 0.5,
                           max_bucket_df: int | None = 1000,
                           checkpoint_result: bool = True) -> DataFrame:
    """(id_a, id_b, jaccard): LSH candidates verified with the EXACT
    token-set Jaccard the signatures estimate.

    The verify join touches only the bucket-bounded candidate stream —
    never all pairs — and the token sets ride in as whole arrays
    (array_intersect is JVM array math; no second explode).  Pairs
    whose true Jaccard falls below `threshold` are discarded, so LSH
    false positives cannot survive; false negatives are the documented
    LSH recall tradeoff (P[candidate] = 1-(1-J^r)^bands).

    The token-set table feeds BOTH join legs, so it is persisted and
    — with ``checkpoint_result`` (default) — the small verified-pair
    result is materialized eagerly and the cache released before
    returning (the charlm lifecycle): without it the corpus is
    tokenized once per leg.  At 10^12 docs pass
    ``checkpoint_result=False`` and manage the write yourself
    (localCheckpoint spills the result to local disk)."""
    cand = minhash_candidate_pairs(
        docs, id_col, text_col, k, bands, max_bucket_df)
    # token sets verify as 60-bit hashes (identical cardinalities
    # modulo 2^-60 collisions — see tokhash_set_col)
    toksets = docs.select(
        F.col(id_col).alias("id"),
        tokhash_set_col(text_col).alias("toks"))
    if checkpoint_result:
        toksets = toksets.persist()
    a = toksets.select(F.col("id").alias("id_a"),
                       F.col("toks").alias("toks_a"))
    b = toksets.select(F.col("id").alias("id_b"),
                       F.col("toks").alias("toks_b"))
    # The intersect is computed ONCE per candidate in its own
    # projection; without the nondeterministic barrier column the
    # threshold Filter gets predicate-pushed into the verify JOIN
    # CONDITION with the alias inlined, evaluating array_intersect
    # twice per candidate (observed in the executed plan — codegen
    # has no CSE across the numerator and union-denominator
    # references). _nd is dropped before returning.
    stats = (cand.join(a, "id_a").join(b, "id_b")
             .select("id_a", "id_b",
                     F.size(F.array_intersect("toks_a", "toks_b"))
                     .alias("_i"),
                     (F.size("toks_a") + F.size("toks_b")).alias("_s"),
                     F.monotonically_increasing_id().alias("_nd")))
    jac = F.round(F.col("_i") / (F.col("_s") - F.col("_i")), 6)
    result = (
        stats.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    if checkpoint_result:
        result = result.localCheckpoint(eager=True)
        toksets.unpersist(blocking=False)
    return result


# --------------------------------------------------------------------------
def simhash63_scalar(t: object) -> int:
    """Reference scalar SimHash (spec + pytest golden for the
    vectorized UDF below): bit b is 1 iff more tokens have bit b set
    than unset. 63 bits keeps the value positive in int64."""
    if not isinstance(t, str) or not t:
        return 0
    counts = [0] * 63
    for tok in set(_WS_SPLIT_RE.split(t.lower())) - {""}:
        h = int.from_bytes(
            hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
        for b in range(63):
            counts[b] += 1 if (h >> b) & 1 else -1
    out = 0
    for b in range(63):
        if counts[b] > 0:
            out |= 1 << b
    return out


@pandas_udf(LongType())
def simhash63(texts: pd.Series) -> pd.Series:
    """63-bit SimHash over whitespace tokens (md5-derived bit vectors),
    numpy-vectorized: one (tokens x 63) bit matrix per doc replaces the
    per-token per-bit Python loop; md5 is memoized per unique token
    within the Arrow batch. Matches simhash63_scalar bit-for-bit
    (pytest equality)."""
    bit_idx = np.arange(63, dtype=np.uint64)
    cache: dict[str, int] = {}

    def tok_hash(tok: str) -> int:
        h = cache.get(tok)
        if h is None:
            h = int.from_bytes(
                hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
            cache[tok] = h
        return h

    out = np.zeros(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        if not isinstance(t, str) or not t:
            continue
        toks = set(_WS_SPLIT_RE.split(t.lower())) - {""}
        if not toks:
            continue
        h = np.fromiter((tok_hash(tok) for tok in toks),
                        dtype=np.uint64, count=len(toks))
        set_bits = ((h[:, None] >> bit_idx) & np.uint64(1)).sum(axis=0)
        # counts[b] > 0  <=>  2 * set_bits > n_tokens
        fp_bits = (2 * set_bits > len(toks)).astype(np.uint64)
        out[i] = np.int64((fp_bits << bit_idx).sum(dtype=np.uint64))
    return pd.Series(out, index=texts.index)


def simhash_fingerprints(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    return docs.select(F.col(id_col),
                       simhash63(F.col(text_col)).alias("simhash"))


def simhash_neardup_pairs(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text",
                          max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked by the
    PIGEONHOLE scheme: the 63-bit fingerprint splits into 4 blocks
    (16/16/16/15); two fingerprints within hamming distance 3 must
    agree on at least one whole block, so candidates are pairs
    sharing ANY block — recall is 100% for max_hamming <= 3 (a single
    top-16 block missed ~59% of hamming-3 pairs: any pair whose
    differing bits touched the top block never became a candidate).
    At scale: 4 bucket joins on tiny keys, never a cross join.

    simhash == 0 rows (empty/NULL/whitespace-only text) are EXCLUDED:
    every empty doc lands in identical blocks with distance 0 to
    every other, so at 10^12 docs they form one quadratic hot bucket —
    and they are exact duplicates anyway, which exact_dedup_groups
    already handles in one linear pass."""
    sh = F.col("simhash")
    block_vals = F.array(
        F.shiftrightunsigned(sh, 47),                              # 16
        F.shiftrightunsigned(sh, 31).bitwiseAND(F.lit(0xFFFF)),    # 16
        F.shiftrightunsigned(sh, 15).bitwiseAND(F.lit(0xFFFF)),    # 16
        sh.bitwiseAND(F.lit(0x7FFF)),                              # 15
    )
    fp = (simhash_fingerprints(docs, id_col, text_col)
          .filter(F.col("simhash") != 0)
          .select(id_col, "simhash",
                  F.posexplode(block_vals).alias("bi", "bv")))
    a, b = fp.alias("a"), fp.alias("b")
    pairs = a.join(
        b, (F.col("a.bi") == F.col("b.bi"))
        & (F.col("a.bv") == F.col("b.bv"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
    return (
        pairs.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])  # a pair can share 2+ blocks
        .filter(F.col("hamming") <= max_hamming)
    )


def _flat_float_dot(va, vb, dim: int) -> "F.Column":
    """Bit-identical flat spelling of the interpreted
    `aggregate(zip_with(va, vb, x*y), 0.0, +)` fold for fixed-`dim`
    vectors: the leading 0.0 literal and left-to-right element order
    reproduce the fold's exact IEEE op sequence (so even signed zeros
    match), but the flat tree whole-stage-codegens while higher-order
    functions are interpreted (CLAUDE.md r5 convention)."""
    out = F.lit(0.0)
    for d in range(dim):
        out = out + (F.element_at(va, d + 1).cast("double")
                     * F.element_at(vb, d + 1))
    return out


def _bucket_pairs_arrow(withn: DataFrame, id_col: str, vec_col: str,
                        dim: int, threshold: float) -> DataFrame:
    """Within-bucket candidate pairs `(id_a, id_b, _dot, _na, _nb)` —
    the Arrow/BLAS twin of the self-join + per-pair fold. Bit-exact:
    the dot accumulates dimension-by-dimension across the whole
    gram block (`acc += X[:,d] * X[:,d]^T`), which is EXACTLY the
    fold's `((0.0 + p1) + p2) + ...` IEEE sequence per pair; norms
    arrive precomputed from the same JVM expression as before. The
    final round/divide/threshold stays in JVM so `F.round` semantics
    are untouched; the kernel only pre-filters with a safe margin
    (5.1e-5 > half an ulp at 4dp) so it never drops a pair the exact
    filter would keep.

    Why: a hot bucket's pairs explode inside one SMJ task (AQE skew
    handling keys on input bytes) and every pair pays row decode plus
    an interpreted fold; here a bucket is one blocked numpy gram
    computation emitting only near-threshold pairs (guide §4.2)."""
    import numpy as np

    def kern(pdf):
        m = len(pdf)
        empty = pd.DataFrame({
            "id_a": pd.Series([], dtype="int64"),
            "id_b": pd.Series([], dtype="int64"),
            "_dot": pd.Series([], dtype="float64"),
            "_na": pd.Series([], dtype="float64"),
            "_nb": pd.Series([], dtype="float64")})
        if m < 2:
            return empty
        ids = pdf["__id"].to_numpy(dtype=np.int64)
        X = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
        norms = pdf["__n"].to_numpy(dtype=np.float64)
        denom = norms[:, None] * norms[None, :]
        col = np.arange(m)
        out = []
        blk = 1024
        margin = threshold - 5.1e-5
        for s in range(0, m, blk):
            e = min(s + blk, m)
            # dimension-by-dimension accumulation = the fold's exact
            # per-pair IEEE op order, vectorized across pairs
            acc = np.zeros((e - s, m))
            for d in range(dim):
                acc += X[s:e, d, None] * X[None, :, d]
            upper = col[None, :] > np.arange(s, e)[:, None]
            # denom>0: a zero-norm side makes the JVM cosine NaN and
            # the exact filter drops it unconditionally — skip those
            # pairs here instead of shipping them out
            hit = upper & (denom[s:e] > 0) & (acc >= margin * denom[s:e])
            r_idx, c_idx = np.nonzero(hit)
            if len(r_idx):
                ia, ib = ids[s + r_idx], ids[c_idx]
                na, nb = norms[s + r_idx], norms[c_idx]
                swap = ia > ib  # orient by id value like the join's
                ia2 = np.where(swap, ib, ia)  # a.id < b.id condition
                ib2 = np.where(swap, ia, ib)
                na2 = np.where(swap, nb, na)
                nb2 = np.where(swap, na, nb)
                out.append(pd.DataFrame({
                    "id_a": ia2, "id_b": ib2,
                    "_dot": acc[r_idx, c_idx],
                    "_na": na2, "_nb": nb2}))
        if not out:
            return empty
        return pd.concat(out, ignore_index=True)

    side = withn.select(F.col("bucket"),
                        F.col(id_col).alias("__id"),
                        F.col(vec_col).alias("__v"),
                        F.col("norm").alias("__n"))
    return side.groupBy("bucket").applyInPandas(
        lambda _k, pdf: kern(pdf),
        schema="id_a long, id_b long, _dot double, _na double, _nb double")


def embedding_neardup_pairs_lsh(emb: DataFrame, id_col: str = "vec_id",
                                vec_col: str = "embedding",
                                threshold: float = 0.8,
                                n_bits: int = 8, seed: int = 7,
                                dim: int | None = None,
                                arrow_pairs: bool = False) -> DataFrame:
    """Scale path for embedding near-dup: random-hyperplane LSH buckets
    first (similarity.lsh_bucketed), exact cosine only within buckets.
    At 10^12 rows the candidate set is O(n * avg_bucket_size), never a
    cross join; near-identical vectors share all sign bits, so recall
    for threshold >= ~0.8 is high by construction.

    Pass `dim` when every vector has that exact length: the in-bucket
    cosine then uses the flat codegen dot (identical IEEE sequence,
    pytest-pinned) instead of the interpreted fold — the candidate
    stream pays O(pairs*dim) lambda interpretation otherwise.
    `arrow_pairs=True` (requires `dim`) moves the whole in-bucket
    pair search into a blocked numpy gram kernel per bucket
    (`_bucket_pairs_arrow` — same IEEE dot sequence, norms/round/
    threshold still the JVM expressions), which is the scale path
    when hyperplane buckets go hot: the self-join otherwise explodes
    a hot bucket's pairs inside one task."""
    from .similarity import lsh_bucketed

    bucketed = lsh_bucketed(emb, n_bits=n_bits, seed=seed,
                            id_col=id_col, vec_col=vec_col)
    from .similarity import _norm_expr

    withn = bucketed.withColumn("norm", _norm_expr(F.col(vec_col)))
    if arrow_pairs:
        if dim is None:
            raise ValueError("arrow_pairs requires dim")
        cand = _bucket_pairs_arrow(withn, id_col, vec_col, dim,
                                   threshold)
        return (cand.select(
            "id_a", "id_b",
            F.round(F.col("_dot") / (F.col("_na") * F.col("_nb")), 4)
            .alias("cosine"))
            .filter(F.col("cosine") >= threshold))
    a, b = withn.alias("a"), withn.alias("b")
    if dim is not None:
        dot = _flat_float_dot(F.col(f"a.{vec_col}"),
                              F.col(f"b.{vec_col}"), dim)
    else:
        dot = F.aggregate(
            F.zip_with(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"),
                       lambda x, y: x.cast("double") * y),
            F.lit(0.0), lambda acc, x: acc + x)
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(dot / (F.col("a.norm") * F.col("b.norm")), 4)
            .alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _embedding_neardup_pairs_exact(emb: DataFrame,
                                   id_col: str = "vec_id",
                                   vec_col: str = "embedding",
                                   threshold: float = 0.8) -> DataFrame:
    """Embedding-cosine near-dup pairs — EXACT all-pairs baseline.

    Private on purpose: the O(n^2) cross join dies at scale, so the
    public API is `embedding_neardup_pairs_lsh` (bucket-equality
    candidates, same cosine values on shared pairs).  This form exists
    only as the allow-listed oracle twin (`embedding_neardup` query)
    and as the recall reference in tests."""
    from .similarity import _norm_expr

    withn = emb.select(
        F.col(id_col), F.col(vec_col),
        _norm_expr(F.col(vec_col)).alias("norm"))
    a, b = withn.alias("a"), withn.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"),
                   lambda x, y: x.cast("double") * y),
        F.lit(0.0), lambda acc, x: acc + x)
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(dot / (F.col("a.norm") * F.col("b.norm")), 4)
            .alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def paragraph_dedup_marks(docs: DataFrame, order_cols: list[str],
                          text_col: str = "text") -> DataFrame:
    """Corpus-wide paragraph-level dedup marks (CCNet-style: drop
    repeated paragraphs, keep the first occurrence in corpus order).

    Splits each document on newline, hashes each non-blank paragraph,
    and marks the first occurrence per hash via one row_number window
    — a single shuffle on the paragraph hash. Returns
    (*order_cols, para_idx, para_hash, is_first); callers keep
    is_first rows to rebuild deduplicated documents.

    At 10^12 docs the window partitions by a 128-bit content hash, so
    the shuffle is uniform regardless of how hot a boilerplate
    paragraph is (a hot hash still lands in ONE partition, but
    row_number over it is linear, not quadratic — and cheap)."""
    paras = (
        docs.select(
            *order_cols,
            F.posexplode(F.split(F.col(text_col), "\n"))
            .alias("para_idx", "para"))
        .filter(F.trim(F.col("para")) != "")
        .withColumn("para_hash", F.md5(F.col("para")))
    )
    w = Window.partitionBy("para_hash").orderBy(
        *[F.col(c) for c in order_cols], F.col("para_idx"))
    return paras.select(
        *order_cols, "para_idx", "para_hash",
        (F.row_number().over(w) == 1).alias("is_first"))


def strip_boilerplate_lines(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            min_doc_count: int = 4) -> DataFrame:
    """Corpus-frequency boilerplate line removal (CCNet §4.1 / the
    RefinedWeb line-dedup pass): a line whose trimmed form appears in
    >= `min_doc_count` DISTINCT documents is boilerplate (nav bars,
    cookie banners, copyright footers) and is struck from every doc;
    blank lines are dropped too. Unlike `paragraph_dedup_marks` (which
    keeps the FIRST occurrence of a repeated paragraph), this removes
    ALL occurrences of corpus-hot lines — the CCNet rule for chrome
    that should survive nowhere.

    Returns (id_col, cleaned, n_kept, n_dropped) with `cleaned` the
    surviving lines re-joined by newline in original order. Contract:
    docs whose every line is boilerplate come back with cleaned=''
    and n_kept=0; docs with NO non-blank lines at all (NULL, empty,
    or whitespace-only text) are ABSENT from the output — callers
    rewriting a corpus in place should left-join and coalesce.

    Scale shape (10^12 docs): posexplode is shuffle-free; the
    doc-frequency count shuffles once on the trimmed line; the
    hot-line table (freq >= k) is orders of magnitude smaller than
    the corpus, so the left_anti join broadcasts under AQE when it
    fits and degrades to a shuffled join keyed on the line otherwise
    (uniform: one hot line -> one partition, anti-join is linear).
    Reassembly shuffles once on the doc id; its collect_list buffer
    is bounded by the source document's own size, which already
    arrived as one row. 3 shuffles total, zero Python stages.
    """
    lines = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), "\n"))
            .alias("pos", "line"))
        .withColumn("nl", F.trim(F.col("line")))
        .filter(F.col("nl") != "")
    )
    hot = (
        lines.groupBy("nl")
        .agg(F.countDistinct(id_col).alias("df"))
        .filter(F.col("df") >= min_doc_count)
        .select("nl")
    )
    # flag-join instead of anti-join + separate totals pass: one
    # groupBy(doc) computes kept lines AND both counters together
    # (collect_list skips the NULLed-out hot lines), saving a shuffle
    # and keeping docs whose every line was boilerplate
    flagged = lines.join(hot.withColumn("is_hot", F.lit(True)),
                         "nl", "left")
    keep = F.col("is_hot").isNull()
    return (
        flagged.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(keep, F.struct("pos", "line")))),
                    lambda s: s["line"]),
                "\n").alias("cleaned"),
            F.sum(keep.cast("long")).alias("n_kept"),
            F.sum((~keep).cast("long")).alias("n_dropped"))
        .select(F.col(id_col), "cleaned",
                F.col("n_kept").cast("long").alias("n_kept"),
                F.col("n_dropped").cast("long").alias("n_dropped"))
    )


# --------------------------------------------------------------------------
def dup_window_spans(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", k: int = 13,
                     seed: int = 11, min_docs: int = 2) -> DataFrame:
    """Span-level exact substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): mark, per document,
    the merged token spans covered by any k-token window whose hash
    occurs in >= `min_docs` DISTINCT documents. Doc-level dedup
    (exact/minhash/jaccard above) misses the partial-overlap case —
    two articles quoting the same press-release paragraph — which at
    crawl scale is most of the duplication mass; this marks exactly
    the shared substrings so a rewrite pass can cut them.

    Returns (id_col, span_start, span_end, n_windows): 0-based token
    offsets, span_start inclusive / span_end exclusive, one row per
    MERGED maximal span (overlapping/adjacent duplicated windows
    coalesce via gaps-and-islands), n_windows = duplicated windows
    inside the span. Docs with no duplicated window are absent.

    Scale shape (10^12 docs): stride-1 windows explode in place (no
    shuffle); duplicated-hash detection is one groupBy on a uniform
    60-bit md5 hash (a corpus-hot boilerplate window is ONE group —
    partial countDistinct keeps it map-side); the mark join is equi
    on the same hash with the dup side pre-aggregated to one row per
    hash, so no output blowup; span merging is one window + groupBy
    on the doc id. The window stream is traversed twice (dup
    detection + mark join) rather than collected into per-hash
    posting lists — a hot window in 10^7 docs would make a
    posting-list row unbounded, while re-tokenizing is linear CPU.
    3 shuffles, zero Python stages.
    """
    toks = docs.select(
        F.col(id_col), tokens_col(text_col).alias("t"))
    wins = toks.select(
        F.col(id_col),
        F.posexplode(shingles_col(F.col("t"), k)).alias("p", "w")
    ).select(F.col(id_col), F.col("p").cast("long").alias("pos"),
             seed_hash(F.col("w"), seed).alias("h"))
    dup = (wins.groupBy("h")
           .agg(F.countDistinct(id_col).alias("nd"))
           .filter(F.col("nd") >= min_docs)
           .select("h"))
    marked = wins.join(dup, "h").select(id_col, "pos")
    w_ord = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.coalesce(
        F.max(F.col("pos") + F.lit(k)).over(
            w_ord.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(-1))
    islands = (
        marked
        .withColumn("new_span",
                    F.when(F.col("pos") > prev_end, 1).otherwise(0))
        .withColumn("island", F.sum("new_span").over(
            w_ord.rowsBetween(Window.unboundedPreceding, 0))))
    return (
        islands.groupBy(id_col, "island")
        .agg(F.min("pos").alias("span_start"),
             (F.max("pos") + k).alias("span_end"),
             F.count(F.lit(1)).alias("n_windows"))
        .select(F.col(id_col),
                F.col("span_start").cast("long").alias("span_start"),
                F.col("span_end").cast("long").alias("span_end"),
                F.col("n_windows").cast("long").alias("n_windows")))


def strip_dup_spans(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 13,
                    seed: int = 11, min_docs: int = 2) -> DataFrame:
    """The rewrite pass over `dup_window_spans`: cut every token
    covered by a cross-doc duplicated window and re-join the
    survivors with single spaces (Lee et al. 2022 cut the duplicated
    substring and train on the remainder; like theirs, the rewrite is
    on the TOKEN stream — original whitespace is not preserved).

    Returns (id_col, cleaned, n_tokens_kept, n_tokens_dropped) for
    every doc with non-NULL text; fully-duplicated docs come back
    cleaned='' / n_tokens_kept=0 (present, so a corpus rewrite can
    left-join the whole table).

    Scale shape: the span table (already merged, tiny next to the
    corpus) is collect_list-ed per doc — bounded by the doc's own
    span count — and joined back onto the token projection (left
    join on the doc id: AQE broadcasts the span side when it fits).
    The cut itself is a JVM higher-order filter with the positional
    lambda — no explode, no Python. Adds 1 shuffle + 1 join on top
    of dup_window_spans' 3.
    """
    spans = (
        dup_window_spans(docs, id_col, text_col, k, seed, min_docs)
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("span_start", "span_end"))
             .alias("spans")))
    toks = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), tokens_col(text_col).alias("t"))
    sp = F.coalesce(
        F.col("spans"),
        F.array().cast("array<struct<span_start:long,span_end:long>>"))
    kept = F.filter(
        F.col("t"),
        lambda x, i: ~F.exists(
            sp, lambda s: (i >= s["span_start"]) & (i < s["span_end"])))
    return (
        toks.join(spans, id_col, "left")
        .select(
            F.col(id_col),
            F.array_join(kept, " ").alias("cleaned"),
            F.size(kept).cast("long").alias("n_tokens_kept"),
            (F.size("t") - F.size(kept)).cast("long")
            .alias("n_tokens_dropped")))
