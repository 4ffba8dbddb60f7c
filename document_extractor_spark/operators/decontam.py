"""Benchmark decontamination for training-data pipelines.

The standard pre-training hygiene pass (GPT-3 appendix C / PaLM /
Llama data cards): a training document is CONTAMINATED if it shares
any n-token n-gram (n=13 is the published convention) with a held-out
evaluation set. Contaminated docs are dropped — or at minimum
flagged — before training, so eval numbers measure generalization
rather than memorization of leaked test items.

The reference pipeline has no analog (it extracts, it doesn't build
corpora); this operator completes the scrub -> quality -> dedup ->
DECONTAMINATE -> sample chain of SURVEY.md §2.5c.

Spark shape (10^12 train docs, ~10^6 benchmark items): the benchmark
n-gram set is tiny relative to the corpus — it is distinct-reduced and
BROADCAST, so the membership probe is a map-side hash lookup with zero
shuffle on the corpus side; the only corpus shuffle is the final
per-doc hit count. Grams travel as 60-bit md5-derived hashes (8-byte
broadcast entries, SQL-reproducible — see dedup module doc).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import seed_hash, shingles_col, tokens_col

NGRAM_N = 13  # the published decontamination convention (GPT-3 app. C)
_SEED = 23


def benchmark_ngram_set(bench: DataFrame, text_col: str = "text",
                        n: int = NGRAM_N) -> DataFrame:
    """Distinct n-gram hash set of a benchmark table -> ('gram': long).

    One small groupBy (distinct) on the benchmark side only; the
    result is the broadcast build side of `decontaminate_marks`.
    """
    return (
        bench.select(F.explode(
            shingles_col(tokens_col(text_col), n)).alias("g"))
        .select(seed_hash(F.col("g"), _SEED).alias("gram"))
        .distinct()
    )


def decontaminate_marks(docs: DataFrame, bench_grams: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        n: int = NGRAM_N) -> DataFrame:
    """(id_col, n_hits, contaminated) for EVERY input doc.

    n_hits = number of DISTINCT benchmark n-grams the doc contains
    (distinct, so a doc repeating one leaked gram 100x scores 1 —
    the decision signal is overlap breadth, not repetition);
    contaminated = n_hits > 0. Docs shorter than n tokens have no
    grams and come back (0, false) — present, not absent, because the
    caller's keep/drop join must cover the whole corpus.

    Scale shape: explode is narrow; the membership probe is an INNER
    join against the broadcast-pinned gram set (hits are rare, so the
    joined stream is a sliver of the corpus); countDistinct(gram) per
    doc is the one corpus shuffle, on the doc id — uniform. The
    full-corpus restore is a left join of hits back onto the doc-id
    projection: the hit table is bounded by contaminated docs, which
    AQE broadcasts when small and shuffles uniformly otherwise.
    """
    grams = docs.select(
        F.col(id_col),
        F.explode(shingles_col(tokens_col(text_col), n)).alias("g")
    ).select(F.col(id_col), seed_hash(F.col("g"), _SEED).alias("gram"))
    hits = (
        grams.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.countDistinct("gram").alias("n_hits"))
    )
    return (
        docs.select(F.col(id_col))
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
            .alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0)
            .alias("contaminated"))
    )
