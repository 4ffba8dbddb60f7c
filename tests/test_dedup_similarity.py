"""Dedup + similarity operator tests (exact, Jaccard, MinHash-LSH,
SimHash, embedding cosine, LSH ANN recall)."""
import numpy as np
import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "the quick brown fox jumps over the lazy dog today"),   # exact dup
        (2, "the quick brown fox jumps over the lazy cat today"),   # near dup
        (3, "completely different text about spark query engines"),
        (4, "another unrelated document discussing parquet files"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(3)
    base = rng.standard_normal(16).astype(np.float32)
    rows = [
        (0, [float(x) for x in base]),
        (1, [float(x) for x in base + 0.01]),          # near-dup of 0
        (2, [float(x) for x in -base]),                # opposite
        (3, [float(x) for x in rng.standard_normal(16)]),
        (4, [float(x) for x in rng.standard_normal(16)]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_exact_dedup(spark, docs):
    from document_extractor_spark.operators.dedup import exact_dedup_groups

    got = exact_dedup_groups(docs).toPandas()
    dup_groups = got[got.n_docs > 1]
    assert len(dup_groups) == 1
    assert dup_groups.iloc[0].n_docs == 2
    assert dup_groups.iloc[0].keeper_id == 0


def test_ngram_jaccard(spark, docs):
    from document_extractor_spark.operators.dedup import ngram_jaccard_pairs

    got = ngram_jaccard_pairs(docs, threshold=0.5).toPandas()
    pairs = set(zip(got.id_a, got.id_b))
    assert (0, 1) in pairs  # exact dup -> jaccard 1.0
    assert (0, 2) in pairs and (1, 2) in pairs  # one-word diff
    assert not any(3 in p or 4 in p for p in pairs)
    assert got[(got.id_a == 0) & (got.id_b == 1)].jaccard.iloc[0] == 1.0


def test_minhash_lsh_candidates(spark, docs):
    from document_extractor_spark.operators.dedup import (
        minhash_band_buckets,
        minhash_signatures,
    )

    sigs = minhash_signatures(docs, k=8).toPandas().set_index("doc_id")
    # identical docs -> identical signatures
    assert (sigs.loc[0] == sigs.loc[1]).all()
    buckets = minhash_band_buckets(docs, k=8, bands=4).toPandas()
    assert (buckets.n_docs > 1).all()
    assert len(buckets) >= 4  # 0 and 1 collide in every band


def test_minhash_candidate_pairs(spark, docs):
    from document_extractor_spark.operators.dedup import (
        minhash_candidate_pairs,
    )

    cand = minhash_candidate_pairs(docs, k=8, bands=4).toPandas()
    pairs = set(zip(cand.id_a, cand.id_b))
    assert (0, 1) in pairs          # exact dups collide in every band
    assert (cand.id_a < cand.id_b).all()
    assert not cand.duplicated(["id_a", "id_b"]).any()
    # hot-bucket cap: with every bucket over-cap, no candidates at all
    assert minhash_candidate_pairs(
        docs, k=8, bands=4, max_bucket_df=1).count() == 0


def test_minhash_verified_pairs(spark, docs):
    from document_extractor_spark.operators.dedup import (
        minhash_verified_pairs,
    )

    got = minhash_verified_pairs(docs, k=8, bands=4,
                                 threshold=0.5).toPandas()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in got.itertuples()}
    assert pairs[(0, 1)] == 1.0     # exact dup verified at jaccard 1
    # near dup (one word differs out of 9 distinct tokens): token-set
    # jaccard = 8/10 = 0.8 if LSH surfaced it; never a false positive
    for (a, b), j in pairs.items():
        assert j >= 0.5
    assert not any(3 in p or 4 in p for p in pairs)


def test_minhash_pipeline_edge_inputs(spark):
    from document_extractor_spark.operators.components import (
        dedup_decision)
    from document_extractor_spark.operators.dedup import (
        minhash_verified_pairs,
    )

    # NULL / empty / whitespace-only text and an empty frame
    rows = [(0, None), (1, ""), (2, "   "), (3, "real text here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_verified_pairs(docs)
    assert pairs.count() == 0
    dec = dedup_decision(docs, pairs).toPandas()
    assert dec.is_keeper.all()      # everyone keeps itself
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert minhash_verified_pairs(empty).count() == 0


def test_simhash(spark, docs):
    from document_extractor_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_neardup_pairs,
    )

    fp = simhash_fingerprints(docs).toPandas().set_index("doc_id").simhash
    assert fp.loc[0] == fp.loc[1]
    assert (fp >= 0).all()  # 63-bit, sign-safe
    ham = bin(int(fp.loc[0]) ^ int(fp.loc[2])).count("1")
    assert ham < bin(int(fp.loc[0]) ^ int(fp.loc[3])).count("1")
    pairs = simhash_neardup_pairs(docs, max_hamming=0).toPandas()
    assert {(0, 1)} <= set(zip(pairs.id_a, pairs.id_b))


def test_embedding_neardup(spark, emb):
    from document_extractor_spark.operators.dedup import (
        _embedding_neardup_pairs_exact,
    )

    got = _embedding_neardup_pairs_exact(emb, threshold=0.95).toPandas()
    assert set(zip(got.id_a, got.id_b)) == {(0, 1)}


def test_embedding_neardup_lsh(spark, emb):
    from document_extractor_spark.operators.dedup import (
        _embedding_neardup_pairs_exact, embedding_neardup_pairs_lsh,
    )

    # exact dups share every hyperplane sign bit -> recall 1.0 for them
    dups = emb.withColumn("vec_id", F.col("vec_id") + 100)
    salted = emb.unionByName(dups)
    got = embedding_neardup_pairs_lsh(salted, threshold=0.999,
                                      n_bits=4).toPandas()
    pairs = set(zip(got.id_a, got.id_b))
    assert {(i, i + 100) for i in range(5)} <= pairs
    # cosine values agree with the brute-force path on shared pairs
    brute = _embedding_neardup_pairs_exact(salted, threshold=0.999).toPandas()
    bmap = {(r.id_a, r.id_b): r.cosine for r in brute.itertuples()}
    for r in got.itertuples():
        assert abs(bmap[(r.id_a, r.id_b)] - r.cosine) < 1e-6

    # scale guard: the plan must join on bucket, never cross join
    plan = embedding_neardup_pairs_lsh(salted)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_embedding_lsh_flat_dot_matches_fold(spark):
    """dim= (flat codegen dot) must be BIT-identical to the default
    interpreted fold on every pair — adversarial floats included
    (negative zeros, denormal-ish magnitudes, sign cancellations)."""
    import random

    from document_extractor_spark.operators.dedup import (
        embedding_neardup_pairs_lsh,
    )

    random.seed(7)
    rows = []
    for i in range(60):
        v = [random.choice([0.0, -0.0, 1e-20, -1e-20,
                            random.uniform(-2, 2)])
             for _ in range(8)]
        rows.append((i, v))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>")
    kw = dict(threshold=-2.0, n_bits=2)  # keep every candidate pair
    flat = sorted(map(tuple, embedding_neardup_pairs_lsh(
        emb, dim=8, **kw).collect()))
    fold = sorted(map(tuple, embedding_neardup_pairs_lsh(
        emb, **kw).collect()))
    assert flat == fold


def test_embedding_lsh_arrow_pairs_matches_join(spark):
    """arrow_pairs=True (per-bucket gram kernel) must equal the
    join+fold path exactly — ids, cosines, everything. (No zero
    vectors here: the join path's double division raises ANSI
    DIVIDE_BY_ZERO on a zero norm — pre-existing r5 behavior — while
    the kernel path skips such pairs; every real producer filters or
    never emits zero vectors.)"""
    import random

    from document_extractor_spark.operators.dedup import (
        embedding_neardup_pairs_lsh,
    )

    random.seed(11)
    rows = []
    for i in range(120):
        v = [random.uniform(-2, 2) for _ in range(8)]
        rows.append((i, v))
    # salted exact dups must all be recovered on both paths
    rows += [(i + 1000, list(v)) for i, v in rows[:40]]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>")
    for thr in (0.95, 0.5, -0.5):
        kern = sorted(map(tuple, embedding_neardup_pairs_lsh(
            emb, threshold=thr, n_bits=3, dim=8,
            arrow_pairs=True).collect()))
        join = sorted(map(tuple, embedding_neardup_pairs_lsh(
            emb, threshold=thr, n_bits=3, dim=8).collect()))
        assert kern == join, thr
    assert len(kern) > 0  # the -0.5 sweep really produced pairs


def test_embedding_neardup_lsh_empty(spark):
    from pyspark.sql import types as T

    from document_extractor_spark.operators.dedup import (
        embedding_neardup_pairs_lsh,
    )

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    assert embedding_neardup_pairs_lsh(
        spark.createDataFrame([], schema)).count() == 0


def test_brute_topk_and_lsh_recall(spark, emb):
    from document_extractor_spark.operators.similarity import (
        brute_force_topk,
        lsh_build,
        lsh_query,
    )

    qv = emb.filter(F.col("vec_id") == 0).head()[1]
    brute = brute_force_topk(emb, list(qv), k=3).toPandas()
    assert brute.vec_id.iloc[0] == 0  # self-match first
    assert brute.cosine.iloc[0] == 1.0
    assert brute.vec_id.iloc[1] == 1  # near-dup second
    index = lsh_build(emb, n_bits=4, persist=False)
    approx = lsh_query(index, list(qv), k=3).toPandas()
    # the near-dup must land in the probed buckets
    assert {0, 1} <= set(approx.vec_id)


def test_lsh_deterministic(spark, emb):
    from document_extractor_spark.operators.similarity import lsh_bucketed

    a = lsh_bucketed(emb, n_bits=6, seed=7).toPandas().set_index("vec_id")
    b = lsh_bucketed(emb, n_bits=6, seed=7).toPandas().set_index("vec_id")
    assert (a.bucket == b.bucket).all()
    # near-identical vectors share a bucket
    assert a.bucket.loc[0] == a.bucket.loc[1]


def test_ivf_all_cells_is_exact(spark, emb):
    from document_extractor_spark.operators.similarity import (
        brute_force_topk, ivf_topk,
    )

    qv = [float(x) for x in
          emb.filter("vec_id = 0").head()["embedding"]]
    exact = brute_force_topk(emb, qv, k=3).toPandas()
    full = ivf_topk(emb, qv, k=3, n_cells=2, nprobe=2).toPandas()
    assert list(full.vec_id) == list(exact.vec_id)
    assert list(full.cosine) == list(exact.cosine)


def test_ivf_recall_on_clustered_data(spark):
    from document_extractor_spark.operators.similarity import (
        brute_force_topk, ivf_topk,
    )

    # 4 well-separated clusters of 25 vectors: the coarse quantizer
    # must put the query's true neighbors in the probed cell
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((4, 16)) * 10
    rows = []
    for i in range(100):
        c = i % 4
        rows.append((i, [float(x) for x in
                         centers[c] + rng.standard_normal(16) * 0.1]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qv = [float(x) for x in centers[0]]
    exact = set(brute_force_topk(df, qv, k=10).toPandas().vec_id)
    got = set(ivf_topk(df, qv, k=10, n_cells=4, nprobe=1,
                       seed=5).toPandas().vec_id)
    assert len(exact & got) / 10 >= 0.9


def test_ngram_jaccard_hot_shingle_cap(spark):
    """The df cap removes boilerplate-driven pairs but keeps true
    near-dups (which share mostly rare shingles)."""
    from document_extractor_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "all rights reserved contact us for details"
    rows = []
    # 30 unrelated docs sharing ONLY the boilerplate phrase
    for i in range(30):
        rows.append((i, f"{boiler} unique body {i} alpha{i} beta{i} "
                        f"gamma{i} delta{i} epsilon{i} zeta{i}"))
    # one true near-dup pair sharing most of their rare shingles
    rows.append((100, "solar panel efficiency rose sharply across the "
                      "northern region during the second quarter"))
    rows.append((101, "solar panel efficiency rose sharply across the "
                      "northern region during the third quarter"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = ngram_jaccard_pairs(
        docs, threshold=0.03, max_shingle_df=None).toPandas()
    capped = ngram_jaccard_pairs(
        docs, threshold=0.03, max_shingle_df=10).toPandas()

    # cap=10 kills the df=30 boilerplate shingles: the quadratic
    # 30-doc clique disappears, the true pair survives
    assert len(uncapped) > len(capped)
    got_pairs = set(map(tuple, capped[["id_a", "id_b"]].values.tolist()))
    assert (100, 101) in got_pairs
    boiler_ids = set(range(30))
    assert all(not ({a, b} <= boiler_ids) for a, b in got_pairs)
    # true-pair jaccard unchanged by the cap (its shingles are all rare)
    j_un = uncapped.set_index(["id_a", "id_b"]).jaccard.get((100, 101))
    j_cap = capped.set_index(["id_a", "id_b"]).jaccard.get((100, 101))
    assert j_un == j_cap


def test_ngram_jaccard_cap_noop_on_corpus(spark):
    """On the synthetic documents table (max shingle df = 9) the query
    cap (500) provably changes nothing — recall is intact."""
    from document_extractor_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = ngram_jaccard_pairs(
        docs, threshold=0.03, max_shingle_df=None).toPandas()
    capped = ngram_jaccard_pairs(
        docs, threshold=0.03, max_shingle_df=500).toPandas()
    key = ["id_a", "id_b"]
    assert (set(map(tuple, base[key].values.tolist()))
            == set(map(tuple, capped[key].values.tolist())))


# ids past 32 bits and below zero, so the dense ranking (not the raw
# id) is what packs a pair into one int64 key
_NGRAM_IDS = [2 ** 40 + 7, -3, 2 ** 33, -(2 ** 35), 0, 1, 2 ** 62, 17]
_NGRAM_CAP = 4


def _ngram_corpus():
    """(rows, hot_kept, hot_dropped): near-dup families over a small
    vocabulary, docs under 3 tokens, and two one-phrase groups whose
    shared shingle has df == cap (kept) and df == cap + 1 (dropped).
    Rows come in shuffled id order."""
    import random

    rnd = random.Random(11)
    vocab = [f"w{i}" for i in range(30)]
    texts = []
    for fam in range(6):
        base = [rnd.choice(vocab) for _ in range(rnd.randint(8, 30))]
        for _ in range(rnd.randint(2, 6)):
            t = list(base)
            for _ in range(rnd.randint(0, 4)):
                t[rnd.randrange(len(t))] = rnd.choice(vocab)
            texts.append(" ".join(t) if fam % 2 else "\t".join(t).upper())
    texts += ["", "   ", "one", "two words", "w1  w2\n", None]
    n = len(texts)
    hot_kept = [f"hot alpha beta k{i}" for i in range(_NGRAM_CAP)]
    hot_dropped = [f"hot gamma delta d{i}" for i in range(_NGRAM_CAP + 1)]
    texts += hot_kept + hot_dropped
    ids = _NGRAM_IDS + [1000 + i for i in range(len(texts))]
    rows = list(zip(ids, texts))
    rnd.shuffle(rows)
    kept = set(ids[n:n + _NGRAM_CAP])
    dropped = set(ids[n + _NGRAM_CAP:len(texts)])
    return rows, kept, dropped


def _ngram_reference(rows, threshold, cap, n=3):
    """Brute-force {(id_a, id_b): jaccard} over md5-60 shingle sets."""
    import hashlib
    from collections import Counter
    from itertools import combinations

    from document_extractor_spark.operators.dedup import _WS_SPLIT_RE

    sets = {}
    for i, t in rows:
        toks = [x for x in _WS_SPLIT_RE.split((t or "").lower()) if x]
        sets[i] = {int(hashlib.md5(" ".join(toks[k:k + n]).encode())
                       .hexdigest()[:15], 16)
                   for k in range(len(toks) - n + 1)}
    df = Counter(h for s in sets.values() for h in s)
    out = {}
    for a, b in combinations(sorted(sets), 2):
        inter = sum(1 for h in sets[a] & sets[b]
                    if cap is None or df[h] <= cap)
        if inter:
            j = inter / (len(sets[a]) + len(sets[b]) - inter)
            assert abs(j - threshold) > 1e-6, "corpus sits on threshold"
            if j >= threshold:
                out[(a, b)] = j
    return out


@pytest.mark.parametrize("case", ["one_range", "cap_none", "ranges",
                                  "tiny_budget"])
def test_ngram_jaccard_matches_bruteforce(spark, tmp_path, monkeypatch,
                                          case):
    """The Arrow pair kernel equals a brute-force reference: same pair
    set, jaccard within 1e-6, at one shingle range and at several
    (hash partitioning then sends several of a doc's ranges to one
    task), and with a pair budget small enough to cut the expansion
    into chunks mid-corpus."""
    from document_extractor_spark.operators import dedup as D

    rows, hot_kept, hot_dropped = _ngram_corpus()
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(path)
    docs = spark.read.parquet(path)
    cap = None if case == "cap_none" else _NGRAM_CAP
    if case == "ranges":
        monkeypatch.setattr(D, "RANGE_BYTES", 1)
        b = D._shingle_ranges(docs)
        tasks = (spark.range(b).repartition(b, "id")
                 .select(F.spark_partition_id()).distinct().count())
        assert 1 < tasks < b  # some task holds several of a doc's ranges
    else:
        assert D._shingle_ranges(docs) == 1
    if case == "tiny_budget":
        monkeypatch.setattr(D, "PAIR_BUDGET", 3)
    threshold = 0.2
    want = _ngram_reference(rows, threshold, cap)
    got = {(a, b): j for a, b, j in D.ngram_jaccard_pairs(
        docs, threshold=threshold, max_shingle_df=cap).collect()}
    assert set(got) == set(want)
    assert all(abs(got[k] - want[k]) <= 1e-6 for k in want)
    assert any(a >= 2 ** 32 or a < 0 or b >= 2 ** 32 or b < 0
               for a, b in want)
    kept_pairs = {k for k in want if set(k) <= hot_kept}
    dropped_pairs = {k for k in want if set(k) <= hot_dropped}
    assert len(kept_pairs) == _NGRAM_CAP * (_NGRAM_CAP - 1) // 2
    if cap is None:
        assert len(dropped_pairs) == _NGRAM_CAP * (_NGRAM_CAP + 1) // 2
    else:
        assert not dropped_pairs


def test_ngram_jaccard_range_constants(spark, tmp_path, monkeypatch):
    """B = ceil(plan size estimate / RANGE_BYTES), read from a widened
    parquet scan as the registered queries build it. The constants
    are the bounds SCALE.md quotes; 4 MiB is ~7x the largest documents
    table of the test data (sf0.1 estimates 594,568 B), so every
    parquet input here runs one range."""
    from document_extractor_spark.operators import dedup as D

    assert D.RANGE_BYTES == 4 << 20 and D.PAIR_BUDGET == 20_000
    path = str(tmp_path / "docs")
    spark.range(200).selectExpr(
        "id AS doc_id", "repeat('a b ', id) AS text").write.parquet(path)
    docs = D.widen_narrow_input(spark.read.parquet(path))
    est = int(str(docs._jdf.queryExecution().optimizedPlan().stats()
                  .sizeInBytes()))
    assert D._shingle_ranges(docs) == 1
    monkeypatch.setattr(D, "RANGE_BYTES", est)
    assert D._shingle_ranges(docs) == 1
    monkeypatch.setattr(D, "RANGE_BYTES", est - 1)
    assert D._shingle_ranges(docs) == 2


def test_ivf_build_once_query_many(spark, emb, monkeypatch):
    """The build/query split must fit k-means exactly once for any
    number of queries (the per-query-refit anti-pattern is gone)."""
    from pyspark.ml.clustering import KMeans

    from document_extractor_spark.operators.similarity import (
        brute_force_topk, ivf_build, ivf_query)

    fits = {"n": 0}
    orig_fit = KMeans.fit

    def counting_fit(self, dataset, *a, **kw):
        fits["n"] += 1
        return orig_fit(self, dataset, *a, **kw)

    monkeypatch.setattr(KMeans, "fit", counting_fit)

    index = ivf_build(emb, n_cells=2, seed=7)
    q0 = emb.filter(F.col("vec_id") == 0).head().embedding
    q3 = emb.filter(F.col("vec_id") == 3).head().embedding
    r0 = ivf_query(index, list(q0), k=3, nprobe=2).toPandas()
    r3 = ivf_query(index, list(q3), k=3, nprobe=2).toPandas()
    assert fits["n"] == 1  # one build, zero refits across queries
    # nprobe == n_cells == 2 probes everything -> equals brute force
    b0 = brute_force_topk(emb, list(q0), k=3).toPandas()
    assert r0.vec_id.tolist() == b0.vec_id.tolist()
    assert len(r3) == 3
    index.assigned.unpersist()


def test_simhash_vectorized_matches_scalar(spark):
    """Bit-for-bit parity of the numpy-vectorized UDF vs the scalar
    spec, incl. empty/null/whitespace edge cases, plus throughput
    sanity on the synthetic corpus."""
    from document_extractor_spark.operators.dedup import (
        simhash63_scalar, simhash_fingerprints)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    edge = spark.createDataFrame(
        [(9001, ""), (9002, None), (9003, "   "), (9004, "one"),
         (9005, "a b c d e f g h i j")],
        "doc_id long, text string")
    allr = docs.select("doc_id", "text").unionByName(edge)
    got = simhash_fingerprints(allr).toPandas().set_index("doc_id").simhash
    src = allr.toPandas().set_index("doc_id").text
    for doc_id, text in src.items():
        assert got[doc_id] == simhash63_scalar(text), doc_id


def test_lsh_build_once_query_many(spark, emb, monkeypatch):
    """The LSH build/query split must sign the corpus exactly once for
    any number of queries (mirrors ivf_build/ivf_query; the per-query
    corpus re-sign anti-pattern is gone). Two checks: (a) lsh_query
    never calls the signer, (b) the query plan reads the persisted
    bucketed table from cache (InMemoryTableScan), not a rebuild."""
    from document_extractor_spark.operators import similarity as S

    signs = {"n": 0}
    orig = S.lsh_bucketed

    def counting_bucketed(*a, **kw):
        signs["n"] += 1
        return orig(*a, **kw)

    monkeypatch.setattr(S, "lsh_bucketed", counting_bucketed)

    index = S.lsh_build(emb, n_bits=4, seed=7)
    index.bucketed.count()  # materialize the cache
    q0 = emb.filter(F.col("vec_id") == 0).head().embedding
    q3 = emb.filter(F.col("vec_id") == 3).head().embedding
    r0 = S.lsh_query(index, list(q0), k=3).toPandas()
    r3 = S.lsh_query(index, list(q3), k=3).toPandas()
    assert signs["n"] == 1  # one signing pass, zero re-signs per query

    plan = (S.lsh_query(index, list(q0), k=3)
            ._jdf.queryExecution().executedPlan().toString())
    assert "InMemoryTableScan" in plan

    assert r0.vec_id.iloc[0] == 0  # self-match first from the cache
    assert len(r3) >= 1
    index.bucketed.unpersist()


def test_incremental_dedup_semantics(spark):
    """Cross-snapshot anti-join: batch docs whose normalized
    fingerprint already exists in the seen corpus are dropped;
    whitespace/case variants collapse; NULL-text batch docs are kept
    (no fingerprint to match)."""
    from pyspark.sql import functions as F

    from document_extractor_spark.functions.textstats import fingerprint

    seen = spark.createDataFrame(
        [(1, "Hello   World"), (2, "unique seen doc")],
        "doc_id: long, text: string")
    batch = spark.createDataFrame(
        [(10, "hello world"),        # ws/case variant of seen 1 -> drop
         (11, "genuinely new text"),  # keep
         (12, None)],                 # NULL fp -> keep
        "doc_id: long, text: string")
    fp = fingerprint(F.col("text"))
    seen_fps = seen.select(fp.alias("fp")).distinct()
    out = (batch.withColumn("fp", fp)
           .join(seen_fps, "fp", "left_anti"))
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [11, 12]


def test_minhash_incremental_decision(spark):
    from document_extractor_spark.operators.dedup import (
        minhash_incremental_decision,
    )

    seen = spark.createDataFrame([
        (0, "the quick brown fox jumps over the lazy dog today"),
        (2, "completely different text about spark query engines"),
        (4, None),
    ], "doc_id long, text string")
    new = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog today"),  # dup of 0
        (3, "entirely novel content never before seen anywhere"),
        (5, ""),
    ], "doc_id long, text string")
    got = minhash_incremental_decision(new, seen).toPandas() \
        .set_index("doc_id")
    assert got.loc[1, "dup_of"] == 0 and not got.loc[1, "is_unique"]
    assert got.loc[3, "is_unique"] and got.loc[5, "is_unique"]
    # every new doc gets a row, none of the seen side leaks in
    assert set(got.index) == {1, 3, 5}
    # hot-bucket cap: cap 0-sized buckets -> everything unique
    capped = minhash_incremental_decision(
        new, seen, max_bucket_df=0).toPandas()
    assert capped.is_unique.all()
    # empty seen corpus -> all unique
    empty = spark.createDataFrame([], "doc_id long, text string")
    allnew = minhash_incremental_decision(new, empty).toPandas()
    assert allnew.is_unique.all()


def test_incremental_decision_with_precomputed_seen_bands(spark, tmp_path):
    """The production path: seen_band_table persisted to parquet and
    read back must yield byte-identical decisions to the inline
    derivation (same k/bands), including under the hot-bucket cap."""
    from document_extractor_spark.operators.dedup import (
        minhash_incremental_decision,
        seen_band_table,
    )

    seen = spark.createDataFrame([
        (0, "the quick brown fox jumps over the lazy dog today"),
        (2, "completely different text about spark query engines"),
        (4, "shared boilerplate header shared boilerplate header"),
        (6, "shared boilerplate header shared boilerplate header"),
    ], "doc_id long, text string")
    new = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog today"),
        (3, "entirely novel content never before seen anywhere"),
        (5, "shared boilerplate header shared boilerplate header"),
    ], "doc_id long, text string")

    path = str(tmp_path / "seen_bands")
    seen_band_table(seen).write.parquet(path)
    bands = spark.read.parquet(path)

    def canon(df):
        pdf = df.toPandas()
        return sorted(
            tuple(None if v != v else v for v in row)
            for row in pdf.itertuples(index=False))

    for cap in (1000, 1, 0):
        inline = minhash_incremental_decision(new, seen, max_bucket_df=cap)
        precomp = minhash_incremental_decision(
            new, seen, max_bucket_df=cap, seen_bands=bands)
        assert canon(inline) == canon(precomp), cap
    # and the uncapped default finds the true dups
    got = minhash_incremental_decision(
        new, seen, seen_bands=bands).toPandas().set_index("doc_id")
    assert got.loc[1, "dup_of"] == 0
    assert got.loc[5, "dup_of"] == 4
    assert got.loc[3, "is_unique"]


def test_simhash_pigeonhole_recall_equals_bruteforce(spark):
    """Pigeonhole blocking (4 blocks over 63 bits) must find EXACTLY
    the brute-force hamming<=3 pair set — the old single top-16 block
    missed any pair whose differing bits touched the top block."""
    import itertools

    from document_extractor_spark.operators.dedup import (
        simhash63_scalar, simhash_neardup_pairs)

    base = ("the quick brown fox jumps over the lazy dog while "
            "market reports show strong revenue growth this quarter")
    rows = [(i, base.replace("quarter", w))
            for i, w in enumerate(
                ["quarter", "quartet", "period", "cycle", "qtr",
                 "season", "window", "term", "phase", "stretch"])]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {i: simhash63_scalar(t) for i, t in rows}
    brute = {(a, b) for a, b in itertools.combinations(sorted(fps), 2)
             if fps[a] and fps[b]
             and bin(fps[a] ^ fps[b]).count("1") <= 3}
    got = simhash_neardup_pairs(docs, max_hamming=3).toPandas()
    assert set(zip(got.id_a, got.id_b)) == brute
    assert not got.duplicated(["id_a", "id_b"]).any()
