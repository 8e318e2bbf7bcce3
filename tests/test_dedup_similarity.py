"""Dedup tiers (exact, MinHash-LSH, SimHash, n-gram Jaccard) and similarity
search (brute-force cosine vs LSH recall) on constructed fixtures with known
ground truth."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mbrngq_spark.operators import dedup, similarity
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def dup_docs(spark):
    """Corpus with planted duplicates: 40 base docs; ids 1000+i exact-dup of
    i; ids 2000+i near-dup (one token changed) of i."""
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .filter(F.col("doc_id") < 40).select("doc_id", "text")
    exact = base.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    near = base.select(
        (F.col("doc_id") + 2000).alias("doc_id"),
        F.concat(F.lit("zzz"), F.substring("text", 4, 100000)).alias("text"))
    return base.unionByName(exact).unionByName(near).cache()


def test_exact_dedup(spark, dup_docs):
    got = dedup.exact_duplicates(dup_docs).toPandas()
    # every base doc's text appears twice (base + planted exact dup)
    assert (got["dup_count"] == 2).sum() == 40
    # keeper is always the lower id
    assert (got[got.dup_count == 2]["keeper_id"] < 1000).all()


def test_minhash_lsh_finds_planted_near_dups(spark, dup_docs):
    got = dedup.near_duplicates_minhash(dup_docs, threshold=0.5,
                                        num_hashes=16, bands=8).toPandas()
    pairs = set(map(tuple, got[["id_a", "id_b"]].values))
    # exact dups (jaccard 1.0) must all be found
    exact_expected = {(i, i + 1000) for i in range(40)}
    assert exact_expected <= pairs
    # most near-dups (first shingles perturbed) found
    near_found = sum((i, i + 2000) in pairs for i in range(40))
    assert near_found >= 30
    # jaccard values are exact: planted exact dups score 1.0
    ex = got[(got.id_a < 1000) & (got.id_b == got.id_a + 1000)]
    assert (ex["jaccard"] == 1.0).all()


def test_jaccard_matches_python_oracle(spark, dup_docs):
    texts = {r.doc_id: r.text for r in dup_docs.collect()}
    pairs = spark.createDataFrame(pd.DataFrame(
        {"id_a": [0, 1, 2], "id_b": [2000, 2001, 2002]}))
    got = dedup.jaccard_pairs(dup_docs, pairs).toPandas()

    def sh(t):
        toks = t.split(" ")
        return set(" ".join(toks[j:j + 3]) for j in range(max(len(toks) - 2, 1)))
    for r in got.itertuples():
        a, b = sh(texts[r.id_a]), sh(texts[r.id_b])
        exp = len(a & b) / len(a | b)
        assert r.jaccard == pytest.approx(exp, abs=1e-12)


def test_simhash_near_dups(spark, dup_docs):
    got = dedup.simhash_near_dups(dup_docs, max_hamming=8).toPandas()
    pairs = set(map(tuple, got[["id_a", "id_b"]].values))
    # exact dups have hamming 0 → always found
    assert {(i, i + 1000) for i in range(40)} <= pairs
    ex = got[(got.id_a < 1000) & (got.id_b == got.id_a + 1000)]
    assert (ex["hamming"] == 0).all()


def test_dedup_pipeline_keeps_family_minima(spark, dup_docs):
    """Composed exact→near-dup pipeline: of each planted family
    {i, i+1000 exact, i+2000 near}, only the base id survives; unrelated
    docs all survive."""
    keep = set(r.doc_id for r in
               dedup.dedup_pipeline(dup_docs, threshold=0.6,
                                    num_hashes=16, bands=8).collect())
    base = {i for i in
            (r.doc_id for r in dup_docs.select("doc_id").collect())
            if i < 1000}
    # every survivor is a base doc (planted exact AND near dups all have
    # larger ids than their base, so the greedy rule always drops them);
    # most base docs survive — the few dropped are NATURAL near-dups of a
    # smaller base id in the testdata corpus, which is correct behavior
    assert keep <= base
    assert len(keep) >= len(base) - 5
    assert not any(i + 1000 in keep or i + 2000 in keep for i in base)


def test_simhash_degenerate_bucket_guard(spark):
    """Planted skew: a boilerplate cluster (hundreds of identical short
    docs → one (chunk_idx, chunk_value) key) must be dropped by the bucket
    cap instead of exploding the self-join quadratically, while normal-size
    buckets keep matching."""
    n_boiler = 500
    pdf = pd.DataFrame({
        "doc_id": list(range(n_boiler)) + [9000, 9001],
        "text": ["boilerplate header footer"] * n_boiler
        + ["a genuinely distinct sentence of text"] * 2,
    })
    docs = spark.createDataFrame(pdf)
    got = dedup.simhash_near_dups(docs, max_hamming=0,
                                  max_bucket=100).toPandas()
    pairs = set(map(tuple, got[["id_a", "id_b"]].values))
    assert (9000, 9001) in pairs                  # small bucket still matches
    assert not any(a < n_boiler and b < n_boiler for a, b in pairs), \
        "degenerate boilerplate bucket leaked through the cap"
    # and with the cap lifted the same family IS quadratic — the guard is
    # what stands between this and a straggler at corpus scale
    uncapped = dedup.simhash_near_dups(
        docs.filter(F.col("doc_id") < 40), max_hamming=0,
        max_bucket=10_000).toPandas()
    assert len(uncapped) == 40 * 39 // 2


def test_embedding_lsh_degenerate_bucket_guard(spark):
    """Same contract for the banded embedding-LSH: a constant-embedding
    cluster saturates one bucket per band; the cap drops those buckets and
    bounds candidate volume, while planted normal dups survive via their
    own (small) band buckets."""
    rng = np.random.default_rng(3)
    dim = 32
    n_const = 500
    const = rng.standard_normal(dim)
    dup = rng.standard_normal(dim)
    rand = rng.standard_normal((100, dim))
    pdf = pd.DataFrame({
        "vec_id": list(range(n_const)) + [600, 601] +
        list(range(700, 800)),
        "embedding": [const.astype("float32").tolist()] * n_const
        + [dup.astype("float32").tolist()] * 2
        + [v.astype("float32").tolist() for v in rand],
    })
    corpus = spark.createDataFrame(pdf)
    got = similarity.embedding_near_dups(corpus, threshold=0.999, dim=dim,
                                         max_bucket=100).toPandas()
    pairs = set(map(tuple, got[["id_a", "id_b"]].values))
    assert (600, 601) in pairs
    assert not any(a < n_const and b < n_const for a, b in pairs), \
        "degenerate constant-vector buckets leaked through the cap"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_bruteforce_self_match(spark, emb):
    queries = emb.filter(F.col("vec_id") < 8) \
        .select(F.col("vec_id").alias("q_id"), "embedding")
    exact = similarity.cosine_topk_bruteforce(emb, queries, k=10).toPandas()
    ex1 = exact[exact.rnk == 1]
    assert (ex1.q_id == ex1.vec_id).all()
    assert (ex1.cos == 1.0).all()


def test_lsh_topk_recall_on_clustered_vectors(spark):
    """LSH recall is meaningful on data WITH near neighbors (the testdata
    embeddings are near-orthogonal noise — top-10 cosine ≈ 0.3 — where no
    ANN structure can help). Planted clusters: 40 centers × 10 members,
    noise σ=0.15 → true neighbors at cos ≈ 0.9."""
    rng = np.random.default_rng(42)
    dim = 32
    centers = rng.standard_normal((40, dim))
    vecs = np.repeat(centers, 10, axis=0) + \
        0.15 * rng.standard_normal((400, dim))
    pdf = pd.DataFrame({
        "vec_id": np.arange(400),
        "embedding": [v.astype("float32").tolist() for v in vecs],
    })
    corpus = spark.createDataFrame(pdf)
    queries = corpus.filter(F.col("vec_id") % 50 == 0) \
        .select(F.col("vec_id").alias("q_id"), "embedding")
    exact = similarity.cosine_topk_bruteforce(corpus, queries, k=10).toPandas()
    approx = similarity.cosine_topk_lsh(corpus, queries, k=10, dim=dim,
                                        n_planes=8).toPandas()
    hits = total = 0
    for q in exact.q_id.unique():
        e = set(exact[exact.q_id == q]["vec_id"])
        a = set(approx[approx.q_id == q]["vec_id"])
        hits += len(e & a)
        total += len(e)
    assert hits / total >= 0.8, f"LSH recall too low: {hits}/{total}"


def test_ivf_recall_and_kmeans_balance(spark):
    """IVF on planted clusters: pivot-IVF (data-resident list centers)
    finds neighbors at nprobe=4 of 16 lists."""
    rng = np.random.default_rng(7)
    dim = 32
    centers = rng.standard_normal((40, dim))
    vecs = np.repeat(centers, 10, axis=0) + \
        0.15 * rng.standard_normal((400, dim))
    pdf = pd.DataFrame({
        "vec_id": np.arange(400),
        "embedding": [v.astype("float32").tolist() for v in vecs],
    })
    corpus = spark.createDataFrame(pdf)
    queries = corpus.filter(F.col("vec_id") % 50 == 0) \
        .select(F.col("vec_id").alias("q_id"), "embedding")
    exact = similarity.cosine_topk_bruteforce(corpus, queries, k=10).toPandas()

    def recall(approx):
        hits = total = 0
        for q in exact.q_id.unique():
            e = set(exact[exact.q_id == q]["vec_id"])
            a = set(approx[approx.q_id == q]["vec_id"])
            hits += len(e & a)
            total += len(e)
        return hits / total

    got_piv = similarity.cosine_topk_ivf(corpus, queries, k=10, nlist=16,
                                         nprobe=4).toPandas()
    assert recall(got_piv) >= 0.5


def test_embedding_near_dups_self_consistency(spark, emb):
    # plant an exact duplicate vector
    dup = emb.filter(F.col("vec_id") == 0) \
        .select((F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label")
    corpus = emb.unionByName(dup)
    dim = len(emb.select("embedding").first()[0])
    got = similarity.embedding_near_dups(corpus, threshold=0.999, dim=dim) \
        .toPandas()
    assert (0, 10000) in set(map(tuple, got[["id_a", "id_b"]].values))


def test_simhash_banding_full_recall_at_large_hamming(spark):
    """The candidate chunk count scales with max_hamming (pigeonhole), so
    the operator must return EXACTLY the brute-force pair set at any
    threshold — 4 fixed chunks would silently miss hamming-4..10 pairs."""
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .filter(F.col("doc_id") < 50).select("doc_id", "text")
    near = base.select((F.col("doc_id") + 5000).alias("doc_id"),
                       F.concat(F.lit("qqq xx"),
                                F.substring("text", 8, 10**6)).alias("text"))
    docs = base.unionByName(near)
    sk = docs.select("doc_id", dedup.simhash_col(F.col("text")).alias("sh")) \
        .toPandas()
    ids = sk["doc_id"].to_numpy()
    sh = sk["sh"].to_numpy().astype(np.uint64)
    xor = sh[:, None] ^ sh[None, :]
    ham = np.zeros_like(xor, dtype=np.int64)
    for b in range(64):
        ham += ((xor >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
    H = 10
    iu, ju = np.nonzero(np.triu(ham <= H, k=1))
    exp = {(int(min(ids[i], ids[j])), int(max(ids[i], ids[j]))): int(ham[i, j])
           for i, j in zip(iu, ju)}
    got = dedup.simhash_near_dups(docs, max_hamming=H,
                                  max_bucket=10_000).toPandas()
    got_d = {(int(r.id_a), int(r.id_b)): int(r.hamming)
             for r in got.itertuples()}
    assert got_d == exp
    assert any(v > 3 for v in exp.values()), \
        "fixture too easy: no pair beyond the old 4-chunk guarantee"


def test_flat_lsh_rejects_codegen_cliff_widths(spark):
    """cosine_topk_lsh's JVM fold kernel is capped at 16 planes — wider
    sketches must be rejected with a pointer to the banded NumPy kernel."""
    import pytest

    from mbrngq_spark.operators.similarity import _bucket_col, _hyperplanes

    with pytest.raises(ValueError, match="banded NumPy"):
        _bucket_col(F.col("embedding"), _hyperplanes(16, 17))


def test_contamination_check_flags_planted_leaks(spark):
    """Planted benchmark leaks: docs sharing 6-grams with the eval set
    are flagged with the right hit counts and matched eval ids; clean
    docs are absent."""
    corpus = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [
            "alpha beta gamma delta epsilon zeta eta theta",  # leaks ev 90
            "one two three four five six seven eight nine",   # leaks ev 91
            "totally clean document with no overlap at all",
            "alpha beta gamma delta epsilon zeta eta theta",  # leaks ev 90
        ]}))
    eval_set = spark.createDataFrame(pd.DataFrame({
        "doc_id": [90, 91],
        "text": [
            "QQ alpha beta gamma delta epsilon zeta eta RR",
            "one two three four five six",
        ]}))
    got = {r.doc_id: (r.n_hits, r.eval_ids)
           for r in dedup.contamination_check(corpus, eval_set).collect()}
    # doc1 shares 6-grams "alpha..zeta" and "beta..eta" with ev90
    assert got[1] == (2, "90") and got[4] == (2, "90")
    assert got[2] == (1, "91")        # exactly "one..six"
    assert 3 not in got


def test_persisted_ivf_probe_equals_in_session(spark, tmp_path):
    """r4 verdict item 6: the persisted IVF artifact (lists partitioned
    by pivot + pivots table) must answer probes identically to the
    in-session cosine_topk_ivf over the same data-resident pivots, and
    the probe scan must be partition-pruned (pivot IN partition
    filter)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 4) \
                 .select(F.col("vec_id").alias("q_id"), "embedding")
    path = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, path, nlist=16)
    got = similarity.probe_ivf_index(spark, path, queries, k=10, nprobe=4)
    exp = similarity.cosine_topk_ivf(emb, queries, k=10, nlist=16, nprobe=4)
    kg = sorted((r.q_id, r.rnk, r.vec_id, r.cos) for r in got.collect())
    ke = sorted((r.q_id, r.rnk, r.vec_id, r.cos) for r in exp.collect())
    assert kg == ke
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    tail = plan.split("PartitionFilters", 1)[1][:300]
    assert "pivot" in tail


def test_snapshot_in_predicate_row_exactness(spark, tmp_path):
    """The new 'in' pushdown is also a real row filter: values outside
    the probed set never leak through even within kept files."""
    from mbrngq_spark.plans.snapshots import SnapshotTable

    import pandas as pd
    t = SnapshotTable(spark, str(tmp_path / "tin"))
    t.create(spark.createDataFrame(
        pd.DataFrame({"k": list(range(100)), "v": list(range(100))})),
        cluster_by="k", target_files=8)
    out = t.read(where=("k", "in", [3, 50, 97]))
    assert sorted(r.k for r in out.collect()) == [3, 50, 97]
    assert t.last_scan["skipped"] > 0


def test_contamination_bloom_prefilter_identical(spark):
    """bloom_prefilter=True (the eval-set-too-big-to-broadcast-a-hash-map
    degrade path) must return the IDENTICAL flagged set — the Bloom
    guarantee is no false negatives and the exact join removes the
    false positives."""
    corpus = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(1, 40)),
        "text": [f"filler {i} words go here padding more tokens {i*7}"
                 for i in range(1, 38)] + [
            "alpha beta gamma delta epsilon zeta eta theta",
            "one two three four five six seven eight nine"]}))
    eval_set = spark.createDataFrame(pd.DataFrame({
        "doc_id": [90, 91],
        "text": [
            "QQ alpha beta gamma delta epsilon zeta eta RR",
            "one two three four five six"]}))
    base = {(r.doc_id, r.n_hits, r.eval_ids)
            for r in dedup.contamination_check(corpus, eval_set).collect()}
    bloom = {(r.doc_id, r.n_hits, r.eval_ids)
             for r in dedup.contamination_check(
                 corpus, eval_set, bloom_prefilter=True).collect()}
    assert base == bloom and len(base) == 2


# --- product quantization: integer-exact compressed ANN ----------------------

def test_pq_chain_integer_exact_and_deterministic(spark, emb):
    """Codes are stable across runs, bounded by the codebook size, and
    the ADC distance equals a from-scratch pure-Python int recompute —
    the end-to-end integer-exactness claim (no float ever enters)."""
    cb = similarity.pq_codebook_pivots(emb)
    m, n_codes, dsub = cb.shape
    assert (m, n_codes) == (similarity.PQ_M, similarity.PQ_C)
    c1 = {r["id"]: r["codes"]
          for r in similarity.pq_encode(emb, cb).collect()}
    c2 = {r["id"]: r["codes"]
          for r in similarity.pq_encode(emb, cb).collect()}
    assert c1 == c2
    assert all(0 <= c < n_codes for cs in c1.values() for c in cs)

    # pure-Python replay on a few rows: quantize (HALF_UP, like the
    # engines), argmin-encode, LUT ADC
    import decimal

    def quant(v):
        return [int(decimal.Decimal(repr(float(x) * similarity.PQ_SCALE))
                    .quantize(decimal.Decimal(1),
                              rounding=decimal.ROUND_HALF_UP))
                for x in v]

    rows = {r["vec_id"]: list(r["embedding"])
            for r in emb.filter(F.col("vec_id") < 6).collect()}
    qv = {i: quant(v) for i, v in rows.items()}

    def code_of(q):
        return [min(range(n_codes), key=lambda c: sum(
            (q[j * dsub + t] - int(cb[j][c][t])) ** 2
            for t in range(dsub)))
            for j in range(m)]

    for i in rows:
        assert list(c1[i]) == code_of(qv[i]), i

    queries = emb.filter(F.col("vec_id") < 2) \
        .select(F.col("vec_id").alias("q_id"), "embedding")
    got = {(r["q_id"], r["vec_id"]): r["adist"]
           for r in similarity.pq_adc_topk(
               similarity.pq_encode(emb, cb), queries, cb, k=5).collect()}
    for (q, v), ad in got.items():
        expect = sum(
            sum((qv[q][j * dsub + t] - int(cb[j][c1[v][j]][t])) ** 2
                for t in range(dsub))
            for j in range(m))
        assert ad == expect, (q, v)


def test_pq_recall_and_self_hit(spark, emb):
    """The oracle-replayable pivot codebook holds a recall floor on the
    random fixture, and a corpus row used as its own query must always
    surface in its top-10 (reconstruction error stays below inter-point
    distances)."""
    queries = emb.filter(F.col("vec_id") < 8) \
        .select(F.col("vec_id").alias("q_id"), "embedding")
    exact = {}
    for r in similarity.cosine_topk_bruteforce(emb, queries, 10).collect():
        exact.setdefault(r["q_id"], set()).add(r["vec_id"])
    cb = similarity.pq_codebook_pivots(emb)
    got = {}
    for r in similarity.pq_adc_topk(
            similarity.pq_encode(emb, cb), queries, cb, 10).collect():
        got.setdefault(r["q_id"], set()).add(r["vec_id"])
    recs = [len(got[q] & exact[q]) / 10 for q in exact]
    assert sum(recs) / len(recs) >= 0.25, recs
    assert all(q in got[q] for q in exact)


def test_pq_scan_plan_maponly_and_group_limited(spark, emb):
    """Scale shape: the ADC scan is ArrowEvalPython/mapInPandas over the
    code table with NO Exchange upstream (map-only — codes are never
    shuffled), and the top-k rank plans as WindowGroupLimit so the one
    rank shuffle carries ≤ k rows per map task per query."""
    cb = similarity.pq_codebook_pivots(emb)
    codes = similarity.pq_encode(emb, cb)
    queries = emb.filter(F.col("vec_id") < 4) \
        .select(F.col("vec_id").alias("q_id"), "embedding")
    plan = similarity.pq_adc_topk(codes, queries, cb, k=10) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    # nothing between the scan and the Python stages but projections:
    # no Exchange may appear below the MapInPandas nodes
    below = plan.split("MapInPandas")[-1]
    assert "Exchange" not in below, below
