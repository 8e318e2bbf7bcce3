"""Similarity search over embedding columns (array<float>).

- ``cosine_topk_bruteforce`` — exact baseline: broadcast the (small) query
  vectors, dot products via zip_with/aggregate — ALL JVM-side, codegen'd,
  no Python, no shuffle of the corpus; one window rank per query.
- ``cosine_topk_lsh`` — the scale path: random-hyperplane LSH buckets
  (SimHash for vectors). Corpus is bucketed once (map-side arithmetic),
  queries probe their bucket (+ multiprobe neighbors); only candidates get
  exact scoring. Recall < 1 by construction; the baseline is the oracle.
- ``cosine_topk_ivf`` / ``build_ivf_index`` + ``probe_ivf_index`` —
  pivot-IVF, in session or persisted as a pivot-partitioned artifact.
- ``embedding_near_dups`` — cosine near-duplicate pairs via BANDED
  hyperplane LSH (B plane sets × P planes) with a degenerate-bucket cap,
  self-joined per band (dedup tier 'embedding-cosine near-dup').

The cosine top-k paths differ only in how they pick candidates; scoring
and ranking is one shared tail (``_cosine_topk``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in array order (deterministic fold, double precision)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))


def cosine_topk_bruteforce(corpus: DataFrame, queries: DataFrame, k: int,
                           id_col: str = "vec_id", vec_col: str = "embedding",
                           q_id_col: str = "q_id") -> DataFrame:
    """Exact top-k by cosine per query vector.

    ``queries``: (q_id, embedding) — the broadcast side. Returns
    (q_id, vec_id, cos, rnk); cos rounded to 6 dp BEFORE ranking so the
    ordering is reproducible across engines (ties broken by vec_id).

    The query norm is computed ONCE on the broadcast side (same fold,
    same double value — not per corpus row), and a single-split corpus
    scan is spread to the session parallelism (the scoring folds are
    interpreted ArrayAggregate expressions — per-core time dominates)."""
    from mbrngq_spark.config import spread_small_input

    return _cosine_topk(spread_small_input(corpus),
                        _query_side(queries, vec_col, q_id_col), None, k,
                        id_col, vec_col, q_id_col)


def _query_side(queries: DataFrame, vec_col: str, q_id_col: str,
                *extra: Column) -> DataFrame:
    """The broadcast side of every top-k path: (q_id, q_vec, __q_norm,
    *extra) — the query norm folded ONCE here, not per candidate row."""
    return queries.select(F.col(q_id_col), F.col(vec_col).alias("q_vec"),
                          _norm(F.col(vec_col)).alias("__q_norm"), *extra)


def _cosine_topk(corpus: DataFrame, q: DataFrame, on: str | None, k: int,
                 id_col: str, vec_col: str, q_id_col: str) -> DataFrame:
    """The one scoring tail: join the broadcast query side ``q`` (from
    _query_side) to the candidate corpus on ``on`` (None = cross join),
    exact cosine rounded to 6 dp BEFORE ranking (reproducible across
    engines), row_number over (cos desc, id asc), keep rnk ≤ k."""
    cos = _dot(F.col(vec_col), F.col("q_vec")) / \
        (_norm(F.col(vec_col)) * F.col("__q_norm"))
    bq = F.broadcast(q)
    joined = corpus.crossJoin(bq) if on is None else corpus.join(bq, on)
    w = Window.partitionBy(q_id_col).orderBy(F.col("cos").desc(),
                                             F.col(id_col).asc())
    return (joined.withColumn("cos", F.round(cos, 6))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select(q_id_col, id_col, "cos", "rnk"))


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _bucket_col(vec: Column, planes: np.ndarray) -> Column:
    """Random-hyperplane sign bucket, computed JVM-side: bit b set iff
    Σ vec_i·plane[b,i] > 0 (plane rows inlined as literal arrays).

    Capped at 16 planes: each plane adds a nested fold expression, and
    big nested HOF trees hit a multi-minute one-time codegen/JIT cliff
    (see CLAUDE.md). Wider sketches belong in the banded NumPy pandas-UDF
    kernel (embedding_near_duplicates / _band_signs), which computes all
    planes in one matmul."""
    if planes.shape[0] > 16:
        raise ValueError(
            f"n_planes={planes.shape[0]} > 16 would build a codegen-cliff "
            "expression tree; use the banded NumPy kernel "
            "(embedding_near_duplicates) for wide sketches")
    out = F.lit(0).cast("long")
    for b in range(planes.shape[0]):
        lits = F.array(*[F.lit(float(v)) for v in planes[b]])
        d = F.aggregate(F.zip_with(vec, lits,
                                   lambda x, p: x.cast("double") * p),
                        F.lit(0.0), lambda acc, v: acc + v)
        bit = F.when(d > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        out = out.bitwiseOR(F.shiftleft(bit, b))
    return out


def cosine_topk_lsh(corpus: DataFrame, queries: DataFrame, k: int,
                    dim: int, n_planes: int = 8, probe_radius: int = 2,
                    seed: int = 42,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    q_id_col: str = "q_id") -> DataFrame:
    """Approximate top-k: candidates = corpus rows whose hyperplane bucket is
    within hamming ``probe_radius`` of the query's bucket (multiprobe),
    exact-scored. Recall/cost dial: for neighbors at angle θ each plane
    splits the pair w.p. θ/π, so bucket hamming ~ Binomial(n_planes, θ/π) —
    radius 2 at 8 planes covers ~90% of cos≈0.9 neighbors while probing
    37/256 buckets.

    At 100 TB the corpus would be written partitioned by this key (as
    build_ivf_index does for IVF lists), so a probe is partition pruning,
    not a scan."""
    import itertools

    planes = _hyperplanes(dim, n_planes, seed)
    c = corpus.withColumn("bucket", _bucket_col(F.col(vec_col), planes))
    masks = [0]
    for r in range(1, probe_radius + 1):
        for bits in itertools.combinations(range(n_planes), r):
            masks.append(sum(1 << b for b in bits))
    q = _query_side(
        queries.withColumn("q_bucket", _bucket_col(F.col(vec_col), planes)),
        vec_col, q_id_col, F.col("q_bucket"))
    probes = F.array(*[F.col("q_bucket").bitwiseXOR(F.lit(m)) for m in masks])
    q = q.withColumn("bucket", F.explode(probes))
    return _cosine_topk(c, q, "bucket", k, id_col, vec_col, q_id_col)


def _neg_cos_rounded(vec: Column, lit_vec: Column) -> Column:
    """round(-cos(vec, lit), 6) — the IVF assignment measure. Rounded BEFORE
    the argmin so pivot assignment is reproducible across engines (6-dp
    cosine via ordered fold matches DuckDB list_dot_product — the proven
    ann_cosine_topk pattern); ties then break on pivot id."""
    return F.round(-(_dot(vec, lit_vec) / (_norm(vec) * _norm(lit_vec))), 6)


def _pivot_structs(vec: Column, pivots: list[tuple[int, list[float]]]) -> Column:
    return F.array(*[
        F.struct(_neg_cos_rounded(vec, F.array(*[F.lit(float(x)) for x in pv]))
                 .alias("negc"),
                 F.lit(int(pid)).cast("long").alias("pid"))
        for pid, pv in pivots])


def _data_pivots(corpus: DataFrame, nlist: int, id_col: str,
                 vec_col: str) -> list[tuple[int, list[float]]]:
    """The IVF list centers: the ``nlist`` lowest-id corpus vectors."""
    return [(r[0], list(r[1])) for r in
            corpus.select(id_col, vec_col).orderBy(id_col)
            .limit(nlist).collect()]


def _assign_pivot(vec: Column, pivots: list[tuple[int, list[float]]]
                  ) -> Column:
    """The inverted list of ``vec``: its max-cosine pivot id."""
    return F.array_min(_pivot_structs(vec, pivots))["pid"]


def _probe_pivots(vec: Column, pivots: list[tuple[int, list[float]]],
                  nprobe: int) -> Column:
    """One row per probed list: the ``nprobe`` max-cosine pivot ids of
    ``vec`` (exploded, aliased ``pivot``)."""
    return F.explode(F.transform(
        F.slice(F.array_sort(_pivot_structs(vec, pivots)), 1, nprobe),
        lambda s: s["pid"])).alias("pivot")


def cosine_topk_ivf(corpus: DataFrame, queries: DataFrame, k: int,
                    nlist: int = 16, nprobe: int = 4,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    q_id_col: str = "q_id") -> DataFrame:
    """IVF (inverted-file) ANN: the third tier next to the exact baseline
    and hyperplane LSH.

    - pivots   = the ``nlist`` lowest-id corpus vectors (deterministic,
                 data-resident — a k-means refinement would improve list
                 balance but makes the assignment untestable cross-engine;
                 pivot IVF keeps the exact inverted-list structure).
    - assign   = each corpus vector joins the inverted list of its max-cosine
                 pivot (spherical-IVF measure; 6-dp rounding + pivot-id ties
                 make the argmin deterministic in both engines).
    - probe    = each query scans only its ``nprobe`` nearest lists;
                 candidates get exact cosine + window top-k.

    At 100 TB the corpus is written partitioned by ``pivot`` (the inverted
    lists — ``build_ivf_index``), so a probe is partition pruning — same
    scale story as the LSH bucket table, but with data-adaptive regions
    instead of fixed hyperplanes."""
    pivots = _data_pivots(corpus, nlist, id_col, vec_col)
    c = corpus.withColumn("pivot", _assign_pivot(F.col(vec_col), pivots))
    q = _query_side(queries, vec_col, q_id_col,
                    _probe_pivots(F.col(vec_col), pivots, nprobe))
    return _cosine_topk(c, q, "pivot", k, id_col, vec_col, q_id_col)


def build_ivf_index(corpus: DataFrame, path: str, nlist: int = 16,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Persist the IVF structure as an on-disk artifact (r4 verdict item
    6 — the bucketed-BM25-postings discipline extended to ANN):

    - ``{path}/lists``  — the corpus WITH its pivot assignment, written
      ``partitionBy("pivot")``: each inverted list is a physical
      partition directory, so a probe job's pivot filter is PARTITION
      PRUNING at the scan (PartitionFilters in the plan), not a corpus
      scan + filter.
    - ``{path}/pivots`` — the (pid, vector) table the probe side needs
      to rank lists (nlist rows — metadata scale).

    Build cost: one corpus-wide map (assignment) + one partitioned
    write; no shuffle beyond the writer's own file distribution."""
    spark = corpus.sparkSession
    pivots = _data_pivots(corpus, nlist, id_col, vec_col)
    (corpus.withColumn("pivot", _assign_pivot(F.col(vec_col), pivots))
     .write.mode("overwrite").partitionBy("pivot")
     .parquet(f"{path}/lists"))
    (spark.createDataFrame(
        pd.DataFrame({"pid": [p for p, _ in pivots],
                      "pvec": [v for _, v in pivots]}),
        "pid long, pvec array<double>")
     .write.mode("overwrite").parquet(f"{path}/pivots"))


def probe_ivf_index(spark: SparkSession, path: str, queries: DataFrame,
                    k: int, nprobe: int = 4, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    q_id_col: str = "q_id") -> DataFrame:
    """Query the persisted IVF artifact: rank the (nlist-row) pivots
    table per query, take ``nprobe`` lists, and read ONLY those
    partitions of ``{path}/lists`` — the probed-pivot set (≤ nlist ids,
    metadata scale regardless of |Q|) becomes a STATIC ``pivot IN``
    partition filter, so the scan touches nprobe/nlist of the data by
    construction (plan-audit asserted). Exact scoring + window top-k
    finish; result contract identical to cosine_topk_ivf over the same
    pivots (pytest asserts equality)."""
    pivots = [(int(r.pid), list(r.pvec)) for r in
              spark.read.parquet(f"{path}/pivots").collect()]
    q = _query_side(queries, vec_col, q_id_col,
                    _probe_pivots(F.col(vec_col), pivots, nprobe))
    probed = sorted({int(r.pivot) for r in
                     q.select("pivot").distinct().collect()})
    lists = (spark.read.parquet(f"{path}/lists")
             .filter(F.col("pivot").isin(probed))
             .withColumn("pivot", F.col("pivot").cast("long")))
    return _cosine_topk(lists, q, "pivot", k, id_col, vec_col, q_id_col)


def _band_buckets_udf(planes: np.ndarray, bands: int):
    """Vectorized Arrow UDF: embedding → array<long> of per-band hyperplane
    sign buckets (band b uses plane rows [b·P, (b+1)·P)). One NumPy matmul
    per Arrow batch — NOT per-plane JVM fold expressions: at 64 planes a
    nested zip_with/aggregate tree would hit the codegen/JIT cliff the
    MinHash rewrite documented (dedup.minhash_mix_udf)."""
    import pandas as pd
    from pyspark.sql import functions as F2
    from pyspark.sql import types as T2

    P = planes.shape[0] // bands
    weights = (1 << np.arange(P, dtype=np.uint64))

    @F2.pandas_udf(T2.ArrayType(T2.LongType()))
    def bb(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        x = np.stack([np.asarray(e, dtype=np.float64) for e in v])
        signs = (x @ planes.T) > 0                      # (n, bands·P)
        b = (signs.reshape(len(x), bands, P).astype(np.uint64)
             * weights).sum(axis=2).astype(np.int64)    # (n, bands)
        return pd.Series(list(b))

    return bb


def embedding_near_dups(corpus: DataFrame, threshold: float, dim: int,
                        bands: int = 4, planes_per_band: int = 16,
                        seed: int = 42, max_bucket: int = 1000,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs: BANDED hyperplane LSH (B
    independent plane sets) + degenerate-bucket cap + exact cosine verify
    ≥ threshold. Returns (id_a, id_b, cos).

    Why banded: one flat set of p planes has only 2^p buckets — at corpus
    scale every bucket holds n/2^p rows and the self-join goes quadratic
    inside each. More planes per band shrink buckets exponentially
    (collision p = (1-θ/π)^P per band) while B bands recover recall
    (1-(1-(1-θ/π)^P)^B ≈ 0.93 at cos 0.99 for B=4, P=16 — and exactly 1
    for identical vectors, the near-dup regime). ``max_bucket`` then drops
    the buckets data skew still degenerates (e.g. a constant embedding from
    an empty-document encoder) — the same guard/contract as the MinHash and
    SimHash candidate stages: capped families are exact-dedup territory."""
    planes = _hyperplanes(dim, bands * planes_per_band, seed)
    c = (corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
         .withColumn("bb", _band_buckets_udf(planes, bands)(F.col("v"))))
    bucketed = c.select("id", "v", F.posexplode("bb").alias("band", "bucket"))
    ok = (bucketed.groupBy("band", "bucket").count()
          .filter(F.col("count") <= max_bucket)
          .select("band", "bucket"))
    bucketed = bucketed.join(F.broadcast(ok), ["band", "bucket"])
    other = bucketed.select(F.col("id").alias("id_b"),
                            F.col("v").alias("v_b"), "band", "bucket")
    pairs = (bucketed.join(other, ["band", "bucket"])
             .filter(F.col("id") < F.col("id_b"))
             .select(F.col("id").alias("id_a"), "id_b",
                     F.col("v").alias("v_a"), "v_b")
             .dropDuplicates(["id_a", "id_b"]))
    cos = _dot(F.col("v_a"), F.col("v_b")) / \
        (_norm(F.col("v_a")) * _norm(F.col("v_b")))
    return (pairs
            .withColumn("cos", F.round(cos, 6))
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", "cos"))


# --- product quantization (PQ): integer-exact compressed ANN ------------------
#
# IVF prunes which LISTS a probe reads; PQ shrinks what a scan RESIDES
# in: each vector becomes M one-byte codes (64 floats → 8 codes here,
# 32× smaller), and query-time distance is an M-term table lookup over
# the codes — the corpus's raw vectors never leave disk (Jegou et al.,
# "Product Quantization for Nearest Neighbor Search", TPAMI 2011; the
# FAISS PQ scan shape). At 100 TB the ADC scan touches only the code
# table, never the raw vectors.
#
# Cross-engine exactness trick: all PQ arithmetic runs on MICRO-UNIT
# int64 embeddings — each float component is quantized ONCE, in-engine,
# as CAST(round(x * 1e6) AS BIGINT) (HALF_UP in both Spark and DuckDB;
# the float→double widening of the parquet value is exact in both).
# Every distance is then a sum of integer squares bounded by
# dim · (1.1e6)² ≈ 7e13 < 2^53, so NumPy int64, Spark longs and DuckDB
# DOUBLEs all produce the IDENTICAL number — ranking needs no rounding
# discipline at all, only the (adist, vec_id) tiebreak.
#
# The codebook is PIVOT-PQ (the `ann_ivf_topk` oracle discipline): the
# C lowest-id rows' subvectors are the codewords, so DuckDB can replay
# training relationally. A k-means codebook would drop reconstruction
# error but puts float iteration inside the oracle; the pivot variant
# keeps the whole chain value-checkable.

PQ_SCALE = 1_000_000
PQ_M = 8                        # subspaces (dim 64 → dsub 8)
PQ_C = 16                       # codewords per subspace


def quantized_vec(vec: Column) -> Column:
    """array<float> → micro-unit array<long> (the ONE quantization)."""
    return F.transform(vec.cast("array<double>"),
                       lambda x: F.round(x * PQ_SCALE).cast("long"))


def pq_codebook_pivots(corpus: DataFrame, m: int = PQ_M,
                       n_codes: int = PQ_C, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> np.ndarray:
    """(m, n_codes, dsub) int64 codebook from the ``n_codes`` lowest-id
    rows (quantized IN Spark so the HALF_UP rounding happens exactly
    once, engine-side)."""
    rows = (corpus.select(F.col(id_col).alias("pid"),
                          quantized_vec(F.col(vec_col)).alias("qv"))
            .orderBy("pid").limit(n_codes).collect())
    mat = np.array([r["qv"] for r in rows], dtype=np.int64)
    dim = mat.shape[1]
    assert dim % m == 0, (dim, m)
    return mat.reshape(n_codes, m, dim // m).transpose(1, 0, 2).copy()


def pq_encode(corpus: DataFrame, codebooks: np.ndarray,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """(id, codes array<long>) — one map-only Arrow pass, no shuffle:
    per subspace, the argmin-distance codeword (ties → lowest code id,
    which is NumPy argmin's first-occurrence rule)."""
    m, n_codes, dsub = codebooks.shape
    cb = codebooks

    qdf = corpus.select(F.col(id_col).alias("id"),
                        quantized_vec(F.col(vec_col)).alias("qv"))

    def enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["qv"].tolist(),
                         dtype=np.int64).reshape(len(pdf), m, dsub)
            d = ((X[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(-1)
            codes = d.argmin(-1).astype(np.int64)
            yield pd.DataFrame({"id": pdf["id"],
                                "codes": list(codes)})

    return qdf.mapInPandas(enc, schema="id long, codes array<long>")


def pq_adc_topk(codes: DataFrame, queries: DataFrame,
                codebooks: np.ndarray, k: int,
                q_id_col: str = "q_id",
                vec_col: str = "embedding") -> DataFrame:
    """(q_id, vec_id, adist, rnk) — asymmetric-distance top-k over the
    CODE table. Per query, an (m × n_codes) int64 lookup table is built
    driver-side from the quantized query (queries are few); the scan is
    one map-only Arrow gather+sum over codes (a slim ndarray closure,
    never a pandas pickle), followed by the WindowGroupLimit-capped
    rank — the only shuffle, carrying ≤ k rows per map task per query."""
    m, n_codes, dsub = codebooks.shape
    qrows = (queries.select(F.col(q_id_col).alias("qid"),
                            quantized_vec(F.col(vec_col)).alias("qv"))
             .collect())
    qids = np.array(sorted(r["qid"] for r in qrows), dtype=np.int64)
    by_id = {r["qid"]: r["qv"] for r in qrows}
    luts = np.stack([
        ((np.array(by_id[q], dtype=np.int64).reshape(m, 1, dsub)
          - codebooks) ** 2).sum(-1)
        for q in qids])                      # (Q, m, n_codes)
    jdx = np.arange(m)[None, :]

    def scan(batches):
        for pdf in batches:
            b = len(pdf)
            if not b:
                continue
            cd = np.array(pdf["codes"].tolist(), dtype=np.int64)  # (B, m)
            ad = luts[:, jdx, cd].sum(-1)                         # (Q, B)
            yield pd.DataFrame({
                "q_id": np.repeat(qids, b),
                "vec_id": np.tile(pdf["id"].to_numpy(), len(qids)),
                "adist": ad.reshape(-1)})

    scanned = codes.mapInPandas(scan,
                                schema="q_id long, vec_id long, adist long")
    w = Window.partitionBy("q_id").orderBy(F.col("adist").asc(),
                                           F.col("vec_id").asc())
    return (scanned.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k))


def pq_adc_sql(table: str = "embeddings", n_queries: int = 4,
               k: int = 10, m: int = PQ_M, n_codes: int = PQ_C,
               dim: int = 64) -> str:
    """DuckDB replay of quantize → pivot codebook → encode → ADC rank.
    Integer-exact end to end: list_zip/list_transform squares stay
    integers; the DOUBLE results of any implicit widening are below 2^53
    so they equal the engine's int64s bit-for-bit."""
    dsub = dim // m
    sq = ("list_sum(list_transform(list_zip({a}, {b}), "
          "p -> (p[1] - p[2]) * (p[1] - p[2])))")
    return f"""
        WITH qe AS (
            SELECT vec_id,
                   list_transform(embedding::DOUBLE[],
                                  x -> CAST(round(x * {PQ_SCALE}.0)
                                            AS BIGINT)) AS qv
            FROM {table}
        ), cb AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv
            FROM (SELECT vec_id, qv FROM qe ORDER BY vec_id
                  LIMIT {n_codes}) t
        ), js AS (SELECT unnest(generate_series(0, {m - 1})) AS j),
        subs AS (
            SELECT vec_id, j,
                   qv[(j * {dsub} + 1):(j * {dsub} + {dsub})] AS sv
            FROM qe, js
        ), csub AS (
            SELECT cid, j,
                   qv[(j * {dsub} + 1):(j * {dsub} + {dsub})] AS cv
            FROM cb, js
        ), dist AS (
            SELECT s.vec_id, s.j, c.cid,
                   CAST({sq.format(a='s.sv', b='c.cv')} AS BIGINT) AS d
            FROM subs s JOIN csub c ON c.j = s.j
        ), codes AS (
            SELECT vec_id, j, cid FROM (
                SELECT vec_id, j, cid,
                       row_number() OVER (PARTITION BY vec_id, j
                                          ORDER BY d, cid) AS rn
                FROM dist) WHERE rn = 1
        ), ldist AS (
            SELECT s.vec_id AS q_id, s.j, c.cid,
                   CAST({sq.format(a='s.sv', b='c.cv')} AS BIGINT) AS d
            FROM subs s JOIN csub c ON c.j = s.j
            WHERE s.vec_id < {n_queries}
        ), adist AS (
            SELECT l.q_id, c.vec_id, CAST(sum(l.d) AS BIGINT) AS adist
            FROM codes c JOIN ldist l ON l.j = c.j AND l.cid = c.cid
            GROUP BY 1, 2
        )
        SELECT q_id, vec_id, adist, rnk FROM (
            SELECT q_id, vec_id, adist,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY adist, vec_id) AS rnk
            FROM adist) WHERE rnk <= {k}
    """
