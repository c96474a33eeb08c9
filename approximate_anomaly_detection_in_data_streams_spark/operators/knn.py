"""Similarity search over embedding columns: brute-force cosine top-k and
an LSH-bucketed approximate variant (the scale path).

Part of the training-data-pipeline superset. The bucketed variant reuses the
detector's candidate-equi-join shape (operators/lsh.py; reference analog
/root/reference/src/core/lsh/LSHIndex.java:33-44): sign-random-projection
buckets on the *unit sphere* (SRP-LSH approximates angular distance — the
right family for cosine, vs the p-stable family the reference uses for
Euclidean).

Scale notes: brute force is O(Q x N) — exact, fine when Q is small or as a
per-bucket kernel. The SRP variant shuffles each side once on (table, key);
a multi-probe loop (flip one bit) trades extra candidates for recall.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


def _cosine_col(a, b) -> F.Column:
    """JVM-side cosine: zip_with product fold / norms (no Python)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, v: s + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda s, v: s + v * v))
    return dot / (na * nb)


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k neighbors of each query over all vectors.

    Broadcast the (small) query side, crossJoin streamed over the corpus,
    cosine via JVM higher-order functions, rank with a window over each
    query partition. Ties broken by neighbor id (deterministic).
    Output: (query_id, neighbor_id, cosine, rank).
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).cast("long").alias("query_id"),
            F.col(vec_col).alias("qvec"),
        )
    )
    v = vectors.select(
        F.col(id_col).cast("long").alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    qd = F.transform("qvec", lambda x: x.cast("double"))
    nd = F.transform("nvec", lambda x: x.cast("double"))
    scored = (
        q.crossJoin(v)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_cosine_col(qd, nd), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def srp_projections(dim: int, bits: int = 12, tables: int = 4, seed: int = 42) -> np.ndarray:
    """Seeded (tables*bits, dim) Gaussian projection matrix — the single
    source of truth shared by the Spark kernel and the SQL oracle builder
    (__spark_entry__._srp_ann_sql), which inlines the same float literals."""
    rng = np.random.default_rng(seed)
    return rng.normal(size=(tables * bits, dim))


def srp_bucket_keys(
    df: DataFrame, vec_col: str, dim: int, bits: int = 12, tables: int = 4, seed: int = 42
) -> DataFrame:
    """Sign-random-projection bucket keys: ``buckets ARRAY<BIGINT>`` (one/table).

    One Arrow-batched pass computes all tables x bits signs; key = packed
    sign bits. Two vectors collide in a table with prob (1 - theta/pi)^bits.

    The projection dot products accumulate over dims LEFT-TO-RIGHT
    (((x0*a0) + x1*a1) + ...) instead of np.matmul's unspecified blocked
    order: IEEE addition is deterministic for a fixed order, so an oracle
    re-deriving the dots as an explicit SQL sum over the same float
    literals sees bit-identical signs — the same portability trick as the
    LSHOD bucket keys (operators/lsh.py::bucket_key_ints). Still fully
    vectorized: dim in-place (n x tables*bits) multiply-adds.
    """
    A = srp_projections(dim, bits, tables, seed)
    weights = (1 << np.arange(bits, dtype=np.int64))
    # worker-lifetime scratch: the projection plane is re-used across
    # Arrow batches instead of freshly allocated (this VM collapses under
    # concurrent fresh allocation — BENCH.md)
    scratch: dict[str, np.ndarray] = {}

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def keys(vecs: pd.Series) -> pd.Series:
        n = len(vecs)
        X = np.stack(vecs.to_numpy()).astype(np.float64)
        P = scratch.get("P")
        if P is None or len(P) < n:
            scratch["P"] = P = np.empty((n, tables * bits))
            scratch["T"] = np.empty((n, tables * bits))
        Pn, Tn = P[:n], scratch["T"][:n]
        np.multiply(X[:, 0:1], A[None, :, 0].reshape(1, -1), out=Pn)
        for j in range(1, dim):
            np.multiply(X[:, j : j + 1], A[None, :, j].reshape(1, -1), out=Tn)
            Pn += Tn
        signs = (Pn > 0).reshape(n, tables, bits)
        packed = (signs * weights).sum(axis=2).astype(np.int64)
        return pd.Series(list(packed))

    return df.withColumn("buckets", keys(F.col(vec_col)))


IVF_SALT = "_ivf"


def ivf_centroids(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    nlist: int = 32,
    lloyd_iters: int = 0,
    deterministic: bool = False,
) -> np.ndarray:
    """Deterministic, SQL-portable IVF coarse quantizer: the ``nlist``
    corpus vectors with the smallest md5-derived priority (the same
    portable-hash trick as the ApproxMCOD eviction priority), unit-
    normalized, ordered by (priority, id) — that order IS the centroid
    index, so an oracle re-derives the identical codebook. Random
    centroids are the standard quick-index baseline (FAISS-style) and
    keep the operator exactly replayable in SQL.

    ``lloyd_iters > 0`` refines the seed codebook with distributed Lloyd
    (spherical k-means) iterations — the production-recall tier. Each
    iteration is one map pass (nearest-centroid assignment, broadcast
    codebook) plus ONE narrow aggregation (per-centroid count + per-dim
    sums as ``dim`` codegen sum columns — no explode, no second shuffle)
    and a bounded ``nlist``-row collect; empty clusters keep their
    previous centroid. With the default free-order reduction the refined
    codebook is NOT SQL-portable (float aggregation order varies with
    partitioning): that tier is recall-gated by
    tests/test_profile_ops.py::test_ivf_lloyd_refinement_improves_recall.
    ``deterministic=True`` switches each iteration to the ascending-id
    left-fold reduction (see ``_lloyd_step``), which a sequential replay
    reproduces bit-for-bit — the planted-truth-oracled tier
    (ivf_ann_refined).

    Returns (nlist, dim) float64, rows unit-normalized with a sequential
    left-to-right norm accumulation (bit-reproducible fold).
    """
    idc = F.col(id_col).cast("long")
    prio = (
        F.conv(
            F.substring(F.md5(F.concat(idc.cast("string"), F.lit(IVF_SALT))), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias("_p")
    )
    rows = (
        vectors.select(idc.alias("id"), F.col(vec_col).alias("vec"), prio)
        .orderBy("_p", "id")
        .limit(nlist)
        .collect()
    )
    C = np.stack([np.asarray(r["vec"], dtype=np.float64) for r in rows])
    C = C / _seq_norm(C)[:, None]
    for _ in range(lloyd_iters):
        C = _lloyd_step(
            vectors, vec_col, C, id_col=id_col if deterministic else None
        )
    return C


def _lloyd_step(
    vectors: DataFrame, vec_col: str, C: np.ndarray, id_col: str | None = None
) -> np.ndarray:
    """One distributed spherical-k-means step: assign every corpus vector
    to its nearest centroid (broadcast codebook, Arrow-batched), sum per
    (centroid, dim) in one aggregation, renormalize the means. The
    aggregation input is one (cidx, v) row per vector and the output is
    ``nlist`` rows of ``1 + dim`` columns — map-side combine does the
    heavy lifting, nothing unbounded reaches the driver.

    ``id_col`` selects the DETERMINISTIC reduction: each centroid's
    member vectors are folded left-to-right in ascending-id order inside
    one ``applyInPandas`` group, so the per-centroid sums are a pure
    function of the input rows — independent of partitioning or task
    order — and a sequential replay (oracle/planted.py::ivf_refined_truth)
    reproduces the refined codebook bit-for-bit. One extra shuffle of
    narrow (id, cidx, v) rows keyed by centroid; the default (id_col=None)
    keeps the free-order ``F.sum`` map-side-combine tier for production
    scale, where a serial fold per centroid would bottleneck on the
    largest cluster."""
    nlist, dim = C.shape
    assign = _ivf_probe_udf(C, 1)
    vd = F.transform(vec_col, lambda x: x.cast("double"))
    newC = C.copy()  # clusters with no members keep their centroid
    if id_col is not None:
        assigned = vectors.select(
            F.col(id_col).cast("long").alias("id"),
            assign(F.col(vec_col))[0].alias("cidx"),
            vd.alias("v"),
        )

        def fold(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("id")
            X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            acc = np.zeros(X.shape[1], dtype=np.float64)
            for r in range(X.shape[0]):
                acc = acc + X[r]
            return pd.DataFrame(
                {
                    "cidx": [int(pdf["cidx"].iloc[0])],
                    "n": [len(pdf)],
                    "s": [acc],
                }
            )

        agg = (
            assigned.groupBy("cidx")
            .applyInPandas(fold, "cidx int, n long, s array<double>")
            .collect()
        )
        for r in agg:
            m = np.asarray(r["s"], dtype=np.float64) / r["n"]
            norm = float(np.linalg.norm(m))
            if norm > 0.0:
                newC[r["cidx"]] = m / norm
        return newC
    assigned = vectors.select(
        assign(F.col(vec_col))[0].alias("cidx"), vd.alias("v")
    )
    agg = (
        assigned.groupBy("cidx")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.col("v")[i]).alias(f"s{i}") for i in range(dim)],
        )
        .collect()
    )
    for r in agg:
        m = np.array([r[f"s{i}"] for i in range(dim)], dtype=np.float64) / r["n"]
        norm = float(np.linalg.norm(m))
        if norm > 0.0:
            newC[r["cidx"]] = m / norm
    return newC


def _seq_norm(X: np.ndarray) -> np.ndarray:
    """sqrt of a left-to-right accumulated sum of squares per row."""
    acc = X[:, 0] * X[:, 0]
    for j in range(1, X.shape[1]):
        acc = acc + X[:, j] * X[:, j]
    return np.sqrt(acc)


def _ivf_probe_udf(C: np.ndarray, nprobe: int):
    """pandas UDF: the ``nprobe`` nearest centroid indexes of each vector
    (ascending squared-L2 on the unit sphere, ties by centroid index).
    Distances accumulate over dims left-to-right so the SQL twin's explicit
    (e[i]-c[i])^2 sum sees the same doubles."""
    nlist, dim = C.shape

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probes(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype(np.float64)
        Xn = X / _seq_norm(X)[:, None]
        d = Xn[:, 0:1] - C[None, :, 0]
        D = d * d
        for j in range(1, dim):
            d = Xn[:, j : j + 1] - C[None, :, j]
            D += d * d
        order = np.argsort(D, axis=1, kind="stable")[:, :nprobe].astype(np.int32)
        return pd.Series(list(order))

    return probes


def ivf_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    nlist: int = 32,
    nprobe: int = 8,
    lloyd_iters: int = 0,
    deterministic: bool = False,
) -> DataFrame:
    """IVF-Flat approximate top-k: inverted-file coarse quantization +
    exact cosine re-rank — the second scale path beside SRP-LSH.

    Corpus vectors land in exactly ONE centroid bucket (one shuffle keyed
    by centroid id — bounded, skew-free for spread-out codebooks); each
    query probes its ``nprobe`` nearest centroids, so candidates come from
    an equi-join on the centroid id covering nprobe/nlist of the corpus.
    The reference analog is the same sketch-then-verify shape as its LSH
    index (/root/reference/src/core/lsh/LSHIndex.java:33-44) with a
    learned/selected codebook instead of random projections.

    With ``lloyd_iters=0`` centroids and assignments are bit-portable
    (see ivf_centroids / _ivf_probe_udf), so the operator carries an
    exact DuckDB oracle (__spark_entry__._ivf_ann_sql); ``lloyd_iters>0``
    selects the refined-codebook production tier (better recall at the
    same nprobe, recall-gated in tests instead of SQL-oracled). Output:
    (query_id, neighbor_id, cosine, rank), rank <= k.
    """
    C = ivf_centroids(
        vectors, id_col, vec_col, nlist,
        lloyd_iters=lloyd_iters, deterministic=deterministic,
    )
    assign1 = _ivf_probe_udf(C, 1)
    assignp = _ivf_probe_udf(C, nprobe)
    corpus = vectors.select(
        F.col(id_col).cast("long").alias("neighbor_id"), F.col(vec_col).alias("nvec")
    ).withColumn("cidx", assign1(F.col("nvec"))[0])
    q = queries.select(
        F.col(id_col).cast("long").alias("query_id"), F.col(vec_col).alias("qvec")
    ).withColumn("cidx", F.explode(assignp(F.col("qvec"))))
    cand = (
        q.join(corpus, "cidx")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qvec", "neighbor_id", "nvec")
    )
    qd = F.transform("qvec", lambda x: x.cast("double"))
    nd = F.transform("nvec", lambda x: x.cast("double"))
    scored = cand.select(
        "query_id", "neighbor_id", F.round(_cosine_col(qd, nd), 6).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def srp_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    bits: int = 8,
    tables: int = 16,
    seed: int = 42,
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: SRP bucket equi-join candidates, exact re-rank.

    Both sides get bucket keys from the same seeded projections; candidates
    are pairs colliding in >= 1 table (union via explode + dropDuplicates),
    then exact cosine + window rank. Recall measured vs brute_force_topk in
    tests. The corpus-side shuffle is keyed (table, key) — bounded buckets,
    no crossJoin.

    ``multiprobe=1`` additionally probes every Hamming-1 neighbor of each
    QUERY key (the classic multi-probe LSH trade: x(bits+1) query-side
    rows — queries are the small side — instead of more corpus tables):
    a table then recalls a neighbor at angular similarity p with
    probability p^b + b*p^(b-1)*(1-p) instead of p^b, which is what lifts
    recall into the useful range for mid-similarity corpora.
    """
    qk = srp_bucket_keys(
        queries.select(F.col(id_col).cast("long").alias("query_id"), F.col(vec_col).alias("qvec")),
        "qvec",
        dim,
        bits,
        tables,
        seed,
    ).select("query_id", "qvec", F.posexplode("buckets").alias("t", "key"))
    if multiprobe >= 1:
        probe_arr = F.array(
            F.col("key"),
            *[F.col("key").bitwiseXOR(F.lit(1 << j)) for j in range(bits)],
        )
        qk = qk.select(
            "query_id", "qvec", "t", F.explode(probe_arr).alias("key")
        )
    vk = srp_bucket_keys(
        vectors.select(
            F.col(id_col).cast("long").alias("neighbor_id"), F.col(vec_col).alias("nvec")
        ),
        "nvec",
        dim,
        bits,
        tables,
        seed,
    ).select("neighbor_id", "nvec", F.posexplode("buckets").alias("t", "key"))
    cand = (
        qk.join(vk, ["t", "key"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qvec", "neighbor_id", "nvec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qd = F.transform("qvec", lambda x: x.cast("double"))
    nd = F.transform("nvec", lambda x: x.cast("double"))
    scored = cand.select(
        "query_id", "neighbor_id", F.round(_cosine_col(qd, nd), 6).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )
