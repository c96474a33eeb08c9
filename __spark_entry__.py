"""Driver contract: flagship entry, per-operator queries, DuckDB oracles.

Each ``queries()`` entry exercises one operator family from SURVEY.md §2 /
the training-data-pipeline superset; ``oracle_sql()`` holds the ANSI-SQL
twin DuckDB runs on the same parquet views. Column names and float rounding
are aligned on both sides (the driver value-hashes after sorting columns by
name). Every query carries an oracle: seeded/approximate operators are made
exactly checkable via portable hashes, float-literal keys, provable-recall
parameters, or planted-ground-truth side tables (oracle/planted.py).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from approximate_anomaly_detection_in_data_streams_spark.api import (
    approx_mclshod_config,
    lshod_config,
    run_detector,
)
from approximate_anomaly_detection_in_data_streams_spark.config import DetectorConfig
from approximate_anomaly_detection_in_data_streams_spark.functions.text import (
    FP_BASE,
    FP_MOD,
    LANG_MARKERS,
    fingerprint,
    lang_id,
    quality_features,
    token_count_bpe,
    token_count_ws,
)
from approximate_anomaly_detection_in_data_streams_spark.operators import knn as knn_ops
from approximate_anomaly_detection_in_data_streams_spark.operators import (
    dedup as dedup_ops,
)
from approximate_anomaly_detection_in_data_streams_spark.operators import (
    profile as profile_ops,
)
from approximate_anomaly_detection_in_data_streams_spark.operators.accuracy import (
    recall as recall_op,
)

# ---- shared parameters (inlined into both Spark queries and oracle SQL) ----

# Flagship detector run on the events stream: 1-d feature = value,
# id = event_id + 1 (reference ids start at 1,
# /root/reference/src/core/OutlierDetector.java:10).
DET_W, DET_S, DET_R, DET_K = 400, 100, 15.0, 10
DET_WS = DET_W // DET_S

# ApproxMCOD bounded-state run: pd_limit < W forces evictions every full
# window; ar = R/2 + 0.3*R is the promotion radius (X1/X2).
APPROX_PD_LIMIT, APPROX_AR_FACTOR = 300, 0.3

JACCARD_N, JACCARD_T = 3, 0.7
# at-scale stop-shingle document-frequency cap (the tier that bounds the
# inverted-index join's per-shingle fan-out; uncapped = exact opt-in)
JACCARD_DF_CAP = 200
COS_T = 0.4
KNN_K, KNN_NQ = 5, 20
HH_MIN = 100


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_N_EVENTS: dict[str, int] = {}


def _n_events(sf_dir: str) -> int:
    """Row count of the events table from parquet FOOTERS (driver-side
    metadata read, no Spark job): event ids are contiguous 1..n, so this
    is the detector's n_total. Keeps detector plan construction
    zero-job (DetectorConfig.n_total)."""
    n = _N_EVENTS.get(sf_dir)
    if n is None:
        import glob
        import os

        import pyarrow.parquet as pq

        path = f"{sf_dir}/events.parquet"
        # either a single parquet file or a Spark-style directory of parts
        files = (
            sorted(glob.glob(os.path.join(path, "*.parquet")))
            if os.path.isdir(path)
            else [path]
        )
        n = 0
        max_id = None
        for f in files:
            md = pq.ParquetFile(f).metadata
            n += md.num_rows
            try:
                idx = md.schema.to_arrow_schema().get_field_index("event_id")
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st is None or not st.has_min_max:
                        raise ValueError("no stats")
                    max_id = st.max if max_id is None else max(max_id, st.max)
            except Exception:
                max_id = None
                break
        # the row count only equals n_total when event_id is contiguous
        # 0-based (ADVICE r3): validate from footer column statistics and
        # refuse silently-wrong detector output otherwise
        if max_id is not None and max_id + 1 != n:
            raise ValueError(
                f"events table at {sf_dir}: max(event_id)+1 == {max_id + 1} "
                f"!= row count {n}; ids are not contiguous 0-based and the "
                "footer-count shortcut would mis-size the detector"
            )
        _N_EVENTS[sf_dir] = n
    return n


def _event_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _load(spark, sf_dir, "events").select(
        (F.col("event_id") + 1).alias("id"),
        F.array(F.col("value").cast("double")).alias("features"),
    )


def _det_cfg(algorithm: str = "mcod", n_total: int = 0) -> DetectorConfig:
    if algorithm == "lshod":
        return lshod_config(DET_W, DET_S, DET_R, DET_K, dim=1, n_total=n_total)
    if algorithm == "approx_mclshod":
        return approx_mclshod_config(
            DET_W, DET_S, DET_R, DET_K, dim=1, n_total=n_total
        )
    return DetectorConfig(
        w=DET_W, slide=DET_S, r=DET_R, k=DET_K, algorithm=algorithm, dim=1,
        n_total=n_total,
    )


# ---- detector queries (SURVEY.md §2.2-2.6: W1/P4/J1/A1-A6) ----

# Per-(session, sf, algorithm) detection memo: outliers / stats /
# detector_recall are projections of ONE detection run, and the driver
# executes all queries in one session — without this each projection
# recomputes the full detection kernel. The per_point verdict table (tiny:
# one row per point) is persisted; every projection reads it.
_DETECTIONS: dict = {}


def _detection(spark: SparkSession, sf_dir: str, algorithm: str = "mcod"):
    key = (id(spark), sf_dir, algorithm)
    res = _DETECTIONS.get(key)
    if res is None:
        res = run_detector(
            _event_points(spark, sf_dir),
            _det_cfg(algorithm, n_total=_n_events(sf_dir)),
        )
        res.per_point.persist()
        _DETECTIONS[key] = res
    return res


def q_mcod_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-outlier violation set (A6) of the exact MCOD-semantics detector."""
    return _detection(spark, sf_dir).outliers


def q_mcod_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifetime classification counters (A5; K2 stats sink shape)."""
    return _detection(spark, sf_dir).stats


def q_lshod_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded LSH approximate detector (J4/X3). The p-stable bucket keys
    are a fixed left-to-right fold over the seeded Gaussian coefficients
    (operators/lsh.py::bucket_key_ints), so the SQL twin re-derives
    bit-identical keys from the same coefficients as float literals — the
    approximate LSH detector is exactly oracle-checked end to end."""
    return _detection(spark, sf_dir, "lshod").outliers


def q_approx_mclshod_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's fourth algorithm, ApproxMCLSHOD: LSH candidates at
    5 hashes / 10 tables / bucket width 3R/2 (/root/reference/src/
    Executor.java:106-109) feeding the same classification pipeline.
    Exactly oracle-checked like LSHOD (same float-literal key portability)."""
    return _detection(spark, sf_dir, "approx_mclshod").outliers


def q_approx_mcod_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state ApproxMCOD analog (X1/X2): per-window pd_limit cap
    with seeded safe-inlier-only eviction + ar promotion
    (operators/approx_mcod.py::window_verdicts, evaluated by the halo-block
    kernel for every window of each block). The eviction priority is a
    portable md5-derived hash, so the SQL twin replays the identical
    choice — the approximate detector is exactly oracle-checkable."""
    cfg = DetectorConfig(
        w=DET_W,
        slide=DET_S,
        r=DET_R,
        k=DET_K,
        algorithm="approx_mcod",
        pd_limit=APPROX_PD_LIMIT,
        ar_factor=APPROX_AR_FACTOR,
        n_total=_n_events(sf_dir),
    )
    return run_detector(_event_points(spark, sf_dir), cfg).outliers


def q_detector_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the LSH variant vs exact (J7/X4 comparator).

    LSH candidate loss only *lowers* neighbor counts, so the approximate
    outlier set is a structural superset of the exact one and recall is
    1.0 by construction (operators/lsh.py module docstring). That makes
    the row oracle-checkable from the exact-detector CTE alone: the SQL
    twin asserts n_common == n_baseline — any LSHOD change that loses an
    exact outlier breaks the hash match. (n_test/precision are LSH-seed-
    dependent and stay out of the oracle row.)
    """
    exact = _detection(spark, sf_dir).outliers
    approx = _detection(spark, sf_dir, "lshod").outliers
    return recall_op(exact, approx).select("n_baseline", "n_common", "recall")


# ---- validator profile queries (M3: stats, nulls, uniqueness, FK, HH) ----


def q_col_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = profile_ops.column_stats(
        _load(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        ["l_quantity", "l_extendedprice"],
    )
    cols = [F.col("l_returnflag"), F.col("n_rows")]
    for c in ("l_quantity", "l_extendedprice"):
        cols += [
            F.round(F.col(f"{c}_min"), 6).alias(f"{c}_min"),
            F.round(F.col(f"{c}_max"), 6).alias(f"{c}_max"),
            F.round(F.col(f"{c}_mean"), 6).alias(f"{c}_mean"),
            F.round(F.col(f"{c}_std"), 6).alias(f"{c}_std"),
            F.col(f"{c}_nulls"),
        ]
    return out.select(*cols).orderBy("l_returnflag")


def q_null_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = profile_ops.null_profile(
        _load(spark, sf_dir, "orders"), ["o_custkey", "o_totalprice", "o_orderpriority"]
    )
    keep = ["n_rows"] + [f"{c}_nulls" for c in ("o_custkey", "o_totalprice", "o_orderpriority")]
    return out.select(*keep)


def q_uniqueness_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile_ops.uniqueness(
        _load(spark, sf_dir, "orders"), ["o_orderkey", "o_custkey"], exact=True
    )


def q_duplicate_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile_ops.duplicate_keys(_load(spark, sf_dir, "orders"), ["o_custkey"])


def q_heavy_hitters_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile_ops.heavy_hitters(
        _load(spark, sf_dir, "events"), "event_type", HH_MIN
    )


def q_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    orphans = profile_ops.referential_orphans(
        _load(spark, sf_dir, "lineitem"),
        _load(spark, sf_dir, "orders"),
        "l_orderkey",
        "o_orderkey",
    )
    return orphans.agg(F.count(F.lit(1)).alias("n_orphans"))


def q_join_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim join + agg: revenue per market segment."""
    orders = _load(spark, sf_dir, "orders")
    cust = F.broadcast(_load(spark, sf_dir, "customer"))
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped aggregation (map-side-combinable, one shuffle)."""
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_window_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation (streaming-compatible shape)."""
    ev = _load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("hour_start"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("hour_start", "event_type")
    )


def q_percentiles_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (the validator's
    distribution-profile op; approx path uses percentile_approx)."""
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.25)"), 4).alias("p25"),
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(l_extendedprice, 0.75)"), 4).alias("p75"),
            F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99"),
        )
        .orderBy("l_returnflag")
    )


DRIFT_SLIDE, DRIFT_BINS, DRIFT_L1 = 5000, 16, 0.25


def q_value_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata distribution-drift check over the events stream: per-slide
    value-histogram L1 distance vs the global histogram (the no-decode
    drift stage of the validator; exact arithmetic, exact SQL twin)."""
    return profile_ops.value_drift_slides(
        _load(spark, sf_dir, "events"),
        "event_id",
        "value",
        DRIFT_SLIDE,
        DRIFT_BINS,
        DRIFT_L1,
    )


SESSION_GAP_S = 1800


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per-user event runs split at >30-min gaps
    (lag + cumulative-sum window functions; streaming analog is
    session_window). Output: one row per session."""
    from pyspark.sql.window import Window

    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # integer microseconds: exact on both engines (TIMESTAMP_NTZ cannot
    # cast to numeric, and float epoch diffs would wobble at boundaries)
    sess = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_sess",
            (
                F.col("prev_ts").isNull()
                | (
                    F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
                    > F.lit(SESSION_GAP_S * 1_000_000)
                )
            ).cast("int"),
        )
        .withColumn(
            "sess_no",
            F.sum("new_sess").over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ),
        )
    )
    return (
        sess.groupBy("user_id", "sess_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        )
        .orderBy("user_id", "sess_no")
    )


# ---- dedup queries ----


def q_exact_dups_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.exact_duplicates(_load(spark, sf_dir, "documents"), "doc_id", "text")


def q_jaccard_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.ngram_jaccard_pairs(
        _load(spark, sf_dir, "documents"), "doc_id", "text", JACCARD_N, JACCARD_T
    )


def q_minhash_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-banded near-dup join. Oracle = the exact-Jaccard SQL twin:
    the default band/perm sizing makes recall 1.0 at threshold 0.7 up to
    ~1e-6 (operators/dedup.py docstring), and the exact shingle verify
    gives precision 1.0 — so the banded output equals the exact pair set
    at oracle scale."""
    return dedup_ops.minhash_lsh_pairs(
        _load(spark, sf_dir, "documents"), "doc_id", "text", JACCARD_N, threshold=JACCARD_T
    )


def q_simhash_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pigeonhole near-dup join. Built on a portable md5-derived
    60-bit hash, so the full signature + hamming join has an exact
    all-pairs SQL twin (pigeonhole is lossless for hamming <= pieces-1;
    buckets stay under the cap at oracle scale)."""
    return dedup_ops.simhash_neardup_pairs(
        _load(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=3
    )


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact Jaccard near-dup pairs:
    (id, group_id=min member) — the canonical-document resolution step of
    a dedup pipeline (iterative min-label propagation)."""
    pairs = dedup_ops.ngram_jaccard_pairs(
        _load(spark, sf_dir, "documents"), "doc_id", "text", JACCARD_N, JACCARD_T
    )
    return dedup_ops.dedup_groups(pairs)


def q_jaccard_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-scale tier of the n-gram Jaccard join (VERDICT r4 #2): shingles
    whose document frequency exceeds JACCARD_DF_CAP are dropped before the
    inverted-index join, bounding per-shingle join fan-out at df² ≤ cap²
    — the tier that holds linear at sf1 (8.1 s vs >600 s uncapped,
    BENCH.md) and the one to copy for a 100 TB corpus. The oracle applies
    the identical cap, so similarity is exact over the capped shingle
    sets on both sides."""
    return dedup_ops.ngram_jaccard_pairs(
        _load(spark, sf_dir, "documents"), "doc_id", "text", JACCARD_N, JACCARD_T,
        max_shingle_df=JACCARD_DF_CAP,
    )


def q_dedup_groups_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the CAPPED Jaccard pairs — the at-scale
    dedup-resolution path (same min-label propagation + pointer jumping)."""
    pairs = dedup_ops.ngram_jaccard_pairs(
        _load(spark, sf_dir, "documents"), "doc_id", "text", JACCARD_N, JACCARD_T,
        max_shingle_df=JACCARD_DF_CAP,
    )
    return dedup_ops.dedup_groups(pairs)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.embedding_neardup_pairs(
        _load(spark, sf_dir, "embeddings"), "vec_id", "embedding", COS_T
    )


# ---- similarity search ----


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < KNN_NQ)
    return knn_ops.brute_force_topk(emb, queries, "vec_id", "embedding", KNN_K)


def q_srp_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucketed approximate top-k. The projection dot products
    accumulate left-to-right over dims in the kernel (operators/knn.py::
    srp_bucket_keys), so the SQL twin re-derives bit-identical sign bits
    from the same seeded float literals and replays the full candidate
    pipeline (bucket equi-join + Hamming-1 multiprobe + exact re-rank) —
    the approximate ANN operator is exactly oracle-checked end to end."""
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < KNN_NQ)
    return knn_ops.srp_ann_topk(emb, queries, "vec_id", "embedding", dim=64, k=KNN_K)


IVF_NLIST, IVF_NPROBE = 32, 8


def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat bucketed approximate top-k (operators/knn.py::ivf_ann_topk).
    Centroid selection (portable md5 priority) and assignment (sequential
    left-to-right distance accumulation) are bit-reproducible in SQL, so
    the inverted-file ANN operator is exactly oracle-checked end to end —
    the IVF counterpart of the SRP-LSH twin."""
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < KNN_NQ)
    return knn_ops.ivf_ann_topk(
        emb, queries, "vec_id", "embedding", dim=64, k=KNN_K,
        nlist=IVF_NLIST, nprobe=IVF_NPROBE,
    )


# (n, dim, seed, n_centers, nlist, nprobe, k, lloyd_iters, nq) — shared
# verbatim with the sequential replay (oracle/planted.py::ivf_refined_truth)
IVF_REF = (4000, 16, 17, 12, 32, 4, 5, 2, 50)


def q_ivf_ann_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd-REFINED IVF tier (lloyd_iters=2) over the planted vector
    corpus (sources/vectors.py) — the production-recall codebook path,
    previously recall-gated only (VERDICT r4 #6). deterministic=True pins
    every float reduction to a replayable order (ascending-id left-fold
    Lloyd sums), so the planted sequential NumPy replay re-derives the
    refined codebook, the bucket assignment, and the final rounded top-k
    bit-for-bit."""
    from approximate_anomaly_detection_in_data_streams_spark.sources.vectors import (
        generate_vectors,
    )

    n, dim, seed, n_centers, nlist, nprobe, k, iters, nq = IVF_REF
    vecs = generate_vectors(spark, n, dim, seed, n_centers)
    queries = vecs.where(F.col("vec_id") < nq)
    return knn_ops.ivf_ann_topk(
        vecs, queries, "vec_id", "embedding", dim=dim, k=k,
        nlist=nlist, nprobe=nprobe, lloyd_iters=iters, deterministic=True,
    )


# ---- text analysis ----


def q_lang_id_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id("text").alias("lang_pred")).orderBy("doc_id")


def q_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_features(_load(spark, sf_dir, "documents"), "text", "doc_id").orderBy(
        "doc_id"
    )


def q_token_counts_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_ws("text").cast("long").alias("n_ws_tokens"),
        token_count_bpe("text").cast("long").alias("n_bpe_tokens"),
    ).orderBy("doc_id")


def q_fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp")).orderBy("doc_id")


# ---- image validator (north_star pipeline; synthetic table per
# BASELINE.json input_hint — no external data; rows-only checks since
# DuckDB has no image codec) ----

IMG_N = 2000


def _image_cfg():
    from approximate_anomaly_detection_in_data_streams_spark.sources.images import (
        ImageTableConfig,
    )

    return ImageTableConfig(n=IMG_N, seed=7, partitions=16)


def _image_report(spark: SparkSession):
    from approximate_anomaly_detection_in_data_streams_spark.sources.images import (
        generate_images,
        generate_reference,
    )
    from approximate_anomaly_detection_in_data_streams_spark.validator import (
        ImageValidatorConfig,
        validate_images,
    )

    cfg = _image_cfg()
    vcfg = ImageValidatorConfig(
        drift=DetectorConfig(w=200, slide=50, r=40.0, k=6)
    )
    return validate_images(
        generate_images(spark, cfg), generate_reference(spark, cfg), vcfg
    )


def q_image_partition_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fmt pass/fail verdicts over the synthetic image+caption table."""
    return _image_report(spark).partition_verdicts


def q_image_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All violation rows (row invariants, point anomalies, phash dups).
    Ordered by every column: duplicate image_ids can carry two same-kind
    rows with different details, and the oracle compare is order-exact."""
    return _image_report(spark).violations.orderBy("image_id", "kind", "detail")


def q_image_drift_slides(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-slide sustained-drift profile check."""
    return _image_report(spark).drift_slides


MEDIA_N = 500


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio modality: map-only feature extraction over a deterministic
    synthetic PCM table (opaque binary column; rows-only — DuckDB has no
    PCM decoder). Features rounded for a stable value hash."""
    from approximate_anomaly_detection_in_data_streams_spark.operators import media

    feats = media.audio_features(media.generate_audio(spark, MEDIA_N, seed=11))
    return feats.select(
        "audio_id",
        "decode_ok",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"),
        F.round("zero_crossing_rate", 6).alias("zero_crossing_rate"),
        F.round("peak", 6).alias("peak"),
    ).orderBy("audio_id")


SIMHASH_FAST_N = 1000


def q_simhash_fast_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup join through the PRODUCTION ``fast`` hash tier
    (vectorized splitmix64 over packed codepoints — no portable SQL twin,
    unlike the md5 tier q_simhash_pairs_documents exercises). Oracle =
    planted ground truth: a deterministic near-dup corpus
    (sources/documents.py) whose expected pair set is re-derived by a
    sequential pure-Python-int replay of the signature definition plus
    all-pairs popcount (oracle/planted.py::simhash_fast_truth), persisted
    as a parquet side table."""
    from approximate_anomaly_detection_in_data_streams_spark.sources.documents import (
        generate_neardup_docs,
    )

    docs = generate_neardup_docs(spark, SIMHASH_FAST_N, seed=11)
    return dedup_ops.simhash_neardup_pairs(
        docs, "doc_id", "text", max_hamming=3, hash_fn="fast"
    )


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video modality: frame sampling (every 2nd frame, random access into
    the container) with a deterministic per-frame fingerprint — sampled
    frames re-encode in the validator's raw image container, composing
    with the whole image pipeline. Rows-only (no DuckDB video codec)."""
    from approximate_anomaly_detection_in_data_streams_spark.operators import media

    frames = media.sample_frames(media.generate_video(spark, MEDIA_N, seed=11), 2)
    # portable fingerprint (md5 prefix as bigint — the repo's standard
    # oracle-portability trick) so the planted-truth DuckDB twin can carry
    # the identical value
    fp = F.conv(F.substring(F.md5("frame_bytes"), 1, 15), 16, 10).cast("long")
    return frames.select(
        "video_id",
        "frame_idx",
        "w",
        "h",
        fp.alias("frame_fp"),
    ).orderBy("video_id", "frame_idx")


# ---- driver surface ----


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: exact MCOD violation set on the sf0.001 events stream."""
    return q_mcod_outliers(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "mcod_outliers": q_mcod_outliers,
        "mcod_stats": q_mcod_stats,
        "approx_mcod_outliers": q_approx_mcod_outliers,
        "approx_mclshod_outliers": q_approx_mclshod_outliers,
        "lshod_outliers": q_lshod_outliers,
        "detector_recall": q_detector_recall,
        "col_stats_lineitem": q_col_stats_lineitem,
        "null_profile_orders": q_null_profile_orders,
        "uniqueness_orders": q_uniqueness_orders,
        "duplicate_custkeys": q_duplicate_custkeys,
        "heavy_hitters_events": q_heavy_hitters_events,
        "referential_orphans": q_referential_orphans,
        "join_segment_revenue": q_join_segment_revenue,
        "pricing_summary": q_pricing_summary,
        "window_hourly_events": q_window_hourly_events,
        "percentiles_lineitem": q_percentiles_lineitem,
        "value_drift_events": q_value_drift_events,
        "sessionize_events": q_sessionize_events,
        "exact_dups_documents": q_exact_dups_documents,
        "jaccard_pairs_documents": q_jaccard_pairs_documents,
        "jaccard_pairs_capped": q_jaccard_pairs_capped,
        "dedup_groups": q_dedup_groups,
        "dedup_groups_capped": q_dedup_groups_capped,
        "minhash_pairs_documents": q_minhash_pairs_documents,
        "simhash_pairs_documents": q_simhash_pairs_documents,
        "simhash_fast_documents": q_simhash_fast_documents,
        "embedding_neardup": q_embedding_neardup,
        "knn_bruteforce": q_knn_bruteforce,
        "srp_ann": q_srp_ann,
        "ivf_ann": q_ivf_ann,
        "ivf_ann_refined": q_ivf_ann_refined,
        "lang_id_documents": q_lang_id_documents,
        "quality_documents": q_quality_documents,
        "token_counts_documents": q_token_counts_documents,
        "fingerprint_documents": q_fingerprint_documents,
        "image_partition_verdicts": q_image_partition_verdicts,
        "image_violations": q_image_violations,
        "image_drift_slides": q_image_drift_slides,
        "audio_features": q_audio_features,
        "video_frames": q_video_frames,
    }


# ---- oracle SQL ----


def _detector_core_sql() -> str:
    """Shared CTE prefix: points, pair table, per-(id, batch) counts."""
    return f"""
with pts as (
  select event_id + 1 as id, value, (event_id // {DET_S}) + 1 as slide from events
), nb as (
  select cast(ceil(count(*) * 1.0 / {DET_S}) as bigint) as b_total from pts
), pairs as (
  select a.id as i, b.id as j, a.slide as si, b.slide as sj
  from pts a join pts b
    on a.id <> b.id
   and abs(a.value - b.value) <= {DET_R}
   and b.slide between a.slide - {DET_WS - 1} and a.slide + {DET_WS - 1}
), counts as (
  select i as id, x.b as b,
         count(*) as cnt_end,
         count(*) filter (where x.b > greatest(si, sj)) as cnt_pre
  from pairs, nb,
       unnest(generate_series(greatest(si, sj),
                              least(nb.b_total, least(si, sj) + {DET_WS - 1}))) as x(b)
  group by 1, 2
), pb as (
  select p.id, p.slide, x.b
  from pts p, nb,
       unnest(generate_series(p.slide, least(nb.b_total, p.slide + {DET_WS - 1}))) as x(b)
)"""


def _mcod_outliers_sql() -> str:
    return (
        _detector_core_sql()
        + f"""
, evals as (
  select pb.id, coalesce(c.cnt_end, 0) >= {DET_K} as is_inlier
  from pb left join counts c on c.id = pb.id and c.b = pb.b
)
select id from evals group by id having max(is_inlier) = false order by id
"""
    )


def _mcod_stats_sql() -> str:
    return (
        _detector_core_sql()
        + f"""
, end_evals as (
  select pb.id, 'end' as kind, coalesce(c.cnt_end, 0) as cnt
  from pb left join counts c on c.id = pb.id and c.b = pb.b
), pre_evals as (
  select pb.id, 'pre' as kind, coalesce(c.cnt_pre, 0) as cnt
  from pb left join counts c on c.id = pb.id and c.b = pb.b
  where pb.b > pb.slide
), arr_evals as (
  select p.id, 'arrival' as kind, coalesce(a.cnt, 0) as cnt
  from pts p left join (
    select i as id, count(*) as cnt from pairs where j < i group by 1
  ) a on a.id = p.id
), evals as (
  select * from end_evals union all select * from pre_evals
  union all select * from arr_evals
), per_point as (
  select id,
         bool_or(kind = 'end' and cnt >= {DET_K}) as ever_inlier,
         bool_or(cnt < {DET_K}) as ever_outlier
  from evals group by id
)
select
  cast(sum(case when ever_inlier and not ever_outlier then 1 else 0 end) as bigint)
    as n_only_inlier,
  cast(sum(case when ever_outlier and not ever_inlier then 1 else 0 end) as bigint)
    as n_only_outlier,
  cast(sum(case when ever_inlier and ever_outlier then 1 else 0 end) as bigint)
    as n_both_inlier_outlier,
  count(*) as n_points
from per_point
"""
    )


def _col_stats_sql() -> str:
    pieces = []
    for c in ("l_quantity", "l_extendedprice"):
        pieces.append(
            f"""round(min({c}), 6) as {c}_min, round(max({c}), 6) as {c}_max,
round(avg({c}), 6) as {c}_mean, round(stddev_samp({c}), 6) as {c}_std,
cast(sum(case when {c} is null then 1 else 0 end) as bigint) as {c}_nulls"""
        )
    cols = ",\n".join(pieces)
    return f"""
select l_returnflag, count(*) as n_rows,
{cols}
from lineitem group by l_returnflag order by l_returnflag
"""


def _lang_scores_sql() -> str:
    exprs = []
    for lang in sorted(LANG_MARKERS):
        terms = " + ".join(
            f"length(regexp_extract_all(' ' || lower(text) || ' ', ' {w} '))"
            for w in LANG_MARKERS[lang]
        )
        exprs.append(f"({terms}) as s_{lang}")
    return ", ".join(exprs)


def _lang_id_sql() -> str:
    langs = sorted(LANG_MARKERS)
    g = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    whens = "\n".join(f"when s_{lg} = {g} then '{lg}'" for lg in langs[:-1])
    return f"""
with scores as (select doc_id, {_lang_scores_sql()} from documents)
select doc_id,
  case when {g} = 0 then 'und'
  {whens}
  else '{langs[-1]}' end as lang_pred
from scores order by doc_id
"""


def _quality_sql() -> str:
    stop_terms = " + ".join(
        f"length(regexp_extract_all(' ' || lower(text) || ' ', ' {w} '))"
        for w in LANG_MARKERS["en"]
    )
    return f"""
with feats as (
  select doc_id,
    length(text) as n_chars,
    length(regexp_extract_all(text, '[^ \t\n\r]+')) as n_words,
    length(regexp_extract_all(text, '[^A-Za-z0-9 \t\n\r]')) as n_punct,
    ({stop_terms}) as n_stop
  from documents
)
select doc_id, n_chars, n_words, n_punct,
  round(n_punct * 1.0 / greatest(n_chars, 1), 6) as punct_ratio,
  round(n_stop * 1.0 / greatest(n_words, 1), 6) as stopword_ratio
from feats order by doc_id
"""


def _cap_sql(cap: int | None) -> str:
    """Shingle stop-list subquery shared by the Jaccard twins: identity
    when uncapped, else drop shingles whose document frequency exceeds
    ``cap`` — the same semantics as ``ngram_jaccard_pairs(max_shingle_df=
    cap)`` (operators/dedup.py), so the DuckDB twin stays portable."""
    if cap is None:
        return "select * from sh0"
    return f"""
  select sh0.* from sh0 join (
    select shingle from sh0 group by 1 having count(*) <= {cap}
  ) rare using (shingle)"""


def _jaccard_sql(cap: int | None = None) -> str:
    n = JACCARD_N
    return f"""
with sh0 as (
  select distinct doc_id as id, substr(text, s.b, {n}) as shingle
  from documents,
       unnest(generate_series(1, greatest(length(text) - {n - 1}, 1))) as s(b)
  where length(substr(text, s.b, {n})) = {n}
), sh as ({_cap_sql(cap)}
), sizes as (select id, count(*) as sz from sh group by 1),
common as (
  select a.id as id_a, b.id as id_b, count(*) as c
  from sh a join sh b using (shingle) where a.id < b.id group by 1, 2
)
select id_a, id_b,
  round(c * 1.0 / (sa.sz + sb.sz - c), 6) as jaccard
from common
join sizes sa on sa.id = id_a join sizes sb on sb.id = id_b
where round(c * 1.0 / (sa.sz + sb.sz - c), 6) >= {JACCARD_T}
order by id_a, id_b
"""


def _dedup_groups_sql(cap: int | None = None) -> str:
    n = JACCARD_N
    return f"""
with recursive sh0 as (
  select distinct doc_id as id, substr(text, s.b, {n}) as shingle
  from documents,
       unnest(generate_series(1, greatest(length(text) - {n - 1}, 1))) as s(b)
  where length(substr(text, s.b, {n})) = {n}
), sh as ({_cap_sql(cap)}
), sizes as (select id, count(*) as sz from sh group by 1),
common as (
  select a.id as id_a, b.id as id_b, count(*) as c
  from sh a join sh b using (shingle) where a.id < b.id group by 1, 2
), pairs as (
  select id_a, id_b
  from common
  join sizes sa on sa.id = id_a join sizes sb on sb.id = id_b
  where round(c * 1.0 / (sa.sz + sb.sz - c), 6) >= {JACCARD_T}
), edges as (
  select id_a as u, id_b as v from pairs
  union select id_b, id_a from pairs
), reach(u, v) as (
  select u, v from edges
  union
  select r.u, e.v from reach r join edges e on r.v = e.u
)
select n.id, least(n.id, min(r.v)) as group_id
from (select distinct u as id from edges) n
join reach r on r.u = n.id
group by n.id order by n.id
"""


def _lshod_outliers_sql(algorithm: str = "lshod") -> str:
    """SQL twin of the LSHOD / ApproxMCLSHOD detectors: the bucket keys
    replay the NumPy fold of operators/lsh.py::bucket_key_ints as float
    literals (value * a + b, / w, floor: the same IEEE operations, so
    bit-identical keys), then a candidate equi-join per table with the
    co-window band, the exact distance filter and the standard
    end-evaluation outlier CTE."""
    from approximate_anomaly_detection_in_data_streams_spark.operators.lsh import (
        make_projections,
    )

    cfg = _det_cfg(algorithm)
    A, b = make_projections(cfg, 1)
    w = float(cfg.lsh_bucket_width)
    key_selects = []
    for t in range(cfg.num_tables):
        parts = ", ".join(
            f"cast(floor((value * {float(A[t, j, 0])!r} + {float(b[t, j])!r})"
            f" / {w!r}) as bigint)"
            for j in range(cfg.num_hashes)
        )
        key_selects.append(
            f"select id, slide, {t} as t, concat_ws('_', {parts}) as key from pts"
        )
    keys_cte = "\n  union all\n  ".join(key_selects)
    return f"""
with pts as (
  select event_id + 1 as id, value, (event_id // {DET_S}) + 1 as slide from events
), nb as (
  select cast(ceil(count(*) * 1.0 / {DET_S}) as bigint) as b_total from pts
), keys as (
  {keys_cte}
), cand as (
  select distinct x.id as i, y.id as j
  from keys x join keys y on x.t = y.t and x.key = y.key and x.id <> y.id
  where abs(x.slide - y.slide) <= {DET_WS - 1}
), pairs as (
  select c.i, c.j, a.slide as si, b.slide as sj
  from cand c
  join pts a on a.id = c.i
  join pts b on b.id = c.j
  where abs(a.value - b.value) <= {DET_R}
), counts as (
  select i as id, x.b as b, count(*) as cnt_end
  from pairs, nb,
       unnest(generate_series(greatest(si, sj),
                              least(nb.b_total, least(si, sj) + {DET_WS - 1}))) as x(b)
  group by 1, 2
), pb as (
  select p.id, p.slide, x.b
  from pts p, nb,
       unnest(generate_series(p.slide, least(nb.b_total, p.slide + {DET_WS - 1}))) as x(b)
), evals as (
  select pb.id, coalesce(c.cnt_end, 0) >= {DET_K} as is_inlier
  from pb left join counts c on c.id = pb.id and c.b = pb.b
)
select id from evals group by id having max(is_inlier) = false order by id
"""


def _approx_mcod_sql() -> str:
    """SQL twin of the bounded-active-set ApproxMCOD analog
    (operators/approx_mcod.py::window_verdicts): same portable md5 eviction
    priority, same per-window safe-inlier eviction, arrival-vs-resident
    counting split, and ar promotion. It fans every point out to its
    windows and joins within each window, a layout independent of the
    Spark plan's halo blocks, so it also checks their window coverage."""
    S, W, R, K = DET_S, DET_W, DET_R, DET_K
    WS = DET_WS
    PDL = APPROX_PD_LIMIT
    AR = R / 2.0 + APPROX_AR_FACTOR * R
    RMAX = max(R, AR)
    return f"""
with pts as (
  select event_id + 1 as id, value, (event_id // {S}) + 1 as slide from events
), nb as (
  select cast(ceil(count(*) * 1.0 / {S}) as bigint) as b_total from pts
), pb as (
  select p.id, p.slide, p.value, x.b
  from pts p, nb,
       unnest(generate_series(p.slide, least(nb.b_total, p.slide + {WS - 1}))) as x(b)
), pairsw as (
  select a.b, a.id as i, b.id as j, a.slide as si, b.slide as sj,
         abs(a.value - b.value) as dist
  from pb a join pb b on a.b = b.b and a.id <> b.id
  where abs(a.value - b.value) <= {RMAX}
), ca as (
  select b, i as id,
         count(*) filter (where dist <= {R} and sj >= si) as count_after,
         count(*) filter (where dist <= {R}) as cnt_full
  from pairsw group by 1, 2
), memb as (
  select pb.b, pb.id, pb.slide,
         coalesce(ca.count_after, 0) as count_after,
         coalesce(ca.cnt_full, 0) as cnt_full,
         ('0x' || substr(md5(cast(pb.id as varchar) || '_' || '42'), 1, 15))::bigint
           as prio
  from pb left join ca on ca.b = pb.b and ca.id = pb.id
), wsz as (
  select b, count(*) as m from memb group by 1
), ev as (
  select b, id from (
    select memb.b, memb.id,
           row_number() over (partition by memb.b order by prio, memb.id) as rk,
           wsz.m - {PDL} as excess
    from memb join wsz using (b)
    where count_after >= {K}
  ) where excess > 0 and rk <= excess
), evw as (
  select distinct b from ev
), cnt_act as (
  select p.b, p.i as id, count(*) as c
  from pairsw p
  left join ev on ev.b = p.b and ev.id = p.j
  where p.dist <= {R} and ev.id is null
  group by 1, 2
), cnt_ar as (
  select p.b, p.i as id, count(*) as c
  from pairsw p
  left join ev e1 on e1.b = p.b and e1.id = p.i
  left join ev e2 on e2.b = p.b and e2.id = p.j
  where p.dist <= {AR} and e1.id is null and e2.id is null
  group by 1, 2
), centers as (
  select b, id from cnt_ar where c >= {K}
), promoted as (
  select distinct p.b, p.i as id
  from pairsw p
  join centers c on c.b = p.b and c.id = p.j
  left join ev e1 on e1.b = p.b and e1.id = p.i
  where p.dist <= {AR} and e1.id is null
  union
  select b, id from centers
), evals as (
  select m.b, m.id,
    (case when e.id is not null then true
          when m.slide = m.b then coalesce(c_act.c, 0) >= {K}
          else m.cnt_full >= {K} end)
    or (w.b is not null and pr.id is not null) as is_inlier
  from memb m
  left join ev e on e.b = m.b and e.id = m.id
  left join cnt_act c_act on c_act.b = m.b and c_act.id = m.id
  left join evw w on w.b = m.b
  left join promoted pr on pr.b = m.b and pr.id = m.id
)
select id from evals group by id having max(is_inlier) = false order by id
"""


def _simhash_sql() -> str:
    n = JACCARD_N
    return f"""
with sh as (
  select distinct doc_id as id, substr(text, s.b, {n}) as shingle
  from documents,
       unnest(generate_series(1, greatest(length(text) - {n - 1}, 1))) as s(b)
  where length(substr(text, s.b, {n})) = {n}
), hh as (
  select id, ('0x' || substr(md5(shingle), 1, 15))::bigint as h from sh
), bitsum as (
  select id, t.b as b,
         sum(case when (h >> t.b) & 1 = 1 then 1 else -1 end) as s
  from hh, unnest(generate_series(0, 59)) as t(b)
  group by 1, 2
), sig as (
  select id,
         cast(sum(case when s > 0 then (1::bigint << b) else 0 end) as bigint)
           as simhash
  from bitsum group by id
)
select a.id as id_a, b.id as id_b,
  cast(bit_count(xor(a.simhash, b.simhash)) as bigint) as hamming
from sig a join sig b on a.id < b.id
where bit_count(xor(a.simhash, b.simhash)) <= 3
order by id_a, id_b
"""


def _detector_recall_sql() -> str:
    """Exact-outlier CTE twin of q_detector_recall: recall is structurally
    1.0 (LSHOD outliers are a superset of exact — see the query docstring),
    so n_common must equal the exact baseline count."""
    return (
        _detector_core_sql()
        + f"""
, evals as (
  select pb.id, coalesce(c.cnt_end, 0) >= {DET_K} as is_inlier
  from pb left join counts c on c.id = pb.id and c.b = pb.b
), outl as (
  select id from evals group by id having max(is_inlier) = false
)
select count(*) as n_baseline, count(*) as n_common,
       cast(1.0 as double) as recall
from outl
"""
    )


def _embedding_neardup_sql() -> str:
    return f"""
with v as (
  select vec_id as id, list_transform(embedding, x -> cast(x as double)) as e
  from embeddings
)
select a.id as id_a, b.id as id_b,
  round(list_dot_product(a.e, b.e) /
        (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6)
    as cosine
from v a join v b on a.id < b.id
where round(list_dot_product(a.e, b.e) /
        (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6)
      >= {COS_T}
order by id_a, id_b
"""


def _knn_sql() -> str:
    return f"""
with v as (
  select vec_id as id, list_transform(embedding, x -> cast(x as double)) as e
  from embeddings
), scored as (
  select q.id as query_id, n.id as neighbor_id,
    round(list_dot_product(q.e, n.e) /
          (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(n.e, n.e))), 6)
      as cosine
  from v q join v n on q.id <> n.id
  where q.id < {KNN_NQ}
), ranked as (
  select query_id, neighbor_id, cosine,
    row_number() over (partition by query_id
                       order by cosine desc, neighbor_id asc) as rank
  from scored
)
select query_id, neighbor_id, cosine, rank from ranked
where rank <= {KNN_K} order by query_id, rank
"""


SRP_DIM, SRP_BITS, SRP_TABLES, SRP_SEED = 64, 8, 16, 42


def _srp_ann_sql() -> str:
    """SQL twin of q_srp_ann: re-derives the SRP bucket keys from the same
    seeded Gaussian float literals with an explicit left-to-right dot-
    product sum (bit-identical IEEE ops to the kernel's sequential
    accumulation), replays the (table, key) candidate equi-join with the
    query-side Hamming-1 multiprobe, then the exact cosine re-rank — the
    same structure as _lshod_outliers_sql for the detector."""
    from approximate_anomaly_detection_in_data_streams_spark.operators.knn import (
        srp_projections,
    )

    A = srp_projections(SRP_DIM, SRP_BITS, SRP_TABLES, SRP_SEED)
    key_exprs = []
    for t in range(SRP_TABLES):
        bits = []
        for b in range(SRP_BITS):
            row = A[t * SRP_BITS + b]
            dot = " + ".join(f"e[{i + 1}]*{float(row[i])!r}" for i in range(SRP_DIM))
            bits.append(f"case when ({dot}) > 0 then {1 << b} else 0 end")
        key_exprs.append("cast(" + " + ".join(bits) + f" as bigint) as k{t}")
    keys_cols = ",\n    ".join(key_exprs)
    key_rows = "\n  union all\n  ".join(
        f"select id, {t} as t, k{t} as key from keys" for t in range(SRP_TABLES)
    )
    probes = ", ".join(str(p) for p in [0] + [1 << j for j in range(SRP_BITS)])
    return f"""
with v as (
  select vec_id as id, list_transform(embedding, x -> cast(x as double)) as e
  from embeddings
), keys as materialized (
  select id,
    {keys_cols}
  from v
), tk as materialized (
  {key_rows}
), qk as (
  select t.id as query_id, t.t, xor(t.key, p.p) as key
  from tk t, unnest([{probes}]) as p(p)
  where t.id < {KNN_NQ}
), cand as (
  select distinct q.query_id, c.id as neighbor_id
  from qk q join tk c on c.t = q.t and c.key = q.key
  where c.id <> q.query_id
), scored as (
  select cand.query_id, cand.neighbor_id,
    round(list_dot_product(q.e, n.e) /
          (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(n.e, n.e))), 6)
      as cosine
  from cand
  join v q on q.id = cand.query_id
  join v n on n.id = cand.neighbor_id
), ranked as (
  select query_id, neighbor_id, cosine,
    row_number() over (partition by query_id
                       order by cosine desc, neighbor_id asc) as rank
  from scored
)
select query_id, neighbor_id, cosine, rank from ranked
where rank <= {KNN_K} order by query_id, rank
"""


def _ivf_ann_sql() -> str:
    """SQL twin of q_ivf_ann: same md5-priority codebook, same unit-sphere
    squared-L2 assignment with an explicit left-to-right (e[i]-c[i])^2
    sum (bit-identical to the kernel's sequential accumulation), same
    nprobe probing and exact cosine re-rank."""
    from approximate_anomaly_detection_in_data_streams_spark.operators.knn import (
        IVF_SALT,
    )

    d2 = " + ".join(
        f"(a.e[{i}]-c.ce[{i}])*(a.e[{i}]-c.ce[{i}])" for i in range(1, SRP_DIM + 1)
    )
    return f"""
with v as (
  select vec_id as id, list_transform(embedding, x -> cast(x as double)) as e
  from embeddings
), vn as (
  select id, list_transform(e, x -> x / sqrt(list_dot_product(e, e))) as e
  from v
), pri as (
  select id, e,
    ('0x' || substr(md5(cast(id as varchar) || '{IVF_SALT}'), 1, 15))::bigint as p
  from vn
), cent as (
  select id as cid, e as ce,
    row_number() over (order by p, id) - 1 as cidx
  from pri order by p, id limit {IVF_NLIST}
), assign as (
  select a.id, c.cidx,
    row_number() over (partition by a.id order by {d2} asc, c.cidx asc) as rk
  from vn a cross join cent c
), corpus_assign as (
  select id, cidx from assign where rk = 1
), qprobe as (
  select id, cidx from assign where rk <= {IVF_NPROBE} and id < {KNN_NQ}
), cand as (
  select q.id as query_id, c.id as neighbor_id
  from qprobe q join corpus_assign c on c.cidx = q.cidx and c.id <> q.id
), scored as (
  select cand.query_id, cand.neighbor_id,
    round(list_dot_product(q.e, n.e) /
          (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(n.e, n.e))), 6)
      as cosine
  from cand
  join v q on q.id = cand.query_id
  join v n on n.id = cand.neighbor_id
), ranked as (
  select query_id, neighbor_id, cosine,
    row_number() over (partition by query_id
                       order by cosine desc, neighbor_id asc) as rank
  from scored
)
select query_id, neighbor_id, cosine, rank from ranked
where rank <= {KNN_K} order by query_id, rank
"""


def _fingerprint_sql() -> str:
    return f"""
select doc_id,
  list_reduce(
    list_prepend(cast(0 as bigint),
      list_transform(string_split(text, ''), c -> cast(ord(c) as bigint))),
    (acc, x) -> (acc * {FP_BASE} + x) % {FP_MOD}
  ) as fp
from documents order by doc_id
"""


DRIFT_L1_LIMIT_IMG = 45.0  # ImageValidatorConfig default, used in the twin SQL
MAX_VIOLATION_RATE = 0.05


def _multimodal_oracle_sqls() -> dict[str, str]:
    """Planted-ground-truth oracles for the five multimodal queries.

    The synthetic generators are pure functions of (config, ordinal), so a
    SEQUENTIAL pure-Python reimplementation of the validation semantics
    (scalar codec.decode, per-window O(n^2) detection, dict-based truth-row
    election — oracle/planted.py) computes the exact expected outputs and
    persists them as parquet side tables; DuckDB reads them and recomputes
    the SQL-expressible math (rates, rounding, thresholds) on top. Any
    divergence of the distributed Arrow/shuffle dataflow from the scalar
    semantics breaks the hash match.
    """
    from approximate_anomaly_detection_in_data_streams_spark.config import (
        DetectorConfig as _DC,
    )
    from approximate_anomaly_detection_in_data_streams_spark.oracle.planted import (
        ensure_truth,
    )
    from approximate_anomaly_detection_in_data_streams_spark.validator import (
        ImageValidatorConfig,
    )

    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".oracle_truth")
    vcfg = ImageValidatorConfig(drift=_DC(w=200, slide=50, r=40.0, k=6))
    paths = ensure_truth(
        out_dir, _image_cfg(), vcfg, MEDIA_N, 11, 2,
        simhash_n=SIMHASH_FAST_N, simhash_seed=11, simhash_max_hamming=3,
        ivf=IVF_REF,
    )
    return {
        "image_partition_verdicts": f"""
select fmt, n_rows, n_row_violations,
  round(n_row_violations * 1.0 / n_rows, 6) as violation_rate,
  (n_row_violations * 1.0 / n_rows) <= {MAX_VIOLATION_RATE} as passed
from read_parquet('{paths["verdicts"]}') order by fmt
""",
        "image_violations": f"""
select image_id, kind, detail from read_parquet('{paths["violations"]}')
order by image_id, kind, detail
""",
        "image_drift_slides": f"""
select slide, n_rows, round(l1, 4) as l1, l1 > {DRIFT_L1_LIMIT_IMG} as drifted
from read_parquet('{paths["drift"]}') order by slide
""",
        "audio_features": f"""
select audio_id, decode_ok, round(duration_s, 6) as duration_s,
  round(rms, 6) as rms, round(zero_crossing_rate, 6) as zero_crossing_rate,
  round(peak, 6) as peak
from read_parquet('{paths["audio"]}') order by audio_id
""",
        "video_frames": f"""
select video_id, frame_idx, w, h, frame_fp
from read_parquet('{paths["video"]}') order by video_id, frame_idx
""",
        "simhash_fast_documents": f"""
select id_a, id_b, hamming
from read_parquet('{paths["simhash_fast"]}') order by id_a, id_b
""",
        "ivf_ann_refined": f"""
select query_id, neighbor_id, cosine, rank
from read_parquet('{paths["ivf_refined"]}') order by query_id, rank
""",
    }


def oracle_sql() -> dict[str, str]:
    return {
        **_multimodal_oracle_sqls(),
        "mcod_outliers": _mcod_outliers_sql(),
        "mcod_stats": _mcod_stats_sql(),
        "approx_mcod_outliers": _approx_mcod_sql(),
        "approx_mclshod_outliers": _lshod_outliers_sql("approx_mclshod"),
        "lshod_outliers": _lshod_outliers_sql(),
        "col_stats_lineitem": _col_stats_sql(),
        "null_profile_orders": """
select count(*) as n_rows,
  cast(sum(case when o_custkey is null then 1 else 0 end) as bigint) as o_custkey_nulls,
  cast(sum(case when o_totalprice is null then 1 else 0 end) as bigint) as o_totalprice_nulls,
  cast(sum(case when o_orderpriority is null then 1 else 0 end) as bigint) as o_orderpriority_nulls
from orders
""",
        "uniqueness_orders": """
select count(*) as n_rows,
  count(distinct o_orderkey) as o_orderkey_distinct,
  count(distinct o_custkey) as o_custkey_distinct,
  count(*) - count(distinct o_orderkey) as o_orderkey_dups,
  count(*) - count(distinct o_custkey) as o_custkey_dups
from orders
""",
        "duplicate_custkeys": """
select o_custkey, count(*) as n_dup from orders
group by o_custkey having count(*) > 1 order by n_dup desc, o_custkey
""",
        "heavy_hitters_events": f"""
select event_type as value, count(*) as n from events
group by event_type having count(*) >= {HH_MIN} order by n desc, value
""",
        "referential_orphans": """
select count(*) as n_orphans from lineitem l
where not exists (select 1 from orders o where o.o_orderkey = l.l_orderkey)
""",
        "join_segment_revenue": """
select c_mktsegment, count(*) as n_orders, round(sum(o_totalprice), 2) as revenue
from orders join customer on o_custkey = c_custkey
group by c_mktsegment order by c_mktsegment
""",
        "pricing_summary": """
select l_returnflag, l_linestatus,
  round(sum(l_quantity), 2) as sum_qty,
  round(sum(l_extendedprice), 2) as sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price,
  round(avg(l_discount), 6) as avg_disc,
  count(*) as count_order
from lineitem group by l_returnflag, l_linestatus
order by l_returnflag, l_linestatus
""",
        "window_hourly_events": """
select strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') as hour_start,
  event_type, count(*) as n, round(sum(value), 4) as sum_value
from events group by 1, 2 order by hour_start, event_type
""",
        "value_drift_events": f"""
with rng as (
  select min(cast(value as double)) as mn, max(cast(value as double)) as mx
  from events
), binned as (
  select cast(event_id // {DRIFT_SLIDE} as bigint) as slide,
    cast(least(floor((cast(value as double) - mn) / (mx - mn) * {DRIFT_BINS}),
               {DRIFT_BINS - 1}) as bigint) as bin
  from events, rng
), slide_hist as (
  select slide, bin, count(*) as c from binned group by 1, 2
), slide_tot as (
  select slide, sum(c) as n_rows from slide_hist group by 1
), global_hist as (
  select bin, count(*) * 1.0 / (select count(*) from binned) as gfrac
  from binned group by 1
), l1 as (
  select st.slide, st.n_rows,
    round(sum(abs(coalesce(sh.c, 0) * 1.0 / st.n_rows - gh.gfrac)), 6) as l1
  from slide_tot st
  cross join global_hist gh
  left join slide_hist sh on sh.slide = st.slide and sh.bin = gh.bin
  group by 1, 2
)
select slide, cast(n_rows as bigint) as n_rows, l1, l1 > {DRIFT_L1} as drifted
from l1 order by slide
""",
        "percentiles_lineitem": """
select l_returnflag,
  round(quantile_cont(l_extendedprice, 0.25), 4) as p25,
  round(quantile_cont(l_extendedprice, 0.5), 4) as p50,
  round(quantile_cont(l_extendedprice, 0.75), 4) as p75,
  round(quantile_cont(l_extendedprice, 0.99), 4) as p99
from lineitem group by l_returnflag order by l_returnflag
""",
        "sessionize_events": f"""
with g as (
  select user_id, event_id, ts, value,
    case when lag(ts) over (partition by user_id order by ts, event_id) is null
         or date_diff('microseconds',
              lag(ts) over (partition by user_id order by ts, event_id), ts)
            > {SESSION_GAP_S}::bigint * 1000000
         then 1 else 0 end as new_sess
  from events
), s as (
  select *, sum(new_sess) over (partition by user_id order by ts, event_id
                                rows unbounded preceding) as sess_no
  from g
)
select user_id, cast(sess_no as bigint) as sess_no, count(*) as n_events,
  round(sum(value), 4) as sum_value,
  strftime(min(ts), '%Y-%m-%d %H:%M:%S') as session_start
from s group by user_id, sess_no order by user_id, sess_no
""",
        "exact_dups_documents": """
select md5(text) as content_hash, count(*) as n_dup, min(doc_id) as min_id
from documents group by 1 having count(*) > 1 order by n_dup desc, min_id
""",
        "jaccard_pairs_documents": _jaccard_sql(),
        "jaccard_pairs_capped": _jaccard_sql(cap=JACCARD_DF_CAP),
        "minhash_pairs_documents": _jaccard_sql(),
        "simhash_pairs_documents": _simhash_sql(),
        "detector_recall": _detector_recall_sql(),
        "dedup_groups": _dedup_groups_sql(),
        "dedup_groups_capped": _dedup_groups_sql(cap=JACCARD_DF_CAP),
        "embedding_neardup": _embedding_neardup_sql(),
        "knn_bruteforce": _knn_sql(),
        "srp_ann": _srp_ann_sql(),
        "ivf_ann": _ivf_ann_sql(),
        "lang_id_documents": _lang_id_sql(),
        "quality_documents": _quality_sql(),
        "token_counts_documents": """
select doc_id,
  length(regexp_extract_all(text, '[^ \t\n\r]+')) as n_ws_tokens,
  length(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\r]')) as n_bpe_tokens
from documents order by doc_id
""",
        "fingerprint_documents": _fingerprint_sql(),
    }
