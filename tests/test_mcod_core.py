"""Exact-core parity: Spark detector == reference Java MCOD == brute oracle.

Golden files in tests/golden/ were produced by compiling and running the
actual reference (/root/reference/src/Executor.java) on the committed
gauss2d.csv fixture; the brute oracle (oracle/brute.py) has been verified to
match them exactly for every (W, S, R, k) below.
"""

from __future__ import annotations

import numpy as np
import pytest

from approximate_anomaly_detection_in_data_streams_spark.config import DetectorConfig
from approximate_anomaly_detection_in_data_streams_spark.operators.detector import detect
from approximate_anomaly_detection_in_data_streams_spark.oracle.brute import mcod_brute
from approximate_anomaly_detection_in_data_streams_spark.sources.stream_csv import (
    POINT_SCHEMA,
)

from .conftest import golden_outliers

GOLDEN_CASES = [
    ("mcod_W500_S50_R0.5_k10.txt", 500, 50, 0.5, 10),
    ("mcod_100_20_0.3_5.txt", 100, 20, 0.3, 5),
    ("mcod_500_100_0.8_20.txt", 500, 100, 0.8, 20),
    ("mcod_512_64_0.4_3.txt", 512, 64, 0.4, 3),
    ("mcod_2048_256_1.0_30.txt", 2048, 256, 1.0, 30),
]


def to_points_df(spark, X: np.ndarray):
    rows = [(i + 1, [float(v) for v in row]) for i, row in enumerate(np.atleast_2d(X))]
    return spark.createDataFrame(rows, POINT_SCHEMA)


@pytest.mark.parametrize("golden,w,s,r,k", GOLDEN_CASES)
def test_spark_matches_reference_golden(spark, gauss2d, golden, w, s, r, k):
    cfg = DetectorConfig(w=w, slide=s, r=r, k=k)
    result = detect(to_points_df(spark, gauss2d), cfg)
    got = [row.id for row in result.outliers.collect()]
    assert got == golden_outliers(golden)


def test_spark_stats_match_reference(spark, gauss2d):
    # Reference printed: 1427 always-inlier / 274 always-outlier / 299 both.
    cfg = DetectorConfig(w=500, slide=50, r=0.5, k=10)
    stats = detect(to_points_df(spark, gauss2d), cfg).stats.first()
    assert (
        stats.n_only_inlier,
        stats.n_only_outlier,
        stats.n_both_inlier_outlier,
        stats.n_points,
    ) == (1427, 274, 299, 2000)


@pytest.mark.parametrize(
    "n,d,w,s,r,k,seed,n_total,n_iso",
    [
        pytest.param(400, 1, 80, 20, 0.2, 3, 0, 0, 0, id="400-1-80-20-0.2-3-0"),
        pytest.param(500, 3, 100, 25, 0.9, 4, 1, 500, 0, id="500-3-100-25-0.9-4-1"),
        # n not divisible by slide
        pytest.param(333, 2, 90, 30, 0.5, 2, 2, 0, 0, id="333-2-90-30-0.5-2-2"),
        # window never fills (n < W)
        pytest.param(60, 2, 200, 50, 0.6, 3, 3, 60, 0, id="60-2-200-50-0.6-3-3"),
        # tumbling window (S == W): no halo at all
        pytest.param(250, 2, 50, 50, 0.5, 4, 4, 0, 0, id="250-2-50-50-0.5-4-4"),
        # ws = 30: a long slide-offset range per point
        pytest.param(400, 2, 120, 4, 0.5, 4, 5, 400, 0, id="ws30"),
        # far-flung, mutually distant points with no neighbor anywhere,
        # with the stream length given and inferred
        pytest.param(400, 2, 100, 20, 0.5, 4, 11, 400, 25, id="isolated-ntotal"),
        pytest.param(400, 2, 120, 4, 0.5, 4, 11, 0, 25, id="isolated-ws30"),
        # n = W+1: the last block holds a single point
        pytest.param(401, 2, 400, 100, 0.5, 3, 6, 401, 0, id="last-block-one-point"),
    ],
)
def test_spark_matches_brute_random(spark, n, d, w, s, r, k, seed, n_total, n_iso):
    rng = np.random.default_rng(seed)
    X = rng.normal(0, 1, size=(n, d))
    X[rng.choice(n, size=max(1, n // 50), replace=False)] += 8.0
    iso = rng.choice(n, size=n_iso, replace=False)
    X[iso] += 50.0 + np.arange(n_iso)[:, None] * 17.0
    cfg = DetectorConfig(w=w, slide=s, r=r, k=k, n_total=n_total)
    result = detect(to_points_df(spark, X), cfg)
    brute = mcod_brute(X, w=w, slide=s, r=r, k=k)
    got = [row.id for row in result.outliers.collect()]
    assert got == brute["outliers"]
    stats = result.stats.first()
    assert stats.n_only_inlier == brute["n_only_inlier"]
    assert stats.n_only_outlier == brute["n_only_outlier"]
    assert stats.n_both_inlier_outlier == brute["n_both_inlier_outlier"]
    assert stats.n_points == n


def test_stats_sum_to_n(spark, gauss2d):
    # Reference invariant: the three lifetime buckets partition all points
    # (/root/reference/src/Executor.java:239-255).
    cfg = DetectorConfig(w=200, slide=40, r=0.4, k=5)
    stats = detect(to_points_df(spark, gauss2d), cfg).stats.first()
    assert (
        stats.n_only_inlier + stats.n_only_outlier + stats.n_both_inlier_outlier
        == stats.n_points
        == 2000
    )


def test_gapped_ids_invent_no_points(spark):
    """Ids 1..200 without 57: the verdicts come from the input rows alone,
    so a known stream length changes nothing — no phantom point 57."""
    rng = np.random.default_rng(7)
    X = rng.normal(0, 1, size=(200, 2))
    rows = [(i + 1, [float(v) for v in X[i]]) for i in range(200) if i + 1 != 57]
    points = spark.createDataFrame(rows, POINT_SCHEMA)
    ids = {r[0] for r in rows}
    runs = []
    for n_total in (0, 200):
        cfg = DetectorConfig(w=40, slide=10, r=0.6, k=4, n_total=n_total)
        res = detect(points, cfg)
        runs.append(([r.id for r in res.outliers.collect()], res.stats.first()))
    (out0, stats0), (out200, stats200) = runs
    assert out0 == out200
    assert stats0 == stats200
    assert stats0.n_points == len(rows)
    assert set(out0) <= ids


BAD_FEATURES = [
    # ragged widths: the kernel names the expected and found width
    (
        "ragged",
        [(i, [0.1 * i, 0.2]) for i in range(1, 30)] + [(30, [1.0, 2.0, 3.0])],
        "ragged features: expected width 2, found 3 at id 30",
    ),
    # a NaN distance compares false: without the check the point
    # would silently become an outlier
    (
        "nan",
        [(i, [0.1 * i, float("nan") if i == 12 else 0.2]) for i in range(1, 31)],
        "non-finite features at id 12",
    ),
    (
        "inf",
        [(i, [float("inf") if i == 5 else 0.1 * i, 0.2]) for i in range(1, 31)],
        "non-finite features at id 5",
    ),
    # zero-width points would all coincide: every point an inlier
    (
        "empty",
        [(i, [] if i == 17 else [0.1 * i, 0.2]) for i in range(1, 31)],
        "empty features at id 17",
    ),
    # a repeated id is counted twice (n_points 31) and shifts slides
    (
        "duplicate-id",
        [(i, [0.1 * i, 0.2]) for i in range(1, 31)] + [(11, [0.5, 0.2])],
        "duplicate id 11",
    ),
]


# every algorithm runs the halo kernel, which enforces the input contract
@pytest.mark.parametrize(
    "algorithm,rows,match",
    [
        pytest.param(algo, rows, match, id=case if algo == "mcod" else f"{algo}-{case}")
        for algo in ("mcod", "approx_mcod")
        for case, rows, match in BAD_FEATURES
    ],
)
def test_bad_features_fail_with_a_clear_message(spark, algorithm, rows, match):
    from approximate_anomaly_detection_in_data_streams_spark.api import run_detector

    cfg = DetectorConfig(
        w=20, slide=10, r=0.5, k=2, dim=2, n_total=30, algorithm=algorithm
    )
    res = run_detector(spark.createDataFrame(rows, POINT_SCHEMA), cfg)
    with pytest.raises(Exception, match=f"ValueError: {match}"):
        res.outliers.collect()
