"""Faithful ApproxMCOD: sequential reference-mechanism engine
(streaming/mcod_engine.py) and the distributed bounded-active-set analog
(operators/approx_mcod.py)."""

from __future__ import annotations

import numpy as np
import pytest

from approximate_anomaly_detection_in_data_streams_spark.api import run_detector
from approximate_anomaly_detection_in_data_streams_spark.config import DetectorConfig
from approximate_anomaly_detection_in_data_streams_spark.streaming.mcod_engine import (
    MCODEngine,
)

from .conftest import golden_outliers


# ---- sequential engine: exact-MCOD mode reproduces the reference ----


@pytest.mark.parametrize(
    "w,s,r,k,golden",
    [
        (100, 20, 0.3, 5, "mcod_100_20_0.3_5.txt"),
        (500, 100, 0.8, 20, "mcod_500_100_0.8_20.txt"),
        (512, 64, 0.4, 3, "mcod_512_64_0.4_3.txt"),
    ],
)
def test_engine_mcod_mode_matches_reference_goldens(gauss2d, w, s, r, k, golden):
    """pd_limit=0 disables eviction/ANC — the engine must then BE the
    reference MCOD mechanism (micro-clusters, event queue, dissolution
    included), bit-exact on the committed reference-Java outlier sets."""
    cfg = DetectorConfig(w=w, slide=s, r=r, k=k)
    res = MCODEngine(cfg, 2).run(gauss2d)
    assert res["outliers"] == golden_outliers(golden)


def test_engine_eviction_only_removes_safe_inliers(gauss2d):
    """X1 invariant (/root/reference/src/algorithms/ApproxMCOD.java:159-173):
    every evicted entry had count_after >= k at eviction time."""
    cfg = DetectorConfig(
        w=500, slide=100, r=0.8, k=20,
        algorithm="approx_mcod", pd_limit=100, ar_factor=0.25, seed=7,
    )
    eng = MCODEngine(cfg, 2)
    eng.run(gauss2d)
    assert len(eng.evicted_log) > 100  # the cap actually binds on this config
    assert all(c >= cfg.k for _, c in eng.evicted_log)


def test_engine_approx_is_seeded_deterministic(gauss2d):
    cfg = DetectorConfig(
        w=500, slide=100, r=0.8, k=20,
        algorithm="approx_mcod", pd_limit=100, ar_factor=0.4, seed=11,
    )
    a = MCODEngine(cfg, 2).run(gauss2d)
    b = MCODEngine(cfg, 2).run(gauss2d)
    assert a == b


def test_engine_approx_recall_vs_exact(gauss2d):
    """Reference methodology (X4, AccuracyComparator.java): approximate
    recall vs the exact outlier set; the committed reference sample shows
    70% (/root/reference/src/mcodFile.txt vs approxmcodFile.txt)."""
    exact = set(
        MCODEngine(DetectorConfig(w=500, slide=100, r=0.8, k=20), 2)
        .run(gauss2d)["outliers"]
    )
    cfg = DetectorConfig(
        w=500, slide=100, r=0.8, k=20,
        algorithm="approx_mcod", pd_limit=100, ar_factor=0.25, seed=7,
    )
    approx = set(MCODEngine(cfg, 2).run(gauss2d)["outliers"])
    assert len(exact & approx) / len(exact) >= 0.7


# ---- distributed batch analog ----


@pytest.fixture(scope="module")
def gauss_points(spark, gauss2d):
    return spark.createDataFrame(
        [(i + 1, [float(a), float(b)]) for i, (a, b) in enumerate(gauss2d)],
        "id long, features array<double>",
    ).cache()


def test_batch_analog_unlimited_equals_exact(spark, gauss_points):
    """pd_limit=0: no eviction, no promotion — the bounded-state kernel
    must reproduce the exact detector's violation set."""
    base = dict(w=100, slide=20, r=0.5, k=8)
    exact = [r.id for r in run_detector(gauss_points, DetectorConfig(**base)).outliers.collect()]
    approx = [
        r.id
        for r in run_detector(
            gauss_points,
            DetectorConfig(**base, algorithm="approx_mcod", pd_limit=0),
        ).outliers.collect()
    ]
    assert exact == approx and len(exact) > 0


def test_batch_analog_seeded_deterministic(spark, gauss_points):
    cfg = DetectorConfig(
        w=100, slide=20, r=0.5, k=8,
        algorithm="approx_mcod", pd_limit=50, ar_factor=0.3, seed=5,
    )
    a = [r.id for r in run_detector(gauss_points, cfg).outliers.collect()]
    b = [r.id for r in run_detector(gauss_points, cfg).outliers.collect()]
    assert a == b


def test_batch_analog_ar_promotion_only_when_evicting(spark, gauss_points):
    """ar promotion is gated on an eviction having occurred (the
    reference's safeInlierDeleted flag, ApproxMCOD.java:205-224): with an
    unbinding cap, ar_factor must not change the verdicts."""
    base = dict(w=100, slide=20, r=0.5, k=8)
    plain = [r.id for r in run_detector(gauss_points, DetectorConfig(**base)).outliers.collect()]
    with_ar = [
        r.id
        for r in run_detector(
            gauss_points,
            DetectorConfig(
                **base, algorithm="approx_mcod", pd_limit=0, ar_factor=0.5
            ),
        ).outliers.collect()
    ]
    assert with_ar == plain


def _window_loop(X, cfg):
    """Per-point (ever_inlier, ever_outlier) by calling window_verdicts on
    every window b = 1..b_total of the whole stream — no blocks, no halo."""
    from approximate_anomaly_detection_in_data_streams_spark.operators.approx_mcod import (
        priority,
        window_verdicts,
    )

    n = len(X)
    ids = np.arange(1, n + 1)
    slides = (ids - 1) // cfg.slide + 1
    prio = priority(ids, cfg.seed)
    ever_in = np.zeros(n, dtype=bool)
    ever_out = np.zeros(n, dtype=bool)
    for b in range(1, int(slides[-1]) + 1):
        w = (slides > b - cfg.ws) & (slides <= b)
        is_in = window_verdicts(ids[w], slides[w], X[w], prio[w], b, cfg)
        ever_in[w] |= is_in
        ever_out[w] |= ~is_in
    return {int(i): (bool(a), bool(o)) for i, a, o in zip(ids, ever_in, ever_out)}


def test_batch_analog_equals_a_plain_window_loop(spark, gauss2d):
    """The halo kernel evaluates each window inside the block of every
    point it holds: its per-point verdicts equal a plain loop over all
    windows, at a binding cap and with a partial last slide (1990 points,
    S=20), where windows straddle blocks of ws=5 slides."""
    from dataclasses import replace

    X = gauss2d[:1990]
    cfg = DetectorConfig(
        w=100, slide=20, r=0.5, k=8, algorithm="approx_mcod",
        pd_limit=50, ar_factor=0.3, seed=5, dim=2, n_total=len(X),
    )
    expected = _window_loop(X, cfg)
    assert expected != _window_loop(X, replace(cfg, pd_limit=0))  # the cap binds
    points = spark.createDataFrame(
        [(i + 1, [float(a), float(b)]) for i, (a, b) in enumerate(X)],
        "id long, features array<double>",
    )
    got = {
        r.id: (r.ever_inlier, r.ever_outlier)
        for r in run_detector(points, cfg).per_point.collect()
    }
    assert got == expected


@pytest.mark.parametrize(
    "dataset,w,s,r,k,golden",
    [
        ("shuttle5k.csv.gz", 1000, 100, 45.0, 30, "mcod_shuttle5k_1000_100_45_30.txt"),
        ("satimage-2.csv.gz", 1000, 100, 80.0, 30, "mcod_satimage2_1000_100_80_30.txt"),
        ("arrhythmia.csv.gz", 200, 50, 200.0, 10, "mcod_arrhythmia_200_50_200_10.txt"),
    ],
)
def test_engine_mcod_mode_matches_reference_datasets(dataset, w, s, r, k, golden):
    """Engine exact mode on the reference's own benchmark datasets
    (9/36/274 dims): bit-exact vs reference-Java outlier sets — the MC
    formation/dissolution and event-queue mechanism holds across
    dimensionalities, not just the 2-d fixture."""
    import gzip

    from .conftest import GOLDEN

    X = np.loadtxt(gzip.open(GOLDEN / dataset), delimiter=",")
    cfg = DetectorConfig(w=w, slide=s, r=r, k=k)
    res = MCODEngine(cfg, X.shape[1]).run(X)
    assert res["outliers"] == golden_outliers(golden)


def test_engine_reproduces_reference_stats_artifact():
    """The reference's printed lifetime counters on shuttle-5k are
    4549/234/217 — two points spuriously counted 'both' by its
    dissolution-reinsertion order (operators/detector.py docstring). The
    mechanism-faithful engine must reproduce that artifact exactly; the
    batch path reports the order-independent truth (4551/234/215)."""
    import gzip

    from .conftest import GOLDEN

    X = np.loadtxt(gzip.open(GOLDEN / "shuttle5k.csv.gz"), delimiter=",")
    res = MCODEngine(DetectorConfig(w=1000, slide=100, r=45.0, k=30), X.shape[1]).run(X)
    assert (
        res["n_only_inlier"],
        res["n_only_outlier"],
        res["n_both_inlier_outlier"],
    ) == (4549, 234, 217)
