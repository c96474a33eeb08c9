"""Distributed batch analog of ApproxMCOD (X1/X2): per-window bounded
active set with safe-inlier-only eviction and the ``ar`` approximation
radius.

The reference's ApproxMCOD (/root/reference/src/algorithms/ApproxMCOD.java)
bounds its PD index at ``pdLimit`` entries by evicting uniformly-random
*safe inliers* (count_after >= k — points that can never become outliers,
ApproxMCOD.java:40-53,159-173) and compensates the resulting undercount by
letting points within ``ar = R/2 + arFactor*R`` of a dense center count
toward cluster formation and join it as inliers (ApproxMCOD.java:205-259).
Both mechanisms are inherently order-dependent (eviction history, unseeded
RNG) — the faithful sequential mechanism lives in
streaming/mcod_engine.py. This module is the scale path: an order-free,
seeded, per-window restatement of the same two rules, embarrassingly
parallel over windows:

  * X1 (bounded state): in every window, if the population exceeds
    ``pd_limit``, the excess is evicted from the *counted* set — only safe
    inliers are eligible (eviction can therefore never flip any point's
    own verdict), chosen by a portable seeded hash order (md5-derived, so
    the DuckDB oracle replays the exact choice). Evicted points stay
    inliers; points ARRIVING in that window count neighbors only among
    the surviving active set (eviction blinds future range queries,
    exactly the reference's undercount direction), while already-resident
    points keep full-window counts (reference counts only ever grow —
    addNeighbor never decrements, MCOD.java:50-80).
  * X2 (ar compensation): in windows where an eviction occurred, any
    point within ``ar`` of an active "approximate center" — a point with
    >= k active neighbors within ``ar`` — is classified inlier regardless
    of its own count. This is the MC-less restatement of |NC u ANC| >= k
    formation plus ANC membership (ApproxMCOD.java:205-259): dist(member,
    center) <= ar with >= k collected points makes the member an inlier
    there too.

Violation semantics downstream are unchanged: a point is a pure outlier
iff no window ever classifies it inlier
(/root/reference/src/core/OutlierDetector.java:43-62).

Plan shape: window fan-out (x W/S duplication) -> one applyInPandas per
window (<= W points, vectorized NumPy) -> per-id min/max aggregation. Every
window is independent work — the same linear-scaling layout as the exact
kernel, traded against the exact path's slide-binned count compression
(eviction is window-local, so counts cannot be pre-aggregated across
windows here).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DetectorConfig
from .detector import DetectionResult, lifetime_stats
from .windows import n_batches, point_batches, with_slide

EVAL_SCHEMA = "id long, b long, cnt long, is_inlier boolean"


def _priority(ids: np.ndarray, seed: int) -> np.ndarray:
    """Portable per-id eviction priority: first 15 hex chars of
    md5(str(id) || '_' || str(seed)) as int64 — reproducible in DuckDB as
    ('0x' || substr(md5(...), 1, 15))::bigint, which is what makes the
    whole approximate detector oracle-checkable."""
    return np.array(
        [
            int(hashlib.md5(f"{i}_{seed}".encode()).hexdigest()[:15], 16)
            for i in ids.tolist()
        ],
        dtype=np.int64,
    )


def approx_mcod_evaluations(
    points: DataFrame, cfg: DetectorConfig
) -> DataFrame:
    """Per-(point, window) end evaluations under the bounded-active-set
    semantics. Output: (id, b, cnt, is_inlier)."""
    pts = with_slide(points, cfg)
    b_total = n_batches(points, cfg)
    fanned = point_batches(pts, cfg, b_total).join(
        pts.select("id", "features"), "id"
    )
    r = float(cfg.r)
    ar = r / 2.0 + float(cfg.ar_factor) * r
    k, pd_limit, seed = cfg.k, cfg.pd_limit, cfg.seed

    def emit(key, pdf):
        b = int(key[0])
        order = np.argsort(pdf["id"].to_numpy())
        ids = pdf["id"].to_numpy()[order]
        slides = pdf["slide"].to_numpy()[order]
        X = np.stack(pdf["features"].to_numpy()[order]).astype(np.float64)
        m = len(ids)
        sq = np.einsum("ij,ij->i", X, X)
        d2 = sq[:, None] + sq[None, :] - 2.0 * (X @ X.T)
        np.fill_diagonal(d2, np.inf)
        within_r = d2 <= r * r

        # safe inliers: count_after = neighbors in same-or-later slides
        later = slides[None, :] >= slides[:, None]
        count_after = (within_r & later).sum(axis=1)
        safe = count_after >= k

        # X1: seeded eviction of the excess, safe inliers only
        evicted = np.zeros(m, dtype=bool)
        excess = m - pd_limit if pd_limit > 0 else 0
        if excess > 0 and safe.any():
            prio = _priority(ids, seed)
            cand = np.flatnonzero(safe)
            take = cand[np.argsort(prio[cand], kind="stable")[:excess]]
            evicted[take] = True
        active = ~evicted

        # counts: arrivals of this window see only active points; older
        # residents keep full-window counts (reference counts never shrink)
        arrival = slides == b
        cnt_full = within_r.sum(axis=1)
        cnt_active = (within_r & active[None, :]).sum(axis=1)
        cnt = np.where(arrival, cnt_active, cnt_full)
        is_inlier = cnt >= k

        # X2: ar-promotion in windows that evicted
        if evicted.any():
            within_ar = d2 <= ar * ar
            centers = active & (
                ((within_ar & active[None, :]).sum(axis=1)) >= k
            )
            promoted = (within_ar & centers[None, :]).any(axis=1) | centers
            is_inlier = is_inlier | promoted
        is_inlier = is_inlier | evicted  # evicted points are safe inliers

        return pd.DataFrame(
            {
                "id": ids,
                "b": np.full(m, b, dtype=np.int64),
                "cnt": cnt.astype(np.int64),
                "is_inlier": is_inlier,
            }
        )

    return fanned.groupBy("b").applyInPandas(emit, EVAL_SCHEMA)


def approx_mcod_detect(points: DataFrame, cfg: DetectorConfig) -> DetectionResult:
    """Full bounded-state detection run (DetectionResult shape).

    ``stats`` here are derived from end evaluations only — the reference's
    pre/arrival evaluation moments interleave with its order-dependent
    eviction history and are not order-free; the violation set (A6) needs
    only end evaluations (operators/detector.py module docstring) and is
    the parity target for approximate variants (recall vs exact, X4).
    """
    evals = approx_mcod_evaluations(points, cfg)
    per_point = evals.groupBy("id").agg(
        F.max("is_inlier").alias("ever_inlier"),
        F.min("is_inlier").alias("always_inlier"),
    )
    per_point = per_point.select(
        "id",
        "ever_inlier",
        (~F.col("always_inlier")).alias("ever_outlier"),
    )
    outliers = per_point.where(~F.col("ever_inlier")).select("id").orderBy("id")
    return DetectionResult(
        outliers=outliers, per_point=per_point, stats=lifetime_stats(per_point)
    )
