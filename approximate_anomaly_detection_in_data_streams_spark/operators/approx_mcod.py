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
seeded, per-window restatement of the same two rules (``window_verdicts``):

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

Plan shape: the halo-block kernel of the other three detectors
(operators/pairs.py). Window b holds slides [b-ws+1, b], all within the
halo of the block of every point it holds, so ``block_verdicts`` folds
``window_verdicts`` over each window that holds a home point into those
points' (ever_inlier, ever_outlier). A window that straddles two blocks is
evaluated in both; eviction is window-local, so counts cannot be
pre-aggregated across windows as the exact path's slide bins are.
"""

from __future__ import annotations

import hashlib

import numpy as np

from ..config import DetectorConfig


def priority(ids: np.ndarray, seed: int) -> np.ndarray:
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


def window_verdicts(
    ids: np.ndarray,
    slides: np.ndarray,
    X: np.ndarray,
    prio: np.ndarray | None,
    b: int,
    cfg: DetectorConfig,
) -> np.ndarray:
    """Each point's end-of-batch-``b`` verdict (is_inlier) in the window
    of batch ``b``: the id-sorted rows ``ids``/``slides``/``X`` with
    slides in [b-ws+1, b], and their ``priority`` (read only when the cap
    binds, so None is fine for ``pd_limit`` = 0)."""
    r = float(cfg.r)
    ar = r / 2.0 + float(cfg.ar_factor) * r
    k, m = cfg.k, len(ids)
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
    excess = m - cfg.pd_limit if cfg.pd_limit > 0 else 0
    if excess > 0 and safe.any():
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
        centers = active & (((within_ar & active[None, :]).sum(axis=1)) >= k)
        promoted = (within_ar & centers[None, :]).any(axis=1) | centers
        is_inlier = is_inlier | promoted
    return is_inlier | evicted  # evicted points are safe inliers


def block_verdicts(cfg: DetectorConfig, b_total: int):
    """The halo kernel's per-block verdicts (operators/pairs.py::
    halo_verdicts) for ApproxMCOD: the home rows [h0, h1) of an id-sorted
    block are evaluated in every window b from their first slide to
    min(b_total, last slide + ws - 1); a point is ever inlier (outlier)
    iff some window classifies it so."""
    ws = cfg.ws

    def block(ids, slides, X, h0, h1):
        prio = priority(ids, cfg.seed) if cfg.pd_limit > 0 else None
        ever_in = np.zeros(h1 - h0, dtype=bool)
        ever_out = np.zeros(h1 - h0, dtype=bool)
        for b in range(int(slides[h0]), min(b_total, int(slides[h1 - 1]) + ws - 1) + 1):
            w0, w1 = np.searchsorted(slides, [b - ws + 1, b + 1])
            is_in = window_verdicts(
                ids[w0:w1], slides[w0:w1], X[w0:w1],
                None if prio is None else prio[w0:w1], b, cfg,
            )
            a0, a1 = max(w0, h0), min(w1, h1)
            ever_in[a0 - h0 : a1 - h0] |= is_in[a0 - w0 : a1 - w0]
            ever_out[a0 - h0 : a1 - h0] |= ~is_in[a0 - w0 : a1 - w0]
        return ever_in, ever_out

    return block
