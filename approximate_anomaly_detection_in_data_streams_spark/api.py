"""Top-level detector API: algorithm dispatch (the reference's CLI surface).

Maps the reference's four algorithms (/root/reference/src/Executor.java:98-110)
onto ONE plan, the halo-block kernel (operators/pairs.py): each block of
W/S slides travels with a halo of its neighbours' adjacent ws-1 slides, and
one Arrow task emits every home point's verdict. They differ only in the
per-block verdict function:

  mcod           -> slide-binned counts over the exact Euclidean distance
                    plane (operators/pairs.py)
  lshod          -> the same over distance masked by seeded LSH collisions,
                    4 hashes / 10 tables / w=R (reference
                    src/Executor.java:102-105; operators/lsh.py)
  approx_mclshod -> the same at 5 hashes / 10 tables / w=3R/2
                    (/root/reference/src/Executor.java:106-109)
  approx_mcod    -> every window in the block evaluated as a bounded active
                    set with seeded safe-inlier-only eviction plus the ar
                    approximation radius — the order-free distributed
                    analog of the reference's PD cap
                    (/root/reference/src/algorithms/ApproxMCOD.java:40-72,
                    159-173,205-224; operators/approx_mcod.py). The
                    faithful order-dependent mechanism (micro-clusters,
                    event queue, sequential eviction) is
                    streaming/mcod_engine.py; the reference's own variant
                    is nondeterministic (unseeded Random,
                    ApproxMCOD.java:49), so parity is recall-vs-exact, not
                    bitwise (SURVEY.md section 5).
"""

from __future__ import annotations

from .config import DetectorConfig
from .operators.detector import detect

# dispatch by cfg.algorithm; ``points``: (id, features)
run_detector = detect


def lshod_config(
    w: int, slide: int, r: float, k: int, seed: int = 42, dim: int = 0,
    n_total: int = 0,
) -> DetectorConfig:
    """LSHOD defaults per /root/reference/src/Executor.java:102-105."""
    return DetectorConfig(
        w=w, slide=slide, r=r, k=k, algorithm="lshod",
        num_hashes=4, num_tables=10, seed=seed, dim=dim, n_total=n_total,
    )


def approx_mclshod_config(
    w: int, slide: int, r: float, k: int, seed: int = 42, dim: int = 0,
    n_total: int = 0,
) -> DetectorConfig:
    """ApproxMCLSHOD defaults per /root/reference/src/Executor.java:106-109."""
    return DetectorConfig(
        w=w, slide=slide, r=r, k=k, algorithm="approx_mclshod",
        num_hashes=5, num_tables=10, seed=seed, dim=dim, n_total=n_total,
    )
