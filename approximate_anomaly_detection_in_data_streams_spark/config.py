"""Detector configuration.

Mirrors the reference CLI surface (/root/reference/src/Executor.java:52-92):
--algorithm {MCOD|ApproxMCOD|LSHOD|ApproxMCLSHOD}, --W, --slide, --R, --k,
--pdLimit, --arFactor, plus the hard-coded LSH hyperparameters
(/root/reference/src/Executor.java:102-109). We additionally carry an explicit
RNG seed: the reference's approximate variants use unseeded java.util.Random
(/root/reference/src/algorithms/ApproxMCOD.java:49,
/root/reference/src/core/lsh/HashFunction.java:14-24) and are therefore
nondeterministic; our engine is always seeded and reproducible.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class DetectorConfig:
    """Parameters of the count-based sliding-window distance outlier detector.

    A point is an inlier at an evaluation moment iff it has >= k neighbors
    within Euclidean distance R among the points currently in the window
    (/root/reference/src/algorithms/MCOD.java:69-78). The window holds the W
    most recent points and advances by ``slide`` points per batch
    (/root/reference/src/core/OutlierDetector.java:13-41).
    """

    w: int  # window size (count-based)
    slide: int  # slide size; must divide w (reference convention S | W)
    r: float  # neighbor radius
    k: int  # neighbor-count threshold
    algorithm: str = "mcod"  # mcod | approx_mcod | lshod | approx_mclshod
    pd_limit: int = 0  # ApproxMCOD PD population cap (0 = unlimited)
    ar_factor: float = 0.0  # ApproxMCOD approximation-radius factor
    num_hashes: int = 4  # LSH hashes per table (LSHOD default, Executor.java:102-105)
    num_tables: int = 10  # LSH tables
    bucket_width: float = 0.0  # LSH p-stable bucket width w; 0 -> derived from r
    seed: int = 42
    # feature dimensionality; 0 = infer from the data. Carrying it here
    # keeps plan construction free of driver-side actions (the reference
    # probes the first stream object, src/core/Stream.java:16-22 — in
    # Spark that probe would be an eager job per plan build).
    dim: int = 0
    # total stream length (max id); 0 = infer with one agg(max(id)) job at
    # plan-build time. Same rationale as ``dim``: the reference's finite
    # stream knows its own length (src/core/Stream.java:24-26), and in
    # Spark the inference is a driver-blocking job per detection call —
    # callers that know n pass it and query construction runs zero jobs
    # (asserted by tests/test_profile_ops.py::test_plan_build_runs_no_jobs).
    n_total: int = 0

    def __post_init__(self) -> None:
        if self.w <= 0 or self.slide <= 0:
            raise ValueError("w and slide must be positive")
        if self.slide > self.w:
            raise ValueError("slide must be <= w")
        if self.w % self.slide != 0:
            raise ValueError(
                "slide must divide w (reference runs use S | W; window "
                "membership is then slide-aligned, which the batch "
                "recomputation relies on)"
            )
        if self.k < 1:
            raise ValueError("k must be >= 1")
        if self.r <= 0:
            raise ValueError("r must be positive")

    @property
    def ws(self) -> int:
        """Window span in slides: number of slides a full window covers."""
        return self.w // self.slide

    @property
    def lsh_bucket_width(self) -> float:
        """Effective p-stable bucket width.

        Reference defaults: LSHOD uses w = (int) R, ApproxMCLSHOD uses
        (int)(3R/2) (/root/reference/src/Executor.java:102-109). We keep the
        float value (no truncation) unless explicitly configured.
        """
        if self.bucket_width > 0:
            return self.bucket_width
        if self.algorithm.lower() == "approx_mclshod":
            return 1.5 * self.r
        return float(self.r)
