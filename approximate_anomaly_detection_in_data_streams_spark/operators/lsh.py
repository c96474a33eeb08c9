"""Seeded p-stable LSH for the LSHOD / ApproxMCLSHOD detectors (J4/X3).

Reimplements the reference's LSH index semantics — m p-stable hashes
``h_i = floor((v . a_i + b_i) / w)`` per table, a_i ~ N(0,1)^d,
b_i ~ U[0, w), L tables, candidate set = union of colliding buckets
(reference src/core/lsh/HashFunction.java:13-40, HashTable.java:81-101,
LSHIndex.java:33-44). One hash function, ``bucket_key_ints``, serves both
engines: ``lsh_plane`` hashes the rows it is given — a halo block in the
batch kernel (operators/pairs.py::halo_verdicts), the window in the
streaming SlideDetector — and masks the exact distance plane with
"collides in >= 1 table". The dot products fold left to right with the
seeded coefficients, so an oracle replaying the same IEEE operations as
float literals (the DuckDB twin in __spark_entry__.py) derives
bit-identical keys.

Differences from the reference, by design (SURVEY.md section 5):
  * the reference's RNG is unseeded and its buckets evict entries under
    pressure (/root/reference/src/core/lsh/HashTable.java:22-35), making
    results nondeterministic; we seed everything and the detectors skip
    eviction, so their candidate set is a superset of what a capped table
    would retain;
  * missed collisions only *lower* neighbor counts, so the approximate
    outlier set is a superset of the exact one — recall of exact outliers
    is structurally 1.0 and precision is the quality metric (tested).
"""

from __future__ import annotations

import numpy as np

from ..config import DetectorConfig


def make_projections(
    cfg: DetectorConfig, dim: int
) -> tuple[np.ndarray, np.ndarray]:
    """Seeded (L, m, d) Gaussian projections and (L, m) uniform biases."""
    rng = np.random.default_rng(cfg.seed)
    A = rng.normal(0.0, 1.0, size=(cfg.num_tables, cfg.num_hashes, dim))
    b = rng.uniform(0.0, cfg.lsh_bucket_width, size=(cfg.num_tables, cfg.num_hashes))
    return A, b


def bucket_key_ints(X: np.ndarray, cfg: DetectorConfig) -> np.ndarray:
    """(n, L*m) int64 p-stable hash ints, table-major: the dot product
    folds left to right (x0*a0 + x1*a1 + ...), then floor((dot + b) / w),
    so each key is reproducible from the projections as float literals."""
    A, b = make_projections(cfg, X.shape[1])
    A = A.reshape(-1, X.shape[1])
    dot = X[:, :1] * A[:, 0]
    for d in range(1, X.shape[1]):
        dot = dot + X[:, d : d + 1] * A[:, d]
    return np.floor((dot + b.ravel()) / float(cfg.lsh_bucket_width)).astype(np.int64)


def lsh_plane(cfg: DetectorConfig):
    """Neighbor planes for the halo kernel (operators/pairs.py::
    halo_verdicts) and the streaming SlideDetector: a pair is a neighbor
    iff it is within R AND collides in >= 1 of the L tables — the union of
    colliding buckets (reference src/core/lsh/LSHIndex.java:33-44) with no
    candidate multiset and no cross-table dedupe. ``make(X)`` hashes the
    rows once; collision is one exact label plane per table (void-dtype
    np.unique over the table's m key ints: exact equality, no hashing)."""
    L, m = cfg.num_tables, cfg.num_hashes
    r2 = float(cfg.r) ** 2

    def make(X: np.ndarray):
        keys = bucket_key_ints(X, cfg)
        labels = []
        for t in range(L):
            rows = np.ascontiguousarray(keys[:, t * m : (t + 1) * m])
            void = rows.view([("", rows.dtype)] * m).ravel()
            labels.append(np.unique(void, return_inverse=True)[1].ravel())

        def plane(r0: int, r1: int, c0: int, c1: int) -> np.ndarray:
            # per-dimension (a-b)^2 accumulated left-to-right — the SAME
            # IEEE fold as the DuckDB oracle (ADVICE r2)
            diff = X[r0:r1, 0][:, None] - X[c0:c1, 0][None, :]
            d2 = diff * diff
            for d in range(1, X.shape[1]):
                diff = X[r0:r1, d][:, None] - X[c0:c1, d][None, :]
                d2 += diff * diff
            hit = labels[0][r0:r1, None] == labels[0][None, c0:c1]
            for lab in labels[1:]:
                hit |= lab[r0:r1, None] == lab[None, c0:c1]
            return (d2 <= r2) & hit

        return plane

    return make
