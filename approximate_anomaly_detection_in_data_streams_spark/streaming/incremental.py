"""Streaming execution of the windowed outlier detector.

Two layers:

  * ``SlideDetector`` — an incremental engine processing one slide-sized
    batch at a time, mirroring the reference's driver loop
    (/root/reference/src/Executor.java:112-114: ingest S points, expire,
    re-evaluate). It runs the batch halo kernel's representation
    (operators/pairs.py): state = the window's points plus each point's
    neighbor counts binned by slide offset, and a slide costs S*W*d — the
    new rows against the window (``slide_bins``) and the survivors against
    the new rows, one bin each. A point's verdict is ``slide_verdicts`` over
    its bins when its slide expires (or at the final flush); the event
    queue / micro-cluster machinery exists only to speed up
    single-threaded incrementality (SURVEY.md section 4).
  * ``run_structured_stream`` — Structured Streaming driver for one
    unkeyed point stream: the stream is the single key ``"_"`` of the
    distributed keyed dataflow (streaming/keyed.py), whose state lives in
    Spark's state store via ``applyInPandasWithState``; ``cfg.n_total``
    (or one ``max(id)`` job) ends it, each trigger drains the available
    backlog, and no driver-side collect runs anywhere in the plan.

Verified equivalent to the batch detector (tests/test_streaming.py):
same pure-outlier set, same lifetime stats.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

import numpy as np

from ..config import DetectorConfig
from ..operators.lsh import lsh_plane
from ..operators.pairs import (
    CHUNK,
    check_unique_ids,
    checked_matrix,
    exact_plane,
    slide_bins,
    slide_verdicts,
)


@dataclass
class SlideDetector:
    """Incremental count-based sliding-window distance outlier detector
    (``mcod`` exact; ``lshod`` / ``approx_mclshod`` with the LSH plane).

    ``dim`` fixes the feature width; 0 takes it from the first batch."""

    cfg: DetectorConfig
    dim: int = 0
    # the window, id-ascending: id, slide, features, (2ws-1) slide bins
    # and arrival count (int32: a count never exceeds W)
    _win: dict[str, np.ndarray] = field(default_factory=dict)
    _outliers: set[int] = field(default_factory=set)
    _batch: int = 0
    _finalized: dict[str, int] = field(
        default_factory=lambda: dict.fromkeys(
            ("n_only_inlier", "n_only_outlier", "n_both_inlier_outlier"), 0
        )
    )
    # per-batch diagnostics (the reference's DIAG prints, K3 in SURVEY.md:
    # /root/reference/src/algorithms/MCOD.java:320-332): one dict per
    # processed batch with window population and work counters
    diagnostics: list[dict] = field(default_factory=list)

    def __post_init__(self) -> None:
        algo = self.cfg.algorithm.lower()
        if algo == "approx_mcod":
            raise ValueError(
                "approx_mcod has no slide-bin engine: stream it with "
                "streaming/mcod_engine.py::MCODEngine, or run it in batch "
                "with api.run_detector"
            )
        if algo not in ("mcod", "lshod", "approx_mclshod"):
            raise ValueError(f"unknown algorithm: {self.cfg.algorithm}")
        self._lsh = algo != "mcod"

    def _finalize(self, rows: np.ndarray, b_total: int) -> None:
        w = self._win
        ever_in, ever_out = slide_verdicts(
            w["bins"][rows], w["arrival"][rows], w["slide"][rows], b_total, self.cfg.k
        )
        self._finalized["n_only_inlier"] += int((ever_in & ~ever_out).sum())
        self._finalized["n_only_outlier"] += int((ever_out & ~ever_in).sum())
        self._finalized["n_both_inlier_outlier"] += int((ever_in == ever_out).sum())
        self._outliers.update(w["id"][rows][~ever_in].tolist())

    def process_batch(self, ids: np.ndarray, X) -> None:
        """Ingest one slide-sized batch (the reference's
        ProcessNewStreamObjects, /root/reference/src/algorithms/MCOD.java:302-317):
        finalize the expiring slide, bin the new rows against the window,
        and add the new slide's neighbors to each survivor's bin.
        ``X`` is a (rows, dim) matrix or a sequence of rows."""
        cfg, ws = self.cfg, self.cfg.ws
        self._batch += 1
        b = self._batch
        ids = np.asarray(ids, dtype=np.int64)
        check_unique_ids(np.concatenate((self._win.get("id", ids[:0])[-1:], np.sort(ids))))
        rows = [np.ravel(r) for r in X]
        flat = np.concatenate([np.empty(0), *rows])
        widths = np.array([len(r) for r in rows])
        X = checked_matrix(flat, widths, ids, "features", self.dim)
        self.dim = self.dim or X.shape[1]
        new = {
            "id": ids,
            "slide": np.full(len(ids), b, dtype=np.int64),
            "X": X,
            "bins": np.zeros((len(ids), 2 * ws - 1), dtype=np.int32),
            "arrival": np.zeros(len(ids), dtype=np.int32),
        }

        # expiry: the window after this batch holds slides [b-ws+1 .. b],
        # and the expiring slide's last evaluation was batch b-1
        w = self._win
        if w:
            keep = w["slide"] > b - ws
            self._finalize(~keep, b - 1)
            if keep.any():
                new = {f: np.concatenate([v[keep], new[f]]) for f, v in w.items()}
        self._win = w = new
        n = len(w["id"])
        n_old = n - len(ids)

        # the LSH plane re-hashes the window: W*L*m*d multiply-adds, small
        # next to its per-table np.unique labelling
        plane = (lsh_plane if self._lsh else exact_plane)(cfg)(w["X"])
        w["bins"][n_old:], w["arrival"][n_old:] = slide_bins(
            plane, w["id"], w["slide"], n_old, n, ws
        )
        # survivors gain the new slide's neighbors at offset b - slide;
        # rows = survivors, as in the halo kernel's orientation
        for r0 in range(0, n_old, CHUNK):
            r1 = min(r0 + CHUNK, n_old)
            cnt = plane(r0, r1, n_old, n).sum(axis=1)
            w["bins"][np.arange(r0, r1), b - w["slide"][r0:r1] + ws - 1] += cnt
        self.diagnostics.append(
            {
                "batch": b,
                "window_size": n,
                "n_new": len(ids),
                "n_outliers_recorded": len(self._outliers),
            }
        )

    def finish(self) -> dict:
        """Stream exhausted: final flush (W4,
        /root/reference/src/core/OutlierDetector.java:43-47)."""
        if self._win:
            self._finalize(np.ones(len(self._win["id"]), dtype=bool), self._batch)
        self._win = {}
        return {"outliers": sorted(self._outliers), **self._finalized}


def make_slide_detector(cfg: DetectorConfig, dim: int) -> SlideDetector:
    """The incremental engine for ``cfg.algorithm`` (ValueError for
    ``approx_mcod`` and unknown names); ``dim`` as in ``SlideDetector``."""
    return SlideDetector(cfg, dim)


def run_slide_loop(ids: np.ndarray, X, cfg: DetectorConfig) -> dict:
    """Drive the incremental engine over a finite stream, slide by slide
    (the reference's Executor main loop). ``X`` as in ``process_batch``."""
    det = make_slide_detector(cfg, cfg.dim)
    for start in range(0, len(ids), cfg.slide):
        det.process_batch(ids[start : start + cfg.slide], X[start : start + cfg.slide])
    return det.finish()


def run_structured_stream(
    spark, input_dir: str, cfg: DetectorConfig, checkpoint_dir: str
) -> dict:
    """Drive a finite unkeyed JSON point stream (id, features) to
    completion and return the ``run_slide_loop`` result dict. The stream
    ends at ``cfg.n_total``, else at the directory's max id, read by one
    batch job before the stream starts (never per micro-batch). Ids must
    run from 1 without gaps: a stream that stalls at a missing id raises
    ValueError."""
    from pyspark.sql import functions as F

    from .keyed import drain_stream

    point_schema = "id long, features array<double>"
    n = cfg.n_total or (
        spark.read.schema(point_schema).json(input_dir).agg(F.max("id")).first()[0]
    )
    stream = (
        spark.readStream.schema(point_schema)
        .json(input_dir)
        .select(F.lit("_").alias("key"), "id", "features")
    )
    res = drain_stream(stream, replace(cfg, n_total=n), checkpoint_dir).get("_")
    if res is None or res["n_only_inlier"] is None:
        raise ValueError(
            f"the stream stalled before its end at id {n}: "
            "ids must run from 1 without gaps"
        )
    return res
