"""Halo-block detector kernel: per-point verdicts in one Arrow task (J1/A1-A3).

The reference answers "neighbors of p within R in the current window" with an
in-heap M-tree range query per point (/root/reference/src/core/mtree/MTree.java:413-415).
A point's status at every moment depends only on the window content, so the
Spark-native equivalent computes each point's whole status trajectory inside
ONE task that holds its neighbourhood:

  * two points can ever share a window iff their slides differ by < ws = W/S
    (see operators/windows.py), so partition the stream into blocks of ws
    consecutive slides (= W consecutive ids);
  * fan each block out with a HALO — the previous block's last ws-1 slides,
    the home block, and the next block's first ws-1 slides (< 3x the
    feature rows, independent of n) — so every home point's 2ws-1
    co-window slides land in the same ``mapInArrow`` task;
  * one per-block function turns the block into its home points'
    (ever_inlier, ever_outlier). For MCOD and the LSH variants it is
    ``plane_verdicts``: per home slide group, the neighbor plane (exact
    distance, or distance + collision mask, operators/lsh.py) is clamped
    to the group's 2ws-1-slide column span and chunked by CHUNK rows, the
    neighbors are binned by slide, and ``slide_verdicts`` turns the bins
    into verdicts. ApproxMCOD evaluates each window in the block instead
    (operators/approx_mcod.py::block_verdicts). One row leaves the kernel
    per home point: there is no count shuffle and no JVM verdict
    aggregation.

Total work is O(n * W * d) spread over n/W independent tasks — linear in n
and embarrassingly parallel (the reference is single-threaded;
/root/reference/src/Executor.java:112-114).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DetectorConfig

VERDICT_SCHEMA = "id long, ever_inlier boolean, ever_outlier boolean"

# Chunk of home rows per neighbor plane: bounds peak memory at
# CHUNK x (2ws-1) slides of doubles regardless of stream length.
CHUNK = 1024

# plane(r0, r1, c0, c1) -> boolean (r1-r0, c1-c0) neighbor mask between the
# block's sorted rows [r0, r1) and columns [c0, c1)
Plane = Callable[[int, int, int, int], np.ndarray]

# block(ids, slides, X, h0, h1) -> (ever_inlier, ever_outlier) of the home
# rows [h0, h1) of one id-sorted halo block
BlockVerdicts = Callable[
    [np.ndarray, np.ndarray, np.ndarray, int, int], tuple[np.ndarray, np.ndarray]
]


def checked_matrix(
    flat: np.ndarray, widths: np.ndarray, ids: np.ndarray, name: str, width: int
) -> np.ndarray:
    """``flat`` row values with per-row ``widths`` as one (rows, width)
    matrix — the input contract of both detector engines. Every row must
    have ``width`` >= 1 values (the first row's width when 0), and floats
    must be finite: zero-width points all coincide, and a NaN distance
    compares false, so either would silently change verdicts. Violations
    raise ValueError naming an offending id.
    """
    bad = np.flatnonzero(widths == 0)
    if len(bad):
        raise ValueError(f"empty {name} at id {int(ids[bad[0]])}: width must be >= 1")
    expected = width or (int(widths[0]) if len(widths) else 0)
    bad = np.flatnonzero(widths != expected)
    if len(bad):
        raise ValueError(
            f"ragged {name}: expected width {expected}, found "
            f"{int(widths[bad[0]])} at id {int(ids[bad[0]])}"
        )
    mat = flat.reshape(len(widths), expected)
    if mat.dtype.kind == "f":
        bad = np.flatnonzero(~np.isfinite(mat).all(axis=1))
        if len(bad):
            raise ValueError(
                f"non-finite {name} at id {int(ids[bad[0]])}: "
                f"{mat[bad[0]].tolist()}"
            )
    return mat


def check_unique_ids(ids: np.ndarray) -> None:
    """Raise ValueError naming the first repeated id of the sorted ``ids``:
    ids are the stream's time axis, so a repeated one is counted twice and
    shifts every later slide."""
    rep = np.flatnonzero(ids[1:] == ids[:-1])
    if len(rep):
        raise ValueError(f"duplicate id {int(ids[rep[0]])}: ids must be unique")


def list_matrix(tbl, name: str, ids: np.ndarray, width: int = 0) -> np.ndarray:
    """An Arrow list column as one ``checked_matrix``, read as ONE flat
    buffer split by its offsets (a per-row object array costs more than
    the distance math itself)."""
    col = tbl.column(name).combine_chunks()
    flat = col.flatten().to_numpy(zero_copy_only=False)
    widths = np.diff(col.offsets.to_numpy(zero_copy_only=False))
    return checked_matrix(flat, widths, ids, name, width)


def halo_blocks(points_with_slide: DataFrame, cfg: DetectorConfig) -> DataFrame:
    """(id, slide, features, g): each point in its home block g and in the
    halo of every adjacent block whose 2ws-1-slide reach covers it
    (slides [g*ws - ws + 2, (g+1)*ws + ws - 1]), hash-partitioned by g."""
    ws = cfg.ws
    blk = ((F.col("slide") - 1) / F.lit(ws)).cast("long")
    g = F.col("g")
    fanned = points_with_slide.select(
        "id", "slide", "features", F.explode(F.array(blk, blk - 1, blk + 1)).alias("g")
    ).where(
        (g >= 0)
        & (F.col("slide") > g * ws - ws + 1)
        & (F.col("slide") < (g + 1) * ws + ws)
    )
    sp = int(
        points_with_slide.sparkSession.conf.get("spark.sql.shuffle.partitions", "64")
    )
    # no sortWithinPartitions: the kernel lexsorts its whole partition by
    # (g, id) anyway, so a JVM sort before it is pure waste
    return fanned.repartition(sp, "g")


def exact_plane(cfg: DetectorConfig) -> Callable[[np.ndarray], Plane]:
    """Exact neighbor planes: squared distance via ||a||^2 + ||b||^2 - 2a.b
    — the arithmetic the SQL oracle twins reproduce bit-for-bit."""
    r2 = float(cfg.r) * float(cfg.r)

    def make(X: np.ndarray) -> Plane:
        sq = np.einsum("ij,ij->i", X, X)

        def plane(r0: int, r1: int, c0: int, c1: int) -> np.ndarray:
            d2 = sq[r0:r1, None] + sq[None, c0:c1] - 2.0 * (X[r0:r1] @ X[c0:c1].T)
            return d2 <= r2

        return plane

    return make


def slide_bins(
    plane: Plane, ids: np.ndarray, slides: np.ndarray, h0: int, h1: int, ws: int
) -> tuple[np.ndarray, np.ndarray]:
    """Neighbor counts of the home rows [h0, h1) of one id-sorted block,
    binned by neighbor slide offset -(ws-1)..ws-1, plus each row's
    arrival count (neighbors with a smaller id,
    reference src/algorithms/MCOD.java:302-317).

    Rows of one slide share their per-bin column ranges (slide is monotone
    in id), so per slide group the bins are SLICE SUMS over one plane
    clamped to the group's 2ws-1-slide span. Bins left of the own slide
    hold only smaller ids and bins right only larger, so the arrival count
    needs an id comparison on the own-slide columns alone (strict, so
    duplicate ids exclude each other).
    """
    n_bins = 2 * ws - 1
    bins = np.zeros((h1 - h0, n_bins), dtype=np.int64)
    arrival = np.zeros(h1 - h0, dtype=np.int64)
    sg = np.flatnonzero(np.diff(slides[h0:h1])) + h0 + 1
    for s0, s1 in zip(np.concatenate(([h0], sg)), np.concatenate((sg, [h1]))):
        si = int(slides[s0])
        edges = np.searchsorted(slides, np.arange(si - ws + 1, si + ws + 1))
        col0, col1 = int(edges[0]), int(edges[-1])
        for c0 in range(s0, s1, CHUNK):
            c1 = min(c0 + CHUNK, s1)
            msk = plane(c0, c1, col0, col1)
            msk[np.arange(c1 - c0), np.arange(c0, c1) - col0] = False  # no self-pairs
            cnt = bins[c0 - h0 : c1 - h0]
            for b in range(n_bins):
                b0, b1 = int(edges[b]) - col0, int(edges[b + 1]) - col0
                if b1 > b0:
                    cnt[:, b] = msk[:, b0:b1].sum(axis=1)
            own = msk[:, s0 - col0 : s1 - col0] & (ids[None, s0:s1] < ids[c0:c1, None])
            arrival[c0 - h0 : c1 - h0] = cnt[:, : ws - 1].sum(axis=1) + own.sum(axis=1)
    return bins, arrival


def slide_verdicts(
    bins: np.ndarray, arrival: np.ndarray, slide: np.ndarray, b_total: int, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Per-point (ever_inlier, ever_outlier) from slide-binned neighbor
    counts: ``bins[:, o + ws - 1]`` = neighbors in slide(p) + o.

    A point p is evaluated at batches slide(p) + t, t in [0, n_b) with
    n_b = min(b_total, slide(p) + ws - 1) - slide(p) + 1 (operators/
    windows.py), and A[o] counts its neighbors in slide(p) + o:

      * end(t) = window sum of A over offsets [t - ws + 1, t];
      * pre(t) = end(t) - A[t] for t >= 1 (ingestion of batch t adds
        exactly its arrivals between the two moments);
      * arrival = neighbors with a smaller id.

    Counts only grow between pre and end of a batch, so these three cover
    the full status trajectory (operators/detector.py module docstring).
    """
    ws = (bins.shape[1] + 1) // 2
    cs = np.zeros((len(bins), 2 * ws), dtype=np.int64)
    np.cumsum(bins, axis=1, out=cs[:, 1:])
    end = cs[:, ws:] - cs[:, :ws]
    pre = end - bins[:, ws - 1 :]
    n_b = np.minimum(b_total, slide + ws - 1) - slide + 1
    live = np.arange(ws)[None, :] < n_b[:, None]
    ever_inlier = (live & (end >= k)).any(axis=1)
    ever_outlier = (
        (live & (end < k)).any(axis=1)
        | (live[:, 1:] & (pre[:, 1:] < k)).any(axis=1)
        | (arrival < k)
    )
    return ever_inlier, ever_outlier


def plane_verdicts(
    make_plane: Callable[[np.ndarray], Plane], cfg: DetectorConfig, b_total: int
) -> BlockVerdicts:
    """Per-block verdicts from slide-binned neighbor counts: ``make_plane(X)``
    builds one block's neighbor plane from its id-sorted features
    (``exact_plane`` or operators/lsh.py::``lsh_plane``, which hashes the
    block itself)."""

    def block(ids, slides, X, h0, h1):
        bins, arrival = slide_bins(make_plane(X), ids, slides, h0, h1, cfg.ws)
        return slide_verdicts(bins, arrival, slides[h0:h1], b_total, cfg.k)

    return block


def halo_verdicts(
    blocks: DataFrame, cfg: DetectorConfig, block: BlockVerdicts, unique_ids: bool
) -> DataFrame:
    """(id, ever_inlier, ever_outlier) for every input point, from the
    ``halo_blocks`` layout: ``block`` gives each block's home verdicts
    (``plane_verdicts`` or operators/approx_mcod.py::``block_verdicts``).
    Features must pass ``list_matrix``; with ``unique_ids`` a repeated id
    raises ValueError (``check_unique_ids``).

    partition-scan (mapInArrow over the g-repartition), not per-group
    applyInPandas: a long stream has thousands of W-sized blocks and the
    per-group Arrow round-trip dominates the per-block math.
    """
    ws, dim = cfg.ws, cfg.dim

    def emit(batches):
        import pyarrow as pa

        chunks = [b for b in batches if b.num_rows]
        if not chunks:
            return
        tbl = pa.Table.from_batches(chunks)
        g = tbl.column("g").to_numpy(zero_copy_only=False)
        ids = tbl.column("id").to_numpy(zero_copy_only=False)
        slides = tbl.column("slide").to_numpy(zero_copy_only=False)
        X = list_matrix(tbl, "features", ids, dim).astype(np.float64, copy=False)
        order = np.lexsort((ids, g))
        g, ids, slides, X = g[order], ids[order], slides[order], X[order]
        bounds = np.flatnonzero(np.diff(g)) + 1
        out: list[tuple[np.ndarray, ...]] = []
        for b0, b1 in zip(np.concatenate(([0], bounds)), np.concatenate((bounds, [len(g)]))):
            s = slides[b0:b1]
            gi = int(g[b0])
            h0, h1 = np.searchsorted(s, [gi * ws + 1, (gi + 1) * ws + 1])
            if h1 == h0:  # halo rows only: past the last block, or an id gap
                continue
            if unique_ids:
                check_unique_ids(ids[b0:b1][h0:h1])
            ever_in, ever_out = block(ids[b0:b1], s, X[b0:b1], int(h0), int(h1))
            out.append((ids[b0:b1][h0:h1], ever_in, ever_out))
        if out:
            yield pa.RecordBatch.from_pydict(
                {
                    "id": pa.array(np.concatenate([o[0] for o in out]), type=pa.int64()),
                    "ever_inlier": pa.array(np.concatenate([o[1] for o in out])),
                    "ever_outlier": pa.array(np.concatenate([o[2] for o in out])),
                }
            )

    return blocks.mapInArrow(emit, VERDICT_SCHEMA)
