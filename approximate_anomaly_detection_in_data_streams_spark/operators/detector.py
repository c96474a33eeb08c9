"""Windowed distance-outlier detector: classification + violation assembly.

Re-expresses the MCOD semantics (/root/reference/src/algorithms/MCOD.java) as
per-point recomputation inside the halo-block kernel (operators/pairs.py)
instead of incremental index maintenance. A point's status at any moment is
fully determined by the
window content (count of neighbors within R >= k,
/root/reference/src/algorithms/MCOD.java:69-78); the reference's event queue,
micro-clusters and PD index (W3/J6/A9 in SURVEY.md) exist only to make
single-threaded incrementality fast and contribute nothing to the semantics.

Three kinds of evaluation moment reproduce the full status trajectory:

  * ``end``     — after batch b's ingestion: window = slides [b-ws+1 .. b].
                  Every point is evaluated in every batch it lives through.
  * ``pre``     — after batch b's expiry, before its ingestion: window =
                  slides [b-ws+1 .. b-1] (the event-queue re-check moment,
                  /root/reference/src/algorithms/MCOD.java:228-261).
  * ``arrival`` — when p itself is ingested: neighbors are the surviving
                  slides plus same-batch points with smaller id
                  (/root/reference/src/algorithms/MCOD.java:302-317 ingests
                  and classifies sequentially).

Counts only grow between ``pre`` and ``end`` of the same batch, so the
*violation* set (pure outliers: never inlier, nOutlier>0 && nInlier==0,
/root/reference/src/core/OutlierDetector.java:43-62) needs only ``end``
evaluations; ``pre`` and ``arrival`` matter for the lifetime statistics
{nOnlyInlier, nOnlyOutlier, nBothInlierOutlier}
(/root/reference/src/algorithms/MCODBase.java:205-227).

Known, deliberate deviation (stats only, never the violation set): when a
micro-cluster dissolves, the reference re-processes its members one at a
time (/root/reference/src/algorithms/MCOD.java:283-290); members not yet
reinserted are invisible to the rebuilding range queries, so a re-processed
member can transiently *undercount* and be spuriously classified OUTLIER,
inflating nBothInlierOutlier (observed: shuttle 5k, W=1000/S=100/R=45/k=30
— reference prints 4549/234/217 where the true status trajectory gives
4551/234/215). Transient *overcounts* are impossible, so spurious INLIER
events cannot occur and the pure-outlier violation set is identical under
both accountings — verified bit-exact against reference runs. We compute
the order-independent semantic truth; replicating the artifact would
require serializing the exact single-threaded reinsertion order.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DetectorConfig
from .approx_mcod import block_verdicts
from .lsh import lsh_plane
from .pairs import exact_plane, halo_blocks, halo_verdicts, plane_verdicts
from .windows import n_batches, with_slide


@dataclass
class DetectionResult:
    """Lazy DataFrames for every stage of one detection run."""

    outliers: DataFrame  # (id) ascending — the violation set (K1 sink shape)
    per_point: DataFrame  # (id, ever_inlier, ever_outlier)

    @cached_property
    def stats(self) -> DataFrame:
        """Single row of lifetime counters (K2 sink shape), planned when
        first read: a caller that only wants the outliers sends the JVM
        none of its aggregate's commands."""
        return lifetime_stats(self.per_point)


def batch_diagnostics(points: DataFrame, cfg: DetectorConfig) -> DataFrame:
    """Per-batch window diagnostics on the BATCH path — the analog of the
    reference's per-batch DIAG prints and work counters (K3/A7,
    /root/reference/src/algorithms/MCOD.java:320-332,
    /root/reference/src/algorithms/MCODBase.java:79): one row per batch b
    with a non-empty window, giving the window population, arrivals,
    expiries, and the pairwise-distance evaluations a recompute spends on
    that window (the batch analog of nRangeQueriesExecuted). All four
    follow from per-slide point counts: slide s is in the window of
    batches [s, s+ws-1] and expires at batch s+ws. Matches the streaming
    engine's per-batch diagnostics on (window_size, n_new) — tested in
    tests/test_profile_ops.py.
    """
    pts = with_slide(points, cfg)
    b_total = n_batches(points, cfg)
    ws = cfg.ws
    per_slide = pts.groupBy("slide").agg(F.count(F.lit(1)).alias("c"))
    last = F.least(F.lit(b_total), F.col("slide") + F.lit(ws))
    fanned = per_slide.select(
        "slide", "c", F.explode(F.sequence(F.col("slide"), last)).alias("b")
    )
    age = F.col("b") - F.col("slide")

    def n_at(cond, name: str):
        return F.sum(F.when(cond, F.col("c")).otherwise(F.lit(0))).alias(name)

    per_b = fanned.groupBy("b").agg(
        n_at(age < ws, "window_size"),
        n_at(age == 0, "n_new"),
        n_at(age == ws, "n_expired"),
    )
    return (
        per_b.where(F.col("window_size") > 0)
        .withColumn(
            "n_distance_evals", F.col("window_size") * (F.col("window_size") - 1)
        )
        .orderBy("b")
    )


def detect(
    points: DataFrame, cfg: DetectorConfig, unique_ids: bool = True
) -> DetectionResult:
    """Run the exact (``mcod``), LSH (``lshod``, ``approx_mclshod``) or
    bounded-state (``approx_mcod``) detector: one halo-block kernel emits
    every point's verdict, and the outliers and lifetime stats are
    projections of that table. A repeated id raises ValueError unless
    ``unique_ids`` is False, in which case each row counts as its own
    point."""
    pts = with_slide(points, cfg)
    b_total = n_batches(points, cfg)
    algo = cfg.algorithm.lower()
    if algo == "mcod":
        block = plane_verdicts(exact_plane(cfg), cfg, b_total)
    elif algo in ("lshod", "approx_mclshod"):
        block = plane_verdicts(lsh_plane(cfg), cfg, b_total)
    elif algo == "approx_mcod":
        block = block_verdicts(cfg, b_total)
    else:
        raise ValueError(f"unknown algorithm: {cfg.algorithm}")
    per_point = halo_verdicts(halo_blocks(pts, cfg), cfg, block, unique_ids)
    # sorted inside one partition: a range-partitioned orderBy would run a
    # sampling job that recomputes the whole kernel stage first
    outliers = (
        per_point.where(~F.col("ever_inlier"))
        .select("id")
        .repartition(1)
        .sortWithinPartitions("id")
    )
    return DetectionResult(outliers=outliers, per_point=per_point)


def lifetime_stats(per_point: DataFrame) -> DataFrame:
    """{nOnlyInlier, nOnlyOutlier, nBothInlierOutlier, n_points} from the
    per-point verdicts (reference src/algorithms/MCODBase.java:205-227)."""
    ei, eo = F.col("ever_inlier"), F.col("ever_outlier")
    return per_point.agg(
        F.sum((ei & ~eo).cast("long")).alias("n_only_inlier"),
        F.sum((~ei & eo).cast("long")).alias("n_only_outlier"),
        F.sum((ei & eo).cast("long")).alias("n_both_inlier_outlier"),
        F.count(F.lit(1)).alias("n_points"),
    )
