"""Count-based sliding-window arithmetic (SURVEY.md section 2.5, W1/W2/W4).

The reference evaluates point status after every slide-sized batch
(/root/reference/src/Executor.java:112-114): after batch ``b`` the window
holds ids ``[(b - ws)*S + 1 .. min(b*S, n)]`` (clamped at 1), where
``ws = W/S``. Because S | W, window membership is slide-aligned: point ``p``
with ``slide(p) = (id-1)//S + 1`` is in the batch-``b`` window iff
``b - ws + 1 <= slide(p) <= b``. We therefore never materialize windows;
every operator works on slide numbers and batch numbers.

Key derived facts used throughout:
  * point p is evaluated in batches b in [slide(p), min(B, slide(p)+ws-1)]
    (arrival batch through expiry, /root/reference/src/algorithms/MCOD.java:335-346);
  * points p, q ever share a window iff |slide(p) - slide(q)| <= ws - 1;
  * a neighbor pair (p, q) contributes to p's count in batches
    b in [max(slide(p), slide(q)), min(B, min(slide(p), slide(q)) + ws - 1)].
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DetectorConfig


def slide_of(id_col: Column, slide: int) -> Column:
    """Slide (batch) number of an id: (id-1) div S + 1.

    Matches /root/reference/src/algorithms/MCODBase.java:144-152.
    """
    return ((id_col - 1) / F.lit(slide)).cast("long") + 1


def with_slide(points: DataFrame, cfg: DetectorConfig) -> DataFrame:
    return points.withColumn("slide", slide_of(F.col("id"), cfg.slide))


def n_batches(points: DataFrame, cfg: DetectorConfig) -> int:
    """Total number of evaluation batches B = ceil(n / S).

    ``cfg.n_total`` (when set) keeps this a pure arithmetic step; the
    ``agg(max(id))`` fallback is a driver-blocking job that serializes
    plan construction and exists only for ad-hoc callers.
    """
    n = cfg.n_total or points.agg(F.max("id")).first()[0] or 0
    return (n + cfg.slide - 1) // cfg.slide

