"""Stream sources: turn inputs into the canonical point stream.

Canonical schema: ``id BIGINT (1-based arrival index), features ARRAY<DOUBLE>``.
Arrival order is the time axis (count-based windows, no wall-clock), matching
the reference where ids are assigned at ingest starting from 1
(/root/reference/src/core/OutlierDetector.java:10,
/root/reference/src/algorithms/MCOD.java:312-316).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

POINT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("features", T.ArrayType(T.DoubleType()), False),
    ]
)


def load_stream_csv(
    spark: SparkSession, path: str, contains_class: bool = False
) -> DataFrame:
    """Read a reference-format stream CSV into ``(id, features)``.

    Format: headerless comma-separated doubles, optional trailing integer
    class label that is dropped at load when ``contains_class``
    (/root/reference/src/core/Stream.java:39-68). Row order = arrival order;
    ids are 1-based. ``zipWithIndex`` preserves file order (text splits are
    ordered by file offset), so this stays distributed for large files
    instead of funnelling through the driver.
    """
    rdd = (
        spark.read.text(path)
        .rdd.map(lambda row: row[0])
        .filter(lambda line: line.strip() != "")
        .zipWithIndex()
    )

    def parse(pair):
        line, idx = pair
        cells = line.split(",")
        if contains_class:
            cells = cells[:-1]
        return (idx + 1, [float(c) for c in cells])

    return spark.createDataFrame(rdd.map(parse), POINT_SCHEMA)
