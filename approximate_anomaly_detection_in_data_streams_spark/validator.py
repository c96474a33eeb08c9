"""Schema + constraint validation engine over image+caption tables — the
north_star pipeline (BASELINE.json): per-partition column stats,
approximate uniqueness, referential checks, per-row decoded-pixel + caption
invariants, and distribution-drift detection powered by the windowed
distance-outlier core (the reference's algorithm re-expressed in Spark,
SURVEY.md §7 M3).

Stage map (one DataFrame lineage each; all lazily composable):

  schema        analysis-time StructType comparison (no job run)
  stats         groupBy(fmt) column profile (operators/profile.py)
  uniqueness    exact/HLL distinct on image_id; phash duplicate groups
  referential   anti-join orphans vs a reference snapshot (broadcast/salted)
  row_checks    mapInPandas decode + PSNR>=40dB + caption equality
  anomalies     image_features -> MCOD-semantics windowed outliers
                (isolated point anomalies — the reference's semantics)
  drift         per-slide feature-profile L1 distance vs the global
                profile (sustained distribution shift self-neighbors
                inside the sliding window, so a distance-based detector
                correctly does NOT flag it; this check does)
  verdicts      per-partition (fmt) pass/fail + violation rows

The per-partition verdict generalizes the reference's single pass/fail
console verdict (/root/reference/src/Executor.java:239-260) to a keyed
DataFrame; violation rows generalize its outlier-id file sink
(/root/reference/src/Executor.java:209-222).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import DetectorConfig
from .operators import profile as profile_ops
from .operators.detector import detect
from .operators.image_checks import N_HIST_BINS, row_checks_and_features

EXPECTED_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("phash", T.LongType()),
    ]
)


@dataclass(frozen=True)
class ImageValidatorConfig:
    partition_col: str = "fmt"
    phash_dup_limit: int = 1  # >limit rows sharing a phash -> near-dup group
    max_violation_rate: float = 0.05  # partition fails above this
    exact_uniqueness: bool = True  # False -> HLL (the 10^12-row path)
    drift: DetectorConfig = field(
        default_factory=lambda: DetectorConfig(w=400, slide=100, r=60.0, k=8)
    )
    drift_slide_size: int = 50  # rows per slide for the profile-drift check
    # max L1(slide profile, global profile): clean-slide noise measures
    # ~6-22 on the synthetic fixtures, sustained drift ~84-143
    drift_l1_limit: float = 45.0


@dataclass
class ValidationReport:
    """Lazy DataFrames per stage + the analysis-time schema verdict."""

    schema_ok: bool
    schema_errors: list[str]
    partition_stats: DataFrame
    uniqueness: DataFrame
    phash_dups: DataFrame
    row_checks: DataFrame
    features: DataFrame  # persisted decode-derived stage shared by sinks
    anomaly_outliers: DataFrame
    drift_slides: DataFrame
    violations: DataFrame
    partition_verdicts: DataFrame
    # every DataFrame this report persisted (decode stage, digest stages);
    # long-lived sessions issuing many reports should release them once
    # all sinks are materialized (ADVICE r4)
    persisted: list = field(default_factory=list)

    def unpersist_all(self) -> None:
        """Release every cached stage owned by this report."""
        for df in self.persisted:
            df.unpersist()
        self.persisted.clear()


def check_schema(df: DataFrame) -> tuple[bool, list[str]]:
    """Analysis-time structural check — no Spark job, just the plan."""
    errors = []
    actual = {f.name: f.dataType for f in df.schema.fields}
    for f in EXPECTED_SCHEMA.fields:
        if f.name not in actual:
            errors.append(f"missing column {f.name}")
        elif actual[f.name] != f.dataType:
            errors.append(
                f"column {f.name}: expected {f.dataType.simpleString()}, "
                f"got {actual[f.name].simpleString()}"
            )
    return (not errors, errors)


def validate_images(
    images: DataFrame,
    reference: DataFrame | None = None,
    cfg: ImageValidatorConfig | None = None,
    persist: bool = True,
    payload_path: str | None = None,
) -> ValidationReport:
    """Assemble the full validation lineage. Nothing executes until a sink
    pulls a stage; ``checkpoint.run_validation`` drives stages per
    partition with resume.

    ``persist=True`` caches the two decode-heavy stages (row checks,
    features): several downstream sinks consume each, and without the
    cache every sink would re-decode the whole table. At cluster scale
    this is MEMORY_AND_DISK on executors — the decoded artifacts are tiny
    relative to ``bytes``."""
    cfg = cfg or ImageValidatorConfig()
    part = cfg.partition_col

    schema_ok, schema_errors = check_schema(images)

    # payload_path (optional): parquet directory backing `images` — routes
    # the decode stage through the payload-local scan so the bytes column
    # never crosses the JVM (decode_digests_parquet); all other stages and
    # the output contract are identical.
    persisted: list = []
    combined = row_checks_and_features(
        images, reference, payload_path=payload_path, persisted_out=persisted
    )
    if persist:
        from pyspark import StorageLevel

        combined = combined.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(combined)
    checks = combined.drop("ordinal", "features")
    # Uniqueness and duplicate-group sinks aggregate the persisted narrow
    # check rows (which carry the stored phash through the digest kernel)
    # rather than re-scanning the source table: the decode pass is the
    # validator's ONLY full scan of the input — every downstream sink is
    # an aggregation over rows ~1/1000 the payload size. The check stage
    # emits exactly one row per input row (duplicate image_ids included),
    # so these aggregations see the same multiset as a direct scan.
    uniq = profile_ops.uniqueness(checks, ["image_id"], exact=cfg.exact_uniqueness)
    dups_raw = (
        checks.groupBy("phash")
        .agg(
            F.count(F.lit(1)).alias("n_dup"),
            F.sort_array(F.collect_set("image_id")).alias("members"),
        )
        .where(F.col("n_dup") > cfg.phash_dup_limit)
    )
    if persist:
        # two consumers (the dup-group report and the violation union) —
        # without a persist the groupBy over the full check table runs
        # twice; the dup-group result itself is tiny. The persist sits
        # BELOW the report's orderBy so the violation union reads the
        # unsorted aggregation — a global sort is a rangepartitioning
        # exchange plus a sampling job, pure waste under a union
        from pyspark import StorageLevel

        dups_raw = dups_raw.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(dups_raw)
    phash_dups = dups_raw.orderBy(F.desc("n_dup"), "phash")
    # Column stats aggregate the persisted narrow check rows (w/h/n_bytes
    # fall out of the decode pass's Arrow offsets) rather than re-scanning
    # the full bytes column — at 100 TB the payload scan IS the cost, and
    # the decode stage already paid it once.
    stats = profile_ops.column_stats(checks, [part], ["w", "h", "n_bytes"])
    feats = combined.where(F.col("features").isNotNull()).select(
        "image_id", "ordinal", "features"
    )
    points = feats.select((F.col("ordinal") + 1).alias("id"), "features")
    # a duplicated image repeats its original's ordinal, and each row counts
    # as a point (oracle/planted.py replays the same ids)
    det = detect(points, cfg.drift, unique_ids=False)
    # unsorted anomaly rows feed the violation union (a union never
    # preserves order, so sorting there would only add a range exchange
    # + sampling job); the user-facing report DF sorts the tiny result
    anom_rows = det.per_point.where(~F.col("ever_inlier")).join(
        feats.select((F.col("ordinal") + 1).alias("id"), "image_id"), "id"
    ).select("image_id", (F.col("id") - 1).alias("ordinal"))
    anomaly_outliers = anom_rows.orderBy("ordinal")
    drift_slides = profile_drift_slides(
        feats, cfg.drift_slide_size, cfg.drift_l1_limit, dim=2 + N_HIST_BINS
    )

    row_violations = checks.where("is_violation").select(
        "image_id", F.lit("row_invariant").alias("kind"), F.col("reason").alias("detail")
    )
    anomaly_violations = anom_rows.select(
        "image_id",
        F.lit("point_anomaly").alias("kind"),
        F.concat(F.lit("ordinal="), F.col("ordinal").cast("string")).alias("detail"),
    )
    dup_violations = dups_raw.select(
        F.explode("members").alias("image_id"),
        F.lit("phash_dup").alias("kind"),
        F.concat(F.lit("group_size="), F.col("n_dup").cast("string")).alias("detail"),
    )
    violations = row_violations.unionByName(anomaly_violations).unionByName(
        dup_violations
    )

    per_part = checks.groupBy("fmt").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("is_violation").cast("long")).alias("n_row_violations"),
    )
    verdicts = per_part.select(
        "fmt",
        "n_rows",
        "n_row_violations",
        F.round(F.col("n_row_violations") / F.col("n_rows"), 6).alias(
            "violation_rate"
        ),
        (
            (F.col("n_row_violations") / F.col("n_rows"))
            <= F.lit(cfg.max_violation_rate)
        ).alias("passed"),
    ).orderBy("fmt")

    return ValidationReport(
        schema_ok=schema_ok,
        schema_errors=schema_errors,
        partition_stats=stats,
        uniqueness=uniq,
        phash_dups=phash_dups,
        row_checks=checks,
        features=feats,
        anomaly_outliers=anomaly_outliers,
        drift_slides=drift_slides,
        violations=violations,
        partition_verdicts=verdicts,
        persisted=persisted,
    )


def profile_drift_slides(
    feats: DataFrame, slide_size: int, l1_limit: float, dim: int
) -> DataFrame:
    """Per-slide distribution-drift check (sustained-shift detector).

    Mean feature profile per slide of ``slide_size`` consecutive ordinals,
    compared to the global mean profile by L1 distance. All JVM.
    Output: (slide, n_rows, l1, drifted) per slide.

    Single input pass: the global profile is re-aggregated from the
    per-slide sums (``sum(s_i)/sum(n)`` == ``avg(features[i])`` over all
    rows up to fp associativity — the same reassociation any partial-aggregate
    plan performs). At the 10^12-row shape the feature scan is the drift
    sink's entire cost; the re-aggregation input is O(slides x dims) rows.

    ``dim`` is the features' fixed width (the validator's digest features
    have a package-constant one). The plan is EXPLODE-FREE: per-dim sums
    compile to ``dim`` codegen aggregate expressions over the array
    columns, so the shuffle carries one (1 + dim)-column row per slide
    instead of ``dim`` exploded rows per input row — at 1M x 10-dim that
    is 10M narrow shuffle rows removed, the exact allocation-heavy
    pattern the host punishes (BENCH.md round-3 forensics)."""
    from pyspark import StorageLevel

    slide_col = (F.col("ordinal") / F.lit(slide_size)).cast("long").alias("slide")
    per_slide = feats.select(slide_col, "features").groupBy("slide").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.col("features")[i]).alias(f"s{i}") for i in range(dim)],
    )
    per_slide = per_slide.persist(StorageLevel.MEMORY_AND_DISK)
    glob = per_slide.groupBy().agg(
        F.sum("n").alias("gn"),
        *[F.sum(f"s{i}").alias(f"g{i}") for i in range(dim)],
    )
    l1_expr = sum(
        F.abs(F.col(f"s{i}") / F.col("n") - F.col(f"g{i}") / F.col("gn"))
        for i in range(dim)
    ).alias("l1")
    l1 = per_slide.crossJoin(F.broadcast(glob)).select(
        "slide", F.col("n").alias("n_rows"), l1_expr
    )
    return l1.select(
        "slide",
        "n_rows",
        F.round("l1", 4).alias("l1"),
        (F.col("l1") > F.lit(l1_limit)).alias("drifted"),
    ).orderBy("slide")
