"""Two-cluster-size scaling evidence (north_rule).

No real cluster exists in this sandbox, so the driver-sanctioned proxy is
the same job at two parallelism levels on the same input: an 8-CPU "N"
cluster vs a 32-CPU "4N" cluster. Plain local[8] vs local[32] is NOT a
fair proxy for a Python-heavy pipeline: local[N] bounds JVM task slots
only, while the Arrow/pandas workers run in separate processes that would
silently use the other 24 physical cores. Each measurement therefore runs
in a subprocess pinned with ``taskset`` to exactly its CPU budget (JVM,
shuffle threads, and Python workers all compete inside the budget, exactly
as they would on an N-core cluster).

Protocol per level:
  1. the synthetic image+caption table is generated ONCE to parquet
     (deterministic; identical bytes for both levels);
  2. the pinned subprocess warms JVM + parquet footers + Python workers
     (long-lived on a real cluster), then times the FULL validation
     pipeline: schema, per-fmt stats, uniqueness, phash dup groups, row
     invariants vs reference (decode + PSNR + caption), point anomalies
     (windowed detector), per-slide drift, verdicts;
  3. efficiency = thr(4N) / (4 * thr(N)), appended to BENCH.md.

Usage:
  python scripts/bench_scaling.py [n_images] [--quick] [--pair=N,4N]
         [--reps=K] [--stage=full|detector] [--mix=std|jpeg]
         [--protocol=best|median] [--target-pairs=K] [--max-reps=K]
         [--probe-tol=X]
  python scripts/bench_scaling.py --run-one <cores> <img> <ref>   (internal)

Contention-aware acceptance (--protocol=median, round-5 default for the
headline number): the shared guest host has bursty co-tenant interference
phases (measured 1.3-4.5x wall swings on identical code+input, BENCH.md
round-4 forensics), so a single best-of pair conflates the engine with the
phase it sampled. The median protocol brackets EVERY leg with a pinned
single-core memory-bandwidth probe (the contended resource per those same
forensics); a rep's three probes must all fall within --probe-tol of the
session's calibrated quiet-phase floor or the rep is discarded as
phase-poisoned. It keeps interleaving (lo, hi, lo, hi, ...) until
--target-pairs accepted reps exist (or --max-reps attempts), then reports
the MEDIAN efficiency over accepted reps — a number a reviewer can re-run,
not a record. When no rep is accepted it prints the result, appends nothing
to BENCH.md and exits non-zero.
"""

from __future__ import annotations

import dataclasses
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORKDIR = os.environ.get("AADS_SCALING_DIR", "/tmp/aads_scaling")
SIZE_SCALE = 2  # 32x32 .. 128x64 images — realistic per-image decode work


# fmt mixes: "std" is the headline table (hot raw key — the north_rule
# skew axis; decode is memory-bandwidth-dominant on this guest).
# "jpeg" flips the payload to 90% jpeg so decode is FLOP-dominant
# (per-8x8-block float64 dgemm): the same full pipeline, but the
# per-core work no longer saturates the guest's shared memory bus, so
# the measured scaling reflects the distributed plan rather than the
# single-host bandwidth ceiling documented in BENCH.md round-3/4
# forensics. On a real cluster every executor brings its own memory
# channels, so the std-mix pipeline sits in this regime too.
MIXES = {"std": {}, "jpeg": {"p_raw": 0.05, "p_qnt": 0.05}}


def materialize(n: int, mix: str = "std") -> tuple[str, str]:
    from approximate_anomaly_detection_in_data_streams_spark.session import get_spark
    from approximate_anomaly_detection_in_data_streams_spark.sources.images import (
        ImageTableConfig,
        generate_images,
        generate_reference,
    )

    cfg = ImageTableConfig(
        n=n, seed=7, partitions=128, size_scale=SIZE_SCALE, **MIXES[mix]
    )
    tag = "" if mix == "std" else f"_{mix}"
    img_path = os.path.join(WORKDIR, f"images_{n}_s{SIZE_SCALE}{tag}.parquet")
    ref_path = os.path.join(WORKDIR, f"reference_{n}_s{SIZE_SCALE}{tag}.parquet")
    if os.path.exists(img_path) and os.path.exists(ref_path):
        return img_path, ref_path
    spark = get_spark(app_name="aads-scaling-gen", cores=32)
    generate_images(spark, cfg).write.mode("overwrite").parquet(img_path)
    generate_reference(spark, cfg).write.mode("overwrite").parquet(ref_path)
    spark.stop()
    return img_path, ref_path


def materialize_features(n: int) -> str:
    """Decode-derived feature table (image_id, ordinal, features) written
    once at full width — input for the compute-bound detector-only leg."""
    from approximate_anomaly_detection_in_data_streams_spark.config import (
        DetectorConfig,
    )
    from approximate_anomaly_detection_in_data_streams_spark.session import get_spark
    from approximate_anomaly_detection_in_data_streams_spark.validator import (
        ImageValidatorConfig,
        validate_images,
    )

    feat_path = os.path.join(WORKDIR, f"features_{n}_s{SIZE_SCALE}.parquet")
    if os.path.exists(feat_path):
        return feat_path
    img_path, ref_path = materialize(n)
    spark = get_spark(app_name="aads-scaling-feat", cores=32)
    vcfg = ImageValidatorConfig(drift=DetectorConfig(w=400, slide=100, r=40.0, k=6))
    report = validate_images(
        spark.read.parquet(img_path),
        spark.read.parquet(ref_path),
        vcfg,
        payload_path=img_path,
    )
    # re-sequence ordinals (undecodable rows leave gaps) so the written
    # table satisfies the detector's contiguous-id contract (n_total)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    feats = report.features.select(
        "image_id",
        (F.row_number().over(Window.orderBy("ordinal")) - 1).alias("ordinal"),
        "features",
    )
    feats.repartition(128).write.mode("overwrite").parquet(feat_path)
    spark.stop()
    return feat_path


def run_one_detector(cores: int, feat_path: str) -> None:
    """Compute-bound leg (north_rule evidence, r3 verdict #3a): the
    windowed distance-outlier detector + drift + anomaly-join sinks over
    PRE-DECODED features — no image payload, no decode, so the measured
    scaling isolates the distributed plan shape from the guest VM's
    decode memory-bandwidth ceiling (BENCH.md round-3 forensics)."""
    from approximate_anomaly_detection_in_data_streams_spark.config import (
        DetectorConfig,
    )
    from approximate_anomaly_detection_in_data_streams_spark.operators.detector import (
        detect,
    )
    from approximate_anomaly_detection_in_data_streams_spark.session import get_spark
    from approximate_anomaly_detection_in_data_streams_spark.validator import (
        profile_drift_slides,
    )
    from pyspark.sql import functions as F

    spark = get_spark(
        app_name=f"aads-scaling-det-{cores}",
        cores=cores,
        shuffle_partitions=2 * cores,
        driver_memory="24g",
        extra={
            "spark.sql.files.maxPartitionBytes": str(
                _scan_split_bytes(feat_path, cores)
            ),
            "spark.sql.files.openCostInBytes": "131072",
        },
    )
    dcfg = DetectorConfig(w=400, slide=100, r=40.0, k=6)

    def warm_udf(it):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from it

    feats = spark.read.parquet(feat_path)
    n_rows = feats.count()
    spark.range(0, cores * 8, 1, cores * 8).mapInPandas(warm_udf, "id long").count()

    def pipeline(src, n_src=None):
        # n_total keeps detector plan construction zero-job (ids are the
        # contiguous ordinal+1 sequence); on a real cluster this row count
        # comes free from the table's manifest/footer metadata.
        cfg_n = dataclasses.replace(dcfg, n_total=n_src) if n_src else dcfg
        points = src.select((F.col("ordinal") + 1).alias("id"), "features")
        det = detect(points, cfg_n).outliers
        anomalies = det.join(
            src.select((F.col("ordinal") + 1).alias("id"), "image_id"), "id"
        ).select("image_id", (F.col("id") - 1).alias("ordinal"))
        drift = profile_drift_slides(src, 50, 45.0, dim=10)
        return anomalies, drift

    # untimed warm pass over a contiguous ~3% prefix (JIT/codegen outside
    # the timed region — same protocol as the full-pipeline leg)
    for df in pipeline(feats.where(F.col("ordinal") < max(n_rows // 32, 2000))):
        df.write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()

    t0 = time.perf_counter()
    anomalies, drift = pipeline(feats, n_src=n_rows)
    anomalies.write.format("noop").mode("overwrite").save()
    t_anom = time.perf_counter()
    drift.write.format("noop").mode("overwrite").save()
    t1 = time.perf_counter()
    spark.stop()
    print(
        json.dumps(
            {
                "wall": t1 - t0,
                "wall_row_checks": t_anom - t0,  # detector+anomaly join
                "wall_features": 0.0,
                "wall_sinks": t1 - t_anom,  # drift aggregation
            }
        )
    )


def _scan_split_bytes(path: str, cores: int) -> int:
    """maxPartitionBytes sized for ~4 read-task waves per core over this
    input, clamped to [8 MB, 128 MB] (the production default)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return max(8 << 20, min(128 << 20, total // max(4 * cores, 1) or (8 << 20)))


def run_one(cores: int, img_path: str, ref_path: str) -> None:
    """Timed validation inside a taskset-pinned subprocess; prints seconds."""
    from concurrent.futures import ThreadPoolExecutor

    from approximate_anomaly_detection_in_data_streams_spark.config import (
        DetectorConfig,
    )
    from approximate_anomaly_detection_in_data_streams_spark.session import get_spark
    from approximate_anomaly_detection_in_data_streams_spark.validator import (
        ImageValidatorConfig,
        validate_images,
    )

    spark = get_spark(
        app_name=f"aads-scaling-{cores}",
        cores=cores,
        shuffle_partitions=2 * cores,
        # both legs get the SAME heap (the protocol isolates the CPU
        # axis); sized to the input — the 4M table's persisted narrow
        # stages overflow a 24g heap's cache region and the measurement
        # turns into GC/spill at both widths (BENCH.md round-5)
        driver_memory=os.environ.get("AADS_SCALING_MEM", "24g"),
        extra={
            # size read tasks to ~4 waves per core, bounded to the
            # [8 MB, 128 MB] band: the production default (128 MB) is right
            # when data >> cores, while a fixed small split manufactures
            # dozens of per-task overheads at a 1-CPU budget (25 ms JVM /
            # ~165 ms Python runner each, measured) with no parallelism to
            # hide them — exactly what a real N-core cluster would not pay.
            # Sized from the SMALLER of the two scanned tables so the
            # reference scan is never under-parallelized by a split tuned
            # to a much larger image table (ADVICE r4)
            "spark.sql.files.maxPartitionBytes": str(
                min(
                    _scan_split_bytes(img_path, cores),
                    _scan_split_bytes(ref_path, cores),
                )
            ),
            "spark.sql.files.openCostInBytes": "131072",
        },
    )
    images = spark.read.parquet(img_path)
    reference = spark.read.parquet(ref_path)
    vcfg = ImageValidatorConfig(drift=DetectorConfig(w=400, slide=100, r=40.0, k=6))

    def warm_udf(it):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        from approximate_anomaly_detection_in_data_streams_spark.functions import (  # noqa: F401
            image_codec,
        )

        yield from it

    n_img = images.count()
    reference.count()
    spark.range(0, cores * 8, 1, cores * 8).mapInPandas(warm_udf, "id long").count()

    # Steady-state warm pass (untimed): executes the identical pipeline
    # over a small subset of the input files (~3%) so JIT /
    # whole-stage-codegen compilation lands outside the timed region. On
    # a real cluster these are one-off costs amortized over hours of
    # 100 TB work (< 0.1% of wall); on a 15-90 s toy wall they are
    # 30-50% — and serial, so leaving them in the timing measures
    # compilation, not throughput scaling. The subset keeps the warm pass
    # cheap and avoids aging the JVM heap with full-size cached stages;
    # caches are dropped so the timed pass recomputes everything.
    import glob
    import shutil

    # warm dirs are keyed by the SOURCE's file list + sizes so a stale
    # copy from an earlier run with a different dataset (e.g. --quick
    # then full) is rebuilt instead of silently reused (ADVICE r3)
    def _src_key(src: str) -> str:
        files = sorted(glob.glob(os.path.join(src, "*.parquet")))
        return repr([(os.path.basename(f), os.path.getsize(f)) for f in files])

    warm_img = img_path.rstrip("/") + ".warm"
    warm_ref = ref_path.rstrip("/") + ".warm"
    for src, dst in ((img_path, warm_img), (ref_path, warm_ref)):
        stamp = os.path.join(dst, ".src_key")
        key = _src_key(src)
        if os.path.exists(dst) and (
            not os.path.exists(stamp) or open(stamp).read() != key
        ):
            shutil.rmtree(dst)
        if not os.path.exists(dst):
            os.makedirs(dst)
            for f in sorted(glob.glob(os.path.join(src, "*.parquet")))[:4]:
                shutil.copy(f, dst)
            with open(stamp, "w") as fh:
                fh.write(key)
    warm_report = validate_images(
        spark.read.parquet(warm_img),
        spark.read.parquet(warm_ref),
        vcfg,
        payload_path=warm_img,
    )
    warm_report.row_checks.count()
    warm_report.features.count()
    for df in (
        warm_report.partition_stats,
        warm_report.uniqueness,
        warm_report.phash_dups,
        warm_report.violations,
        warm_report.drift_slides,
        warm_report.partition_verdicts,
    ):
        df.write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()

    # n_total keeps detector plan construction zero-job inside the timed
    # region (ordinals are contiguous 0-based; on a real cluster the row
    # count is free from Iceberg manifest / parquet footer metadata)
    vcfg_n = dataclasses.replace(vcfg, drift=dataclasses.replace(vcfg.drift, n_total=n_img))
    t0 = time.perf_counter()
    report = validate_images(images, reference, vcfg_n, payload_path=img_path)
    # materialize the shared persisted stages exactly once before fanning
    # out sinks — concurrent first-touch would compute them redundantly
    report.row_checks.count()
    t_checks = time.perf_counter()
    report.features.count()
    t_feats = time.perf_counter()
    sinks = {
        "stats": report.partition_stats,
        "uniqueness": report.uniqueness,
        "phash_dups": report.phash_dups,
        "violations": report.violations,
        "drift": report.drift_slides,
        "verdicts": report.partition_verdicts,
    }
    sink_walls: dict[str, float] = {}

    def run_sink(item):
        name, df = item
        s0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        sink_walls[name] = time.perf_counter() - s0

    with ThreadPoolExecutor(max_workers=len(sinks)) as pool:
        list(pool.map(run_sink, sinks.items()))
    t1 = time.perf_counter()
    spark.stop()
    print(
        json.dumps(
            {
                "wall": t1 - t0,
                # stage attribution: decode+digest+ref-join+psnr-verify wall
                # vs the post-persist sink fan-out (detector, drift, stats,
                # uniqueness, verdicts) — lets scaling losses be localized
                "wall_row_checks": t_checks - t0,
                "wall_features": t_feats - t_checks,
                "wall_sinks": t1 - t_feats,
                **{f"sink_{k}": round(v, 2) for k, v in sink_walls.items()},
            }
        )
    )


def pinned_once(
    cores: int, img_path: str, ref_path: str, stage: str = "full"
) -> dict[str, float]:
    cpus = f"0-{cores - 1}"
    mode = "--run-one-detector" if stage == "detector" else "--run-one"
    env = dict(os.environ)
    # make the pinned JVM size its GC/JIT/common pools for the budget it
    # actually has (a real N-core executor host reports N processors);
    # without this a 24 GB heap runs 23 parallel GC threads on 4 cores
    env["AADS_JAVA_OPTS"] = f"-XX:ActiveProcessorCount={cores}"
    out = subprocess.run(
        [
            "taskset", "-c", cpus, sys.executable, os.path.abspath(__file__),
            mode, str(cores), img_path, ref_path,
        ],
        capture_output=True, text=True, check=True, env=env,
    )
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    print(json.dumps({"cores": cores, **{k: round(v, 2) for k, v in rec.items()}}))
    return rec


def probe(core: int = 0) -> float:
    """Pinned single-core memory-bandwidth probe (seconds, lower = quieter).

    Streams a triad-like ``b = a + b`` over two 256 MB float64 arrays, 8
    passes (~12 GB of memory traffic), pinned to one core. Memory bandwidth
    is the contended resource on this guest (round-4 forensics: co-tenant
    phases swing identical runs 1.3-4.5x and the allocator microbench moved
    with them), so the probe wall tracks the host phase while costing ~2 s.
    Run OUTSIDE the leg (before/after) on core 0, which every leg budget
    includes — the probe measures the host, not the leg."""
    code = (
        "import numpy as np, time\n"
        "n = 32 * 1024 * 1024\n"
        "a = np.ones(n, dtype=np.float64); b = np.ones(n, dtype=np.float64)\n"
        "np.add(a, b, out=b)\n"  # fault pages before timing
        "t = time.perf_counter()\n"
        "for _ in range(8): np.add(a, b, out=b)\n"
        "print(time.perf_counter() - t)\n"
    )
    out = subprocess.run(
        ["taskset", "-c", str(core), sys.executable, "-c", code],
        capture_output=True, text=True, check=True,
    )
    return float(out.stdout.strip().splitlines()[-1])


def accepted_median_runs(
    lo: int,
    hi: int,
    img_path: str,
    ref_path: str,
    stage: str,
    n: int,
    target_pairs: int = 3,
    max_reps: int = 6,
    tol: float = 1.25,
) -> dict:
    """Contention-aware median protocol (round-5; VERDICT r4 item #1).

    Each rep is an interleaved (lo-leg, hi-leg) pair bracketed by three
    single-core bandwidth probes (before lo / between / after hi). The
    quiet-phase floor is the MINIMUM probe observed across the whole
    session (including three calibration probes up front); a rep is
    ACCEPTED iff all three of its probes are <= tol * floor — i.e. the
    host was in the same phase for both legs and that phase was quiet.
    Acceptance is evaluated at the END against the final floor, so an
    early loaded-phase calibration cannot grandfather poisoned reps in.
    The headline is the MEDIAN efficiency over accepted reps."""
    factor = hi / lo
    cal = [probe() for _ in range(3)]
    print(json.dumps({"probe_calibration": [round(p, 3) for p in cal]}))
    reps = []
    for i in range(max_reps):
        p0 = probe()
        rec_lo = pinned_once(lo, img_path, ref_path, stage)
        p1 = probe()
        rec_hi = pinned_once(hi, img_path, ref_path, stage)
        p2 = probe()
        eff = rec_lo["wall"] / (factor * rec_hi["wall"])
        rep = {
            "wall_lo": rec_lo["wall"],
            "wall_hi": rec_hi["wall"],
            "efficiency": round(eff, 3),
            "probes": [round(p, 3) for p in (p0, p1, p2)],
        }
        reps.append(rep)
        print(json.dumps({"rep": i, **rep}))
        floor_now = min(cal + [p for r in reps for p in r["probes"]])
        n_ok = sum(
            1 for r in reps if max(r["probes"]) <= tol * floor_now
        )
        if n_ok >= target_pairs:
            break
    floor = min(cal + [p for r in reps for p in r["probes"]])
    for r in reps:
        r["accepted"] = max(r["probes"]) <= tol * floor
    accepted = [r for r in reps if r["accepted"]]
    effs = sorted(r["efficiency"] for r in accepted)
    median_eff = effs[len(effs) // 2] if len(effs) % 2 else round(
        (effs[len(effs) // 2 - 1] + effs[len(effs) // 2]) / 2, 3
    ) if effs else None
    best_lo = min((r["wall_lo"] for r in accepted), default=None)
    best_hi = min((r["wall_hi"] for r in accepted), default=None)
    return {
        "protocol": "accepted-median",
        "probe_floor_s": round(floor, 3),
        "probe_tol": tol,
        "acceptance_rule": (
            f"rep accepted iff all 3 bracketing single-core bandwidth "
            f"probes <= {tol} * session-min probe ({round(floor, 3)} s); "
            f"headline = median efficiency over accepted reps"
        ),
        "reps_run": len(reps),
        "reps_accepted": len(accepted),
        "efficiencies_accepted": effs,
        "efficiencies_all": [r["efficiency"] for r in reps],
        "median_efficiency": median_eff,
        "best_accepted_wall_lo": best_lo,
        "best_accepted_wall_hi": best_hi,
        "images_per_s_lo": round(n / best_lo, 1) if best_lo else None,
        "images_per_s_hi": round(n / best_hi, 1) if best_hi else None,
        "reps": reps,
    }


def interleaved_runs(
    lo: int, hi: int, img_path: str, ref_path: str, reps: int = 2, stage: str = "full"
) -> tuple[dict[str, float], dict[str, float]]:
    """Best-of-``reps`` per leg, legs INTERLEAVED (lo, hi, lo, hi, ...).

    The shared guest host has bursty interference phases lasting minutes
    (measured 2x wall variance on identical configs). Running all N-leg
    reps then all 4N-leg reps lets a phase flip between the legs poison
    the ratio in either direction (observed: a fast-phase 1-CPU leg at
    3,469 img/s followed by a slow-phase 4-CPU leg gave a nonsense 0.40;
    the reverse inflates efficiency). Interleaving makes both legs sample
    the same phase distribution; min-of-N per leg then measures the
    machine, not the noise."""
    lo_runs, hi_runs = [], []
    for _ in range(reps):
        lo_runs.append(pinned_once(lo, img_path, ref_path, stage))
        hi_runs.append(pinned_once(hi, img_path, ref_path, stage))
    return (
        min(lo_runs, key=lambda r: r["wall"]),
        min(hi_runs, key=lambda r: r["wall"]),
    )


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--run-one":
        run_one(int(sys.argv[2]), sys.argv[3], sys.argv[4])
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--run-one-detector":
        run_one_detector(int(sys.argv[2]), sys.argv[3])
        return
    n = 300_000
    lo, hi = 8, 32
    reps = 2
    stage = "full"
    mix = "std"
    protocol = "best"
    target_pairs = 3
    max_reps = 6
    probe_tol = 1.25
    for a in sys.argv[1:]:
        if a == "--quick":
            n = 40_000
        elif a.startswith("--pair="):
            lo, hi = (int(x) for x in a.split("=")[1].split(","))
        elif a.startswith("--reps="):
            reps = int(a.split("=")[1])
        elif a.startswith("--stage="):
            stage = a.split("=")[1]
        elif a.startswith("--mix="):
            mix = a.split("=")[1]
        elif a.startswith("--protocol="):
            protocol = a.split("=")[1]
        elif a.startswith("--target-pairs="):
            target_pairs = int(a.split("=")[1])
        elif a.startswith("--max-reps="):
            max_reps = int(a.split("=")[1])
        elif a.startswith("--probe-tol="):
            probe_tol = float(a.split("=")[1])
        elif a.isdigit():
            n = int(a)
    os.makedirs(WORKDIR, exist_ok=True)
    if stage == "detector":
        img_path = materialize_features(n)
        ref_path = "-"
    else:
        img_path, ref_path = materialize(n, mix)

    if protocol == "median":
        result = accepted_median_runs(
            lo, hi, img_path, ref_path, stage, n,
            target_pairs=target_pairs, max_reps=max_reps, tol=probe_tol,
        )
        result.update(
            {"n_images": n, "stage": stage, "mix": mix, "cpus": [lo, hi],
             "target": ">= 0.8 (median over accepted reps)"}
        )
        print(json.dumps(result))
        if not result["reps_accepted"]:
            # no median exists: record nothing rather than a None row
            sys.exit(
                f"0/{result['reps_run']} reps accepted "
                f"(tol {probe_tol}); no row appended to BENCH.md"
            )
        with open("BENCH.md", "a") as fh:
            fh.write(
                f"\n| {n} (median protocol"
                f"{'' if stage == 'full' else f', {stage}'}) | {lo}->{hi} | "
                f"{result['best_accepted_wall_lo']} | "
                f"{result['best_accepted_wall_hi']} | "
                f"{result['images_per_s_lo']} | {result['images_per_s_hi']} | "
                f"median {result['median_efficiency']} over "
                f"{result['reps_accepted']}/{result['reps_run']} accepted "
                f"(all: {result['efficiencies_all']}, tol {probe_tol}) |"
            )
        return

    best_lo, best_hi = interleaved_runs(lo, hi, img_path, ref_path, reps, stage)
    t_lo, t_hi = best_lo["wall"], best_hi["wall"]
    thr_lo = n / t_lo
    thr_hi = n / t_hi
    factor = hi / lo
    eff = thr_hi / (factor * thr_lo)
    result = {
        "n_images": n,
        "stage": stage,
        "mix": mix,
        "cpus": [lo, hi],
        f"wall_s_{lo}cpu": round(t_lo, 2),
        f"wall_s_{hi}cpu": round(t_hi, 2),
        f"images_per_s_{lo}cpu": round(thr_lo, 1),
        f"images_per_s_{hi}cpu": round(thr_hi, 1),
        "speedup": round(t_lo / t_hi, 2),
        "scaling_efficiency": round(eff, 3),
        "target": ">= 0.8",
        "stages": {
            st: {
                f"{lo}cpu": round(best_lo[f"wall_{st}"], 2),
                f"{hi}cpu": round(best_hi[f"wall_{st}"], 2),
                "efficiency": round(
                    best_lo[f"wall_{st}"] / (factor * best_hi[f"wall_{st}"]), 3
                ),
            }
            for st in ("row_checks", "features", "sinks")
            if best_hi[f"wall_{st}"] > 0
        },
    }
    print(json.dumps(result))
    with open("BENCH.md", "a") as fh:
        fh.write(
            f"\n| {n}{' (detector-only)' if stage == 'detector' else ''}"
            f"{'' if mix == 'std' else f' ({mix} mix)'} | "
            f"{lo}->{hi} | {result[f'wall_s_{lo}cpu']} | "
            f"{result[f'wall_s_{hi}cpu']} | {result[f'images_per_s_{lo}cpu']} | "
            f"{result[f'images_per_s_{hi}cpu']} | {result['scaling_efficiency']} |"
        )


if __name__ == "__main__":
    main()
