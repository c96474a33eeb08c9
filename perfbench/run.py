"""Benchmark of the package's detector, keyed-stream, validator and dedup layers.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Run from the repository root. One process starts one local Spark session
(``local[min(4, nproc)]``), makes the workload's inputs from ``--seed``
(cached under ``.perfbench/``, outside the timed set-up), loads them, runs a
fixed number of warm-up ops and then measures ops for ``--seconds``. Every
op's outputs are checked; a wrong or failed op counts in ``failed``.

``--trace 0`` reports the end-to-end metrics of the named workload.
``--trace 1`` is the separate traced run: it tags every layer call with a
Spark job group, reads the stage metrics of those jobs from the driver's
status store, and reports the per-layer metrics of all four workloads
(each layer is measured on the workload that loads it) plus the tracing
overhead on the named workload. ``--smoke`` runs every workload untraced
at a tiny size, plus one traced run, and checks that each metric named in
BENCHMARK.json is printed with its unit.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Spans and op times
are also written to ``.perfbench/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench")
THREAD_VARS = (
    "OMP_NUM_THREADS",
    "OPENBLAS_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
    "VECLIB_MAXIMUM_THREADS",
)
MIN_MEASURED_OPS = 3
LOAD_REPEATS = 3
# a run whose first-half and second-half median op walls differ by more
# than this share is flagged as still trending
TREND_LIMIT = 0.15


def pin_environment() -> None:
    """One BLAS/OMP thread per process, workers that can import the
    package, and every temporary file inside the checkout. Must run
    before NumPy or PySpark are imported."""
    for var in THREAD_VARS:
        os.environ[var] = "1"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    sys.path.insert(0, ROOT)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def start_session(cores: int):
    from approximate_anomaly_detection_in_data_streams_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    return get_spark(
        app_name="perfbench",
        cores=cores,
        driver_memory="3g",
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, end the JVM it launched, and wait for every child."""
    import subprocess

    from pyspark import SparkContext

    from tracing import descendants

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while len(descendants(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def unit_of(name: str) -> str:
    if name == "items_per_s":
        return "1/s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("_s"):
        return "s"
    return "count"


def run_op(spark, workload, tracer) -> tuple[dict, bool]:
    """One op, timed from outside; an exception counts as a failed op."""
    from tracing import cpu_ticks, tree_cpu_s

    steal0, total0 = cpu_ticks()
    cpu0 = tree_cpu_s(os.getpid())
    with tracer.span(f"{workload.name}.op", trace=False) as rec:
        try:
            ok = workload.op(spark, tracer, rec)
        except Exception:  # the run goes on; the op counts as failed
            traceback.print_exc(file=sys.stderr)
            ok = False
    steal1, total1 = cpu_ticks()
    rec["steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
    rec["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
    # release what the op cached so memory does not pile up across ops
    spark.catalog.clearCache()
    return rec, ok


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def add(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1


def load_and_warm(spark, workload, tracer, tally, warmup: int) -> dict:
    """Inputs (untimed), then the timed load repeats and warm-up ops."""
    workload.prepare(spark)
    loads = []
    for _ in range(LOAD_REPEATS):
        t0 = time.perf_counter()
        workload.load(spark)
        loads.append(time.perf_counter() - t0)
    warm = []
    for _ in range(warmup):
        rec, ok = run_op(spark, workload, tracer)
        tally.add(ok)
        warm.append(rec["wall_s"])
    return {"load_s": statistics.median(loads), "loads": loads, "warmup": warm}


def trend(walls: list[float]) -> float:
    """Second-half over first-half median op wall, minus one."""
    if len(walls) < 3:
        return 0.0
    half = len(walls) // 2
    return statistics.median(walls[half:]) / statistics.median(walls[:half]) - 1.0


def measure(spark, workload, tracer, tally, seconds: float) -> tuple[list, float]:
    """Measured ops: until ``seconds`` have passed, and at least
    MIN_MEASURED_OPS. Returns the op records and the share of the host's
    CPU time the hypervisor gave to other guests meanwhile."""
    from tracing import cpu_ticks

    steal0, total0 = cpu_ticks()
    ops = []
    t_end = time.perf_counter() + seconds
    while len(ops) < MIN_MEASURED_OPS or time.perf_counter() < t_end:
        rec, ok = run_op(spark, workload, tracer)
        tally.add(ok)
        ops.append(rec)
    steal1, total1 = cpu_ticks()
    return ops, (steal1 - steal0) / max(total1 - total0, 1)


def untraced_run(spark, session_s, workload, seconds, tally) -> tuple[dict, dict]:
    from tracing import MemorySampler, Tracer, retained_mb

    tracer = Tracer(spark, enabled=False)
    setup = load_and_warm(spark, workload, tracer, tally, workload.warmup)
    with MemorySampler() as sampler:
        ops, steal_share = measure(spark, workload, tracer, tally, seconds)
    walls = [op["wall_s"] for op in ops]
    metrics = {
        "setup_s": session_s + setup["load_s"] + sum(setup["warmup"]),
        "retained_mb": retained_mb(spark),
    }
    # op wall and CPU times and the sampled memory peak move with the
    # load of other guests on the host by more than any bound allowed in
    # BENCHMARK.json (see README.md); they are printed and kept in the
    # trace file, not reported in the result line
    ungated = {
        "items_per_s": workload.items * len(walls) / sum(walls),
        "op_p50_s": statistics.median(walls),
        "op_cpu_s": statistics.median(op["cpu_s"] for op in ops),
        "peak_rss_mb": sampler.peak_mb,
    }
    detail = {"setup": setup, "walls": walls, "trend": trend(walls),
              "steal_share": steal_share, "ungated": ungated,
              "spans": tracer.spans}
    return metrics, detail


def traced_run(spark, session_s, selected, others, seconds, tally) -> tuple[dict, dict]:
    """Per-layer metrics of every workload's layers. The named workload
    is warmed up and then alternates traced and untraced ops, so its
    layer times are warm and the difference is the tracing overhead. The
    other workloads run one traced op each without a warm-up: their
    counts (jobs, stages, shuffle bytes, rows) are exact, but their times
    include first-use costs."""
    from tracing import Tracer

    tracer = Tracer(spark, enabled=True)
    metrics = {"session.start_s": session_s}
    detail = {}
    for workload in [selected] + others:
        is_sel = workload is selected
        tracer.enabled = False
        setup = load_and_warm(spark, workload, tracer, tally, workload.warmup if is_sel else 0)
        first = len(tracer.spans)
        walls = {True: [], False: []}
        t_end = time.perf_counter() + seconds
        traced = True
        while not walls[True] or (
            is_sel and (len(walls[False]) < 2 or time.perf_counter() < t_end)
        ):
            tracer.enabled = traced
            rec, ok = run_op(spark, workload, tracer)
            tally.add(ok)
            walls[traced].append(rec["wall_s"])
            traced = not traced if is_sel else traced
        tracer.enabled = True
        spans = [s for s in tracer.spans[first:] if s["traced"]]
        metrics.update(workload.layers(spans, tracer))
        if is_sel:
            metrics["sources.load_s"] = setup["load_s"]
            metrics["trace.overhead_ratio"] = statistics.median(
                walls[True]
            ) / statistics.median(walls[False])
        detail[workload.name] = {"setup": setup, "traced": walls[True],
                                 "untraced": walls[False]}
    detail["spans"] = tracer.spans
    return metrics, detail


def bench_once(spark, session_s, name, seed, seconds, trace, size) -> dict:
    from workloads import SIZES, WORKLOADS

    cache_root = os.path.join(WORK, "inputs")
    work_dir = os.path.join(WORK, "work", f"{name}-s{seed}-t{trace}-{os.getpid()}")

    def make(n):
        return WORKLOADS[n](seed, SIZES[size][n], cache_root, work_dir)

    tally = Tally()
    selected = make(name)
    if trace:
        others = [make(n) for n in WORKLOADS if n != name]
        metrics, detail = traced_run(spark, session_s, selected, others, seconds, tally)
    else:
        metrics, detail = untraced_run(spark, session_s, selected, seconds, tally)
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": float(v), "unit": unit_of(k)} for k, v in metrics.items()},
    }
    info = {
        "workload": name,
        "seed": seed,
        "trace": trace,
        "size": size,
        "items": selected.items,
        "items_name": selected.items_name,
        "cpus": cpu_count(),
        "threads": {v: os.environ.get(v) for v in THREAD_VARS},
        "fail_ratio": tally.failed / max(tally.attempted, 1),
    }
    report(info, detail, result)
    shutil.rmtree(work_dir, ignore_errors=True)
    return result


def report(info: dict, detail: dict, result: dict) -> None:
    """Readable lines on stdout, and the full record as a trace file."""
    print(f"# perfbench {info['workload']} seed={info['seed']} trace={info['trace']} "
          f"cpus={info['cpus']} threads={info['threads']['OMP_NUM_THREADS']} "
          f"items/op={info['items']} {info['items_name']}")
    if "walls" in detail:
        walls = detail["walls"]
        print(f"# setup: load={detail['setup']['load_s']:.3f}s "
              f"warmup={[round(w, 3) for w in detail['setup']['warmup']]}")
        print(f"# measured ops: n={len(walls)} walls={[round(w, 3) for w in walls]}")
        cpu = [round(s["cpu_s"], 2) for s in detail["spans"] if s["name"].endswith(".op")]
        print(f"# process-tree CPU s of every op, warm-up first: {cpu}")
        flag = " TRENDING" if abs(detail["trend"]) > TREND_LIMIT else ""
        print(f"# trend: {detail['trend']:+.3f}{flag}")
        print(f"# host CPU steal while measuring: {100 * detail['steal_share']:.1f}%")
        for k, v in detail["ungated"].items():
            print(f"# (not gated) {k} = {v:.6g} {unit_of(k)}")
    print(f"# fail_ratio: {info['fail_ratio']:.4f} "
          f"({result['failed']} of {result['attempted']} ops)")
    for k, v in result["metrics"].items():
        print(f"# {k} = {v['value']:.6g} {v['unit']}")
    out_dir = os.path.join(WORK, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"{info['workload']}-s{info['seed']}-t{info['trace']}-{info['size']}.json"
    )
    with open(path, "w") as fh:
        json.dump({"info": info, "detail": detail, "result": result}, fh, default=str)


def smoke(spark, session_s) -> bool:
    """Every workload untraced, and one traced run (which covers every
    layer), at a tiny size: each metric named in BENCHMARK.json must be
    printed, with its unit, and every op must pass its check."""
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    runs = [(name, 0) for name in WORKLOADS] + [(next(iter(WORKLOADS)), 1)]
    ok = True
    for name, trace in runs:
        res = bench_once(spark, session_s, name, 1, 0.0, trace, "smoke")
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != want[trace] or not res["correct"]:
            missing = sorted(set(want[trace]) - set(got))
            extra = sorted(set(got) - set(want[trace]))
            units = sorted(k for k in got if k in want[trace] and got[k] != want[trace][k])
            print(f"# SMOKE FAIL {name} trace={trace}: correct={res['correct']} "
                  f"missing={missing} extra={extra} unit_mismatch={units}")
            ok = False
    return ok


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload")
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=10.0)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--smoke", action="store_true")
    args = parser.parse_args()

    pin_environment()
    sys.path.insert(0, BENCH_DIR)
    try:
        import approximate_anomaly_detection_in_data_streams_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the package from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not args.smoke and args.workload not in WORKLOADS:
        print(f"perfbench: --workload must be one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    t0 = time.perf_counter()
    spark = start_session(min(4, cpu_count()))
    session_s = time.perf_counter() - t0
    try:
        if args.smoke:
            ok = smoke(spark, session_s)
            print(json.dumps({"smoke": "ok" if ok else "fail"}))
            return 0 if ok else 1
        result = bench_once(
            spark, session_s, args.workload, args.seed, args.seconds, args.trace, "full"
        )
    finally:
        stop_session(spark)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
