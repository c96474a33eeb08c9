"""The benchmark's four workloads.

Each workload makes its inputs from the seed (cached on disk, outside the
timed set-up), loads them through the package's sources, runs one op per
call to ``op`` through the package's public entry points, and checks the
op's outputs against an oracle computed once per seed. ``layers`` turns
the spans of traced ops into per-layer metrics.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import numpy as np

# Sizes per workload. "full" is what the benchmark measures; "smoke" is a
# tiny run that only proves every metric is produced.
SIZES = {
    "full": {
        "batch_detect": {"n": 20_000},
        "keyed_stream": {"per_key": 1_200, "w": 800, "slide": 400},
        "validate_images": {"n": 3_000},
        "dedup_documents": {"n": 3_000},
    },
    "smoke": {
        "batch_detect": {"n": 3_000},
        "keyed_stream": {"per_key": 400, "w": 200, "slide": 100},
        "validate_images": {"n": 300},
        "dedup_documents": {"n": 300},
    },
}


def digest(values) -> str:
    return hashlib.sha1(json.dumps(values).encode()).hexdigest()[:16]


def median(values) -> float:
    return float(statistics.median(values))


class Workload:
    """One named workload: inputs, load, op, check and layer metrics."""

    name = ""
    items_name = ""
    warmup = 1

    def __init__(self, seed: int, size: dict, cache_root: str, work_dir: str):
        self.seed = seed
        self.size = size
        tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
        self.cache = os.path.join(cache_root, f"{self.name}-s{seed}-{tag}")
        self.work_dir = work_dir
        self.first_digest: str | None = None

    # inputs are made once per seed and kept on disk between runs
    def prepare(self, spark) -> None:
        done = os.path.join(self.cache, "_DONE")
        if not os.path.exists(done):
            os.makedirs(self.cache, exist_ok=True)
            self.make_inputs(spark)
            with open(done, "w") as fh:
                fh.write("ok\n")
        with open(os.path.join(self.cache, "oracle.json")) as fh:
            self.oracle = json.load(fh)

    def _write_oracle(self, oracle: dict) -> None:
        with open(os.path.join(self.cache, "oracle.json"), "w") as fh:
            json.dump(oracle, fh)

    def stable(self, value: str) -> bool:
        """The output digest must not change from op to op."""
        if self.first_digest is None:
            self.first_digest = value
        return value == self.first_digest

    def make_inputs(self, spark) -> None:
        raise NotImplementedError

    def load(self, spark) -> None:
        raise NotImplementedError

    def op(self, spark, tracer, parent) -> bool:
        """Run one op; return whether its outputs are correct."""
        raise NotImplementedError

    def layers(self, spans: list[dict], tracer) -> dict:
        raise NotImplementedError

    @property
    def items(self) -> int:
        raise NotImplementedError


class BatchDetect(Workload):
    """MCOD then LSHOD over one seeded 1-d stream, flagship shape."""

    name = "batch_detect"
    items_name = "points"
    warmup = 2
    W, S, R, K = 400, 100, 15.0, 10

    @property
    def items(self) -> int:
        return self.size["n"]

    def _configs(self):
        from approximate_anomaly_detection_in_data_streams_spark.api import (
            lshod_config,
        )
        from approximate_anomaly_detection_in_data_streams_spark.config import (
            DetectorConfig,
        )

        n = self.items
        return {
            "mcod": DetectorConfig(
                w=self.W, slide=self.S, r=self.R, k=self.K, dim=1, n_total=n
            ),
            "lshod": lshod_config(self.W, self.S, self.R, self.K, dim=1, n_total=n),
        }

    def make_inputs(self, spark) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from approximate_anomaly_detection_in_data_streams_spark.oracle.brute import (
            mcod_brute,
        )

        rng = np.random.default_rng(self.seed)
        # event values: exponential body, long tail of sparse outliers
        values = np.round(rng.exponential(50.0, self.items), 2)
        table = pa.table(
            {
                "id": pa.array(np.arange(1, self.items + 1, dtype=np.int64)),
                "features": pa.array([[float(v)] for v in values]),
            }
        )
        pq.write_table(table, os.path.join(self.cache, "points.parquet"))
        truth = mcod_brute(values[:, None], self.W, self.S, self.R, self.K)
        self._write_oracle(
            {"mcod": truth["outliers"], "mcod_digest": digest(truth["outliers"])}
        )

    def load(self, spark) -> None:
        self.points = spark.read.parquet(os.path.join(self.cache, "points.parquet"))
        self.points.count()
        self.exact = set(self.oracle["mcod"])

    def op(self, spark, tracer, parent) -> bool:
        from approximate_anomaly_detection_in_data_streams_spark.api import (
            run_detector,
        )

        found = {}
        for algo, cfg in self._configs().items():
            with tracer.span(f"detect.{algo}", parent):
                result = run_detector(self.points, cfg)
                found[algo] = sorted(r[0] for r in result.outliers.collect())
        mcod_ok = digest(found["mcod"]) == self.oracle["mcod_digest"]
        # LSH only loses candidate neighbours, so its outliers contain the
        # exact ones; the set itself must repeat from op to op
        lshod_ok = self.exact.issubset(found["lshod"]) and self.stable(
            digest(found["lshod"])
        )
        return mcod_ok and lshod_ok

    def layers(self, spans, tracer) -> dict:
        out = {}
        fields = ("jobs", "stages", "task_s", "jvm_cpu_s", "off_jvm_s",
                  "shuffle_write_mb", "gc_s")
        for algo in ("mcod", "lshod"):
            mine = [s for s in spans if s["name"] == f"detect.{algo}"]
            out[f"detect.{algo}.wall_s"] = median(s["wall_s"] for s in mine)
            for f in fields:
                out[f"detect.{algo}.{f}"] = median(
                    float(s["spark"][f]) for s in mine
                )
        return out


class KeyedStream(Workload):
    """Drain a backlog of slide-aligned JSON files through the keyed stream."""

    name = "keyed_stream"
    items_name = "points"
    warmup = 1
    R, K = 4.0, 8
    DIM = 2

    def __init__(self, seed, size, cache_root, work_dir):
        # one key per core, at most four
        size = dict(size, keys=min(4, len(os.sched_getaffinity(0))))
        super().__init__(seed, size, cache_root, work_dir)
        self.keys = [f"k{i}" for i in range(size["keys"])]
        self._ops = 0

    @property
    def items(self) -> int:
        return self.size["per_key"] * len(self.keys)

    def _cfg(self):
        from approximate_anomaly_detection_in_data_streams_spark.config import (
            DetectorConfig,
        )

        return DetectorConfig(
            w=self.size["w"], slide=self.size["slide"], r=self.R, k=self.K,
            dim=self.DIM,
        )

    def _streams(self) -> dict:
        data = np.load(os.path.join(self.cache, "streams.npz"))
        return {key: data[key] for key in self.keys}

    def make_inputs(self, spark) -> None:
        from approximate_anomaly_detection_in_data_streams_spark.streaming.incremental import (
            run_slide_loop,
        )

        rng = np.random.default_rng(self.seed)
        n, slide = self.size["per_key"], self.size["slide"]
        streams = {}
        for key in self.keys:
            X = rng.normal(0.0, 6.0, (n, self.DIM))
            sparse = rng.random(n) < 0.02
            X[sparse] = rng.uniform(-60.0, 60.0, (int(sparse.sum()), self.DIM))
            streams[key] = np.round(X, 3)
        np.savez(os.path.join(self.cache, "streams.npz"), **streams)

        src = os.path.join(self.cache, "source")
        os.makedirs(src)
        for seq, start in enumerate(range(0, n, slide)):
            with open(os.path.join(src, f"slide_{seq:06d}.json"), "w") as fh:
                for key, X in streams.items():
                    if seq == 0:
                        # end-of-stream sentinel: id = -n_total per key
                        fh.write(json.dumps({"key": key, "id": -n, "features": []}) + "\n")
                    for i in range(start, min(start + slide, n)):
                        fh.write(
                            json.dumps(
                                {"key": key, "id": i + 1, "features": X[i].tolist()}
                            )
                            + "\n"
                        )
        ids = np.arange(1, n + 1, dtype=np.int64)
        oracle = {}
        for key, X in streams.items():
            res = run_slide_loop(ids, X, self._cfg())
            oracle[key] = {
                "outliers": sorted(int(i) for i in res["outliers"]),
                "n_only_inlier": int(res["n_only_inlier"]),
                "n_only_outlier": int(res["n_only_outlier"]),
                "n_both_inlier_outlier": int(res["n_both_inlier_outlier"]),
            }
        self._write_oracle(oracle)

    def load(self, spark) -> None:
        from approximate_anomaly_detection_in_data_streams_spark.streaming.keyed import (
            INPUT_SCHEMA,
        )

        # a batch read of the backlog: lists the files and parses every row
        src = os.path.join(self.cache, "source")
        spark.read.schema(INPUT_SCHEMA).json(src).count()

    def op(self, spark, tracer, parent) -> bool:
        from approximate_anomaly_detection_in_data_streams_spark.streaming.keyed import (
            INPUT_SCHEMA,
            keyed_stream_results,
        )

        self._ops += 1
        query_name = f"perfbench_keyed_{self._ops}"
        checkpoint = os.path.join(self.work_dir, "checkpoints", f"op{self._ops}")
        with tracer.span("keyed.stream", parent) as rec:
            stream = (
                spark.readStream.schema(INPUT_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .json(os.path.join(self.cache, "source"))
            )
            query = (
                keyed_stream_results(stream, self._cfg())
                .writeStream.format("memory")
                .queryName(query_name)
                .outputMode("append")
                .option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()
            rows = spark.sql(f"select * from {query_name}").collect()
        rec["run_id"] = str(query.runId)
        rec["progress"] = [
            {
                "trigger_s": p["durationMs"].get("triggerExecution", 0) / 1e3,
                "add_batch_s": p["durationMs"].get("addBatch", 0) / 1e3,
                "state_bytes": sum(
                    s.get("memoryUsedBytes", 0) for s in p.get("stateOperators", [])
                ),
            }
            for p in query.recentProgress
        ]
        rec["rows_out"] = len(rows)
        spark.catalog.dropTempView(query_name)

        got: dict[str, dict] = {
            key: {"outliers": [], "n_only_inlier": -1, "n_only_outlier": -1,
                  "n_both_inlier_outlier": -1}
            for key in self.keys
        }
        for r in rows:
            if r.key not in got:
                return False
            if r.kind == "outlier":
                got[r.key]["outliers"].append(int(r.value))
            else:
                got[r.key][r.kind] = int(r.value)
        for d in got.values():
            d["outliers"].sort()
        return got == self.oracle

    def layers(self, spans, tracer) -> dict:
        mine = [s for s in spans if s["name"] == "keyed.stream"]
        totals = [tracer.spark_totals(s["run_id"]) for s in mine]
        triggers = [p for s in mine for p in s["progress"]]
        return {
            "keyed.trigger_p50_s": median(p["trigger_s"] for p in triggers),
            "keyed.add_batch_s": median(p["add_batch_s"] for p in triggers),
            "keyed.state_bytes": float(max(p["state_bytes"] for p in triggers)),
            "keyed.task_s": median(t["task_s"] for t in totals),
            "keyed.off_jvm_s": median(t["off_jvm_s"] for t in totals),
            "keyed.rows_out": median(s["rows_out"] for s in mine),
            "incremental.slide_p50_s": self._slide_p50(),
        }

    def _slide_p50(self) -> float:
        """Median SlideDetector.process_batch time over one key's stream:
        the single-threaded engine each key runs inside the state store."""
        from approximate_anomaly_detection_in_data_streams_spark.streaming.incremental import (
            make_slide_detector,
        )

        X = self._streams()[self.keys[0]]
        det = make_slide_detector(self._cfg(), self.DIM)
        ids = np.arange(1, len(X) + 1, dtype=np.int64)
        slide = self.size["slide"]
        times = []
        for start in range(0, len(X), slide):
            t0 = time.perf_counter()
            det.process_batch(ids[start : start + slide], X[start : start + slide])
            times.append(time.perf_counter() - t0)
        return median(times)


class ValidateImages(Workload):
    """validator.validate_images plus its six sinks over a seeded image table."""

    name = "validate_images"
    items_name = "images"
    warmup = 2

    @property
    def items(self) -> int:
        return self.size["n"]

    def _configs(self):
        from approximate_anomaly_detection_in_data_streams_spark.config import (
            DetectorConfig,
        )
        from approximate_anomaly_detection_in_data_streams_spark.sources.images import (
            ImageTableConfig,
        )
        from approximate_anomaly_detection_in_data_streams_spark.validator import (
            ImageValidatorConfig,
        )

        table = ImageTableConfig(n=self.items, seed=self.seed, partitions=8)
        # the same detector settings bench.py uses for validated_images_per_s
        vcfg = ImageValidatorConfig(drift=DetectorConfig(w=400, slide=100, r=40.0, k=6))
        return table, vcfg

    def make_inputs(self, spark) -> None:
        from approximate_anomaly_detection_in_data_streams_spark.oracle.planted import (
            image_truth,
        )
        from approximate_anomaly_detection_in_data_streams_spark.sources.images import (
            generate_images,
            generate_reference,
        )

        table, vcfg = self._configs()
        generate_images(spark, table).write.parquet(os.path.join(self.cache, "images.parquet"))
        generate_reference(spark, table).write.parquet(
            os.path.join(self.cache, "reference.parquet")
        )
        truth = image_truth(table, vcfg)
        self._write_oracle(
            {
                "kinds": dict(sorted(Counter(v["kind"] for v in truth["violations"]).items())),
                "verdicts": [
                    [v["fmt"], v["n_rows"], v["n_row_violations"]] for v in truth["verdicts"]
                ],
            }
        )

    def load(self, spark) -> None:
        self.images_path = os.path.join(self.cache, "images.parquet")
        self.images = spark.read.parquet(self.images_path)
        self.ref_table = spark.read.parquet(os.path.join(self.cache, "reference.parquet"))
        self.images.count()
        self.ref_table.count()

    def op(self, spark, tracer, parent) -> bool:
        from approximate_anomaly_detection_in_data_streams_spark.validator import (
            validate_images,
        )

        _, vcfg = self._configs()
        report = validate_images(
            self.images, self.ref_table, vcfg, payload_path=self.images_path
        )
        with tracer.span("validator.decode", parent):
            report.row_checks.count()
            report.features.count()

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        # (layer group, sink, consumer); the violation rows carry the
        # windowed detector's point anomalies, so that sink runs the detector
        sinks = [
            ("sinks", report.partition_stats, noop),
            ("sinks", report.uniqueness, noop),
            ("sinks", report.phash_dups, noop),
            ("sinks", report.drift_slides, noop),
            ("sinks", report.partition_verdicts, lambda df: df.collect()),
            ("drift", report.violations, lambda df: df.collect()),
        ]
        with tracer.span("validator.sink_step", parent) as sinks_span:

            def run(sink):
                group, df, consume = sink
                with tracer.span(f"validator.{group}", sinks_span):
                    return consume(df)

            with ThreadPoolExecutor(max_workers=len(sinks)) as pool:
                results = list(pool.map(run, sinks))
        report.unpersist_all()

        verdicts = [[r.fmt, r.n_rows, r.n_row_violations] for r in results[4]]
        kinds = dict(sorted(Counter(r.kind for r in results[5]).items()))
        return kinds == self.oracle["kinds"] and verdicts == self.oracle["verdicts"]

    def layers(self, spans, tracer) -> dict:
        fields = ("jobs", "task_s", "off_jvm_s", "shuffle_write_mb")
        out = {}
        for group in ("decode", "sinks", "drift"):
            mine = [s for s in spans if s["name"] == f"validator.{group}"]
            # the five profile sinks run as threads of one op: sum per op
            per_op: dict = {}
            for s in mine:
                acc = per_op.setdefault(s["parent"], dict.fromkeys(fields, 0.0))
                for f in fields:
                    acc[f] += float(s["spark"][f])
            for f in fields:
                out[f"validator.{group}.{f}"] = median(p[f] for p in per_op.values())
        # walls: the decode step, the whole parallel sink step, and the
        # violation sink's thread, which runs the drift detector
        for metric, name in (("decode_s", "validator.decode"),
                             ("sinks_s", "validator.sink_step"),
                             ("drift_s", "validator.drift")):
            out[f"validator.{metric}"] = median(
                s["wall_s"] for s in spans if s["name"] == name
            )
        return out


class DedupDocuments(Workload):
    """operators.dedup.minhash_lsh_pairs over seeded near-duplicate documents."""

    name = "dedup_documents"
    items_name = "documents"
    warmup = 1
    THRESHOLD = 0.7

    @property
    def items(self) -> int:
        return self.size["n"]

    def make_inputs(self, spark) -> None:
        from approximate_anomaly_detection_in_data_streams_spark.sources.documents import (
            generate_neardup_docs,
        )

        generate_neardup_docs(spark, self.items, seed=self.seed, partitions=8).write.parquet(
            os.path.join(self.cache, "documents.parquet")
        )
        self._write_oracle({})

    def load(self, spark) -> None:
        self.docs = spark.read.parquet(os.path.join(self.cache, "documents.parquet"))
        self.docs.count()

    def op(self, spark, tracer, parent) -> bool:
        from pyspark.sql import functions as F

        from approximate_anomaly_detection_in_data_streams_spark.operators.dedup import (
            minhash_lsh_pairs,
        )

        with tracer.span("dedup.pairs", parent):
            pairs = minhash_lsh_pairs(
                self.docs, "doc_id", "text", 3, threshold=self.THRESHOLD
            )
            row = pairs.agg(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("id_a", "id_b")).alias("ids"),
                F.min("jaccard").alias("lo"),
                F.sum((F.col("id_a") >= F.col("id_b")).cast("long")).alias("unordered"),
            ).first()
        return (
            row.n > 0
            and row.lo >= self.THRESHOLD
            and row.unordered == 0
            and self.stable(f"{row.n}:{row.ids}")
        )

    def layers(self, spans, tracer) -> dict:
        from approximate_anomaly_detection_in_data_streams_spark.operators.dedup import (
            minhash_signatures,
        )

        mine = [s for s in spans if s["name"] == "dedup.pairs"]
        with tracer.span("dedup.signatures") as sig:
            minhash_signatures(self.docs, "doc_id", "text", 3, num_perm=384).write.format(
                "noop"
            ).mode("overwrite").save()
        return {
            "dedup.signatures_s": sig["wall_s"],
            "dedup.pairs_s": median(s["wall_s"] for s in mine),
            "dedup.jobs": median(float(s["spark"]["jobs"]) for s in mine),
            "dedup.off_jvm_s": median(float(s["spark"]["off_jvm_s"]) for s in mine),
        }


WORKLOADS = {
    w.name: w for w in (BatchDetect, KeyedStream, ValidateImages, DedupDocuments)
}
