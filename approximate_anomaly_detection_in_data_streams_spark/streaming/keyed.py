"""Distributed keyed streaming: one incremental detector per stream key,
state held in Spark's state store via ``applyInPandasWithState``.

This is the scale path for streaming detection: keys partition across
executors, each key's state is exactly one ``SlideDetector`` — the
window's points plus their slide bins, bounded by W x (dim + 2ws-1) for
every algorithm — and an out-of-order re-sequencing buffer. A slide
costs S*W*d, and NO data ever flows through the driver — unlike the
reference's single-threaded loop
(/root/reference/src/Executor.java:112-126), a thousand independent
streams cost one shuffle by key.

Count-based semantics need arrival order (ids are the time axis,
/root/reference/src/core/OutlierDetector.java:10), so rows buffer per key
until a full slide's id range is present, then complete slides process in
order — the result is independent of file listing order and trigger
boundaries, so each trigger drains the whole available backlog, and a
key's buffer holds at most one Arrow batch plus out-of-order rows. A
key's ids must therefore be contiguous from 1: a missing id stalls that
key's stream at the slide that holds it, and it never flushes. A
finite stream ends per key at ``cfg.n_total`` or at a *sentinel row*
with ``id = -n_total``; the final flush (W4) runs only once every id
<= n_total has been processed, so a sentinel overtaking data rows cannot
truncate the stream.

Output (append mode): one row per recorded pure outlier
(kind='outlier', value=id), emitted INCREMENTALLY in the trigger whose
expiry records it (the reference records outliers at expiry/flush,
/root/reference/src/core/OutlierDetector.java:43-62 — emission latency
matches the semantics, not the end of the stream), plus the three
lifetime counters (kind='n_only_inlier' | 'n_only_outlier' |
'n_both_inlier_outlier') at flush. Verified per key against the batch
detector (tests/test_streaming.py).
"""

from __future__ import annotations

import pickle

import numpy as np
import pandas as pd

from ..config import DetectorConfig
from .incremental import SlideDetector, make_slide_detector

INPUT_SCHEMA = "key string, id long, features array<double>"
OUTPUT_SCHEMA = "key string, kind string, value long"
STATE_SCHEMA = "blob binary"


def _keyed_func(cfg: DetectorConfig):
    """Build the applyInPandasWithState function (one detector per key,
    ``make_slide_detector``; with ``cfg.dim`` 0 the engine takes the width
    from its first batch, as the reference probes its first stream object,
    reference src/core/Stream.java:16-22)."""

    def func(key, pdfs, state):
        if state.exists:
            st = pickle.loads(state.get[0])
        else:
            st = {
                "det": make_slide_detector(cfg, cfg.dim),
                "pending": {},
                "next": 1,
                "expected": cfg.n_total or None,
                "done": False,
            }
        det: SlideDetector = st["det"]
        rows = []
        for pdf in pdfs:
            for pid, feats in zip(pdf["id"], pdf["features"]):
                pid = int(pid)
                if pid < 0:
                    st["expected"] = -pid
                elif pid < st["next"] or pid in st["pending"]:
                    # ids are the time axis (pairs.py::check_unique_ids):
                    # a repeat would replace the pending row, or never drain
                    raise ValueError(f"duplicate id {pid}: ids must be unique")
                else:
                    st["pending"][pid] = np.asarray(feats, dtype=np.float64)

            # drain complete slides in order before the next batch is read;
            # once the stream's end is known, the last slide may be partial
            # and the final flush (W4) follows it
            while not st["done"]:
                stop = st["next"] + cfg.slide
                if st["expected"] is not None:
                    stop = min(stop, st["expected"] + 1)
                ids = list(range(st["next"], stop))
                if not all(i in st["pending"] for i in ids):
                    break
                if ids:
                    det.process_batch(ids, [st["pending"].pop(i) for i in ids])
                    st["next"] = stop
                if st["expected"] is not None and st["next"] > st["expected"]:
                    res = det.finish()
                    st["done"] = True
                    rows += [(key[0], k, v) for k, v in res.items() if k != "outliers"]

        # emit outliers recorded by expiry (or by the flush above) in THIS
        # trigger — streaming consumers see violations as soon as the
        # semantics finalize them, not at end-of-stream. The recorded set
        # and per-batch diagnostics are DRAINED from the pickled state:
        # both grow monotonically with stream length, and carrying them
        # would inflate the state blob every trigger even at a fixed
        # window (state size must be bounded by the window + pending —
        # asserted in tests/test_streaming.py::test_keyed_state_size_flat).
        rows = [
            (key[0], "outlier", int(i)) for i in sorted(det._outliers)
        ] + rows
        det._outliers.clear()
        det.diagnostics.clear()

        state.update((pickle.dumps(st),))
        if rows:
            yield pd.DataFrame(rows, columns=["key", "kind", "value"])

    return func


def keyed_stream_results(stream_df, cfg: DetectorConfig):
    """Wire a keyed point stream (key, id, features) through the stateful
    detector; returns the streaming DataFrame of result rows."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream_df.groupBy("key").applyInPandasWithState(
        _keyed_func(cfg),
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def run_keyed_structured_stream(
    spark,
    input_dir: str,
    cfg: DetectorConfig,
    checkpoint_dir: str,
    query_name: str = "aads_keyed_stream",
    output_dir: str | None = None,
) -> dict[str, dict]:
    """Drive a finite keyed JSON stream (``INPUT_SCHEMA`` rows) to
    completion; see ``drain_stream``."""
    stream = spark.readStream.schema(INPUT_SCHEMA).json(input_dir)
    return drain_stream(stream, cfg, checkpoint_dir, query_name, output_dir)


def drain_stream(
    stream,
    cfg: DetectorConfig,
    checkpoint_dir: str,
    query_name: str = "aads_keyed_stream",
    output_dir: str | None = None,
) -> dict[str, dict]:
    """Run a keyed point stream (key, id, features) through the stateful
    detector until the available backlog is drained (availableNow) and
    return {key: {outliers, n_only_inlier, n_only_outlier,
    n_both_inlier_outlier}}.

    Each key's ids must run from 1 without gaps. A key whose stream has
    not ended, or stalled at a missing id, holds the outliers its expired
    slides recorded and counters ``None``; a key that recorded nothing is
    absent.

    ``output_dir=None`` uses a memory sink (test/driver convenience; memory
    sinks cannot recover a checkpoint). Pass a real ``output_dir`` for the
    durable path: a JSON file sink that SUPPORTS checkpoint recovery — a
    killed run restarted with the same checkpoint+output dirs restores the
    per-key state-store detectors and source offsets, processes only unread
    files, and appends each result row exactly once (tested in
    tests/test_streaming.py::test_keyed_stream_resumes_from_checkpoint);
    the returned dict then reflects ALL rows accumulated in the sink."""
    spark = stream.sparkSession
    results = keyed_stream_results(stream, cfg)
    if output_dir is None:
        writer = results.writeStream.format("memory").queryName(query_name)
    else:
        writer = results.writeStream.format("json").option("path", output_dir)
    q = (
        writer.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if output_dir is None:
        rows = spark.sql(f"select * from {query_name}").collect()
    else:
        rows = (
            spark.read.schema(OUTPUT_SCHEMA).json(output_dir).collect()
        )
    out: dict[str, dict] = {}
    for r in rows:
        d = out.setdefault(
            r.key,
            {
                "outliers": [],
                "n_only_inlier": None,
                "n_only_outlier": None,
                "n_both_inlier_outlier": None,
            },
        )
        if r.kind == "outlier":
            d["outliers"].append(r.value)
        else:
            d[r.kind] = r.value
    for d in out.values():
        d["outliers"].sort()
    return out
