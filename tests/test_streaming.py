"""Streaming mode: the incremental slide-loop engine and the Structured
Streaming driver must reproduce the batch detector exactly."""

from __future__ import annotations

import json
import os
from dataclasses import replace

import numpy as np
import pytest

from approximate_anomaly_detection_in_data_streams_spark.api import run_detector
from approximate_anomaly_detection_in_data_streams_spark.config import DetectorConfig
from approximate_anomaly_detection_in_data_streams_spark.streaming.incremental import (
    make_slide_detector,
    run_slide_loop,
    run_structured_stream,
)

CFG = DetectorConfig(w=100, slide=20, r=0.5, k=8)


@pytest.fixture(scope="module")
def batch_run(spark, gauss2d):
    """(outliers, stats) of the batch detector on gauss2d, per config."""
    cache = {}

    def run(cfg):
        if cfg not in cache:
            ids = np.arange(1, len(gauss2d) + 1)
            df = spark.createDataFrame(
                [(int(i), [float(a), float(b)]) for i, (a, b) in zip(ids, gauss2d)],
                "id long, features array<double>",
            )
            res = run_detector(df, cfg)
            outliers = [r.id for r in res.outliers.collect()]
            cache[cfg] = outliers, res.stats.first().asDict()
        return cache[cfg]

    return run


@pytest.fixture(scope="module")
def batch_result(batch_run):
    return batch_run(CFG)


def test_slide_loop_matches_batch_detector(gauss2d, batch_result):
    outliers, stats = batch_result
    ids = np.arange(1, len(gauss2d) + 1)
    res = run_slide_loop(ids, gauss2d, CFG)
    assert res["outliers"] == outliers
    assert res["n_only_inlier"] == stats["n_only_inlier"]
    assert res["n_only_outlier"] == stats["n_only_outlier"]
    assert res["n_both_inlier_outlier"] == stats["n_both_inlier_outlier"]


def test_structured_stream_matches_batch_detector(
    spark, gauss2d, batch_result, tmp_path
):
    outliers, stats = batch_result
    src = tmp_path / "stream_in"
    src.mkdir()
    ids = np.arange(1, len(gauss2d) + 1)
    # one json file per slide, zero-padded so file order == arrival order
    for seq, start in enumerate(range(0, len(ids), CFG.slide)):
        with open(src / f"batch_{seq:06d}.json", "w") as fh:
            for i in range(start, min(start + CFG.slide, len(ids))):
                fh.write(
                    json.dumps(
                        {"id": int(ids[i]), "features": [float(x) for x in gauss2d[i]]}
                    )
                    + "\n"
                )
    res = run_structured_stream(
        spark, str(src), CFG, str(tmp_path / "ck")
    )
    assert res["outliers"] == outliers
    assert res["n_only_outlier"] == stats["n_only_outlier"]


LSHOD_CFG = DetectorConfig(
    w=100, slide=20, r=0.5, k=8, algorithm="lshod", dim=2, num_tables=4
)


@pytest.fixture(scope="module")
def batch_lshod_result(batch_run):
    """Batch LSHOD (uncapped bucket-collision candidates + exact distance
    filter) on the same stream — the equivalence target."""
    return batch_run(LSHOD_CFG)


@pytest.mark.parametrize("algorithm", ["lshod", "approx_mclshod", "APPROX_MCLSHOD"])
def test_lshod_slide_loop_matches_batch(gauss2d, batch_run, algorithm):
    """The incremental engine on the LSH plane (the same lsh_plane, and so
    the same bucket_key_ints, as the batch halo kernel, applied to the
    window at each slide) must reproduce the batch detector exactly —
    outlier set and lifetime stats (VERDICT r4 #8). approx_mclshod has its
    own bucket width and hash count, whatever the name's case."""
    cfg = replace(LSHOD_CFG, algorithm=algorithm)
    outliers, stats = batch_run(cfg)
    ids = np.arange(1, len(gauss2d) + 1)
    res = run_slide_loop(ids, gauss2d, cfg)
    assert res["outliers"] == outliers
    assert outliers == batch_run(replace(cfg, algorithm=algorithm.lower()))[0]
    assert res["n_only_inlier"] == stats["n_only_inlier"]
    assert res["n_only_outlier"] == stats["n_only_outlier"]
    assert res["n_both_inlier_outlier"] == stats["n_both_inlier_outlier"]


def test_lshod_structured_stream_matches_batch(
    spark, gauss2d, batch_lshod_result, tmp_path
):
    """LSHOD through the applyInPandasWithState state-store path: the
    keyed streaming dataflow carries the seeded-projection detector per
    key and must equal the batch LSHOD run on the same finite stream."""
    outliers, stats = batch_lshod_result
    src = tmp_path / "lshod_stream_in"
    src.mkdir()
    ids = np.arange(1, len(gauss2d) + 1)
    for seq, start in enumerate(range(0, len(ids), LSHOD_CFG.slide)):
        with open(src / f"batch_{seq:06d}.json", "w") as fh:
            for i in range(start, min(start + LSHOD_CFG.slide, len(ids))):
                fh.write(
                    json.dumps(
                        {"id": int(ids[i]), "features": [float(x) for x in gauss2d[i]]}
                    )
                    + "\n"
                )
    res = run_structured_stream(
        spark, str(src), LSHOD_CFG, str(tmp_path / "ck_lshod")
    )
    assert res["outliers"] == outliers
    assert res["n_only_outlier"] == stats["n_only_outlier"]


def _write_interleaved_keyed_input(src, gauss2d) -> dict:
    """Two keys' slide files, interleaved across keys and out of order
    within each key, plus their sentinels; returns {key: points}."""
    streams = {"a": gauss2d[:600], "b": gauss2d[600:1400]}
    src.mkdir()
    seq = 0
    for key, X in streams.items():
        order = list(range(0, len(X), CFG.slide))
        order = order[1::2] + order[0::2]  # shuffle slide file order
        for start in order:
            with open(src / f"f_{seq:06d}_{key}.json", "w") as fh:
                for i in range(start, min(start + CFG.slide, len(X))):
                    fh.write(
                        json.dumps(
                            {
                                "key": key,
                                "id": i + 1,
                                "features": [float(x) for x in X[i]],
                            }
                        )
                        + "\n"
                    )
            seq += 1
    # sentinels (finite-stream markers), deliberately not last on disk
    with open(src / "a_sentinels.json", "w") as fh:
        for key, X in streams.items():
            fh.write(json.dumps({"key": key, "id": -len(X), "features": []}) + "\n")
    return streams


def test_keyed_stream_matches_batch_per_key(spark, gauss2d, tmp_path):
    """Distributed keyed streaming (applyInPandasWithState, one detector
    per key in the state store, no collect() in the dataflow): each key's
    outliers and lifetime stats must equal a standalone batch run on that
    key's stream — with files interleaved across keys and out of order."""
    from approximate_anomaly_detection_in_data_streams_spark.streaming.keyed import (
        run_keyed_structured_stream,
    )

    streams = _write_interleaved_keyed_input(tmp_path / "keyed_in", gauss2d)
    got = run_keyed_structured_stream(
        spark, str(tmp_path / "keyed_in"), CFG, str(tmp_path / "ck2")
    )
    assert set(got) == set(streams)
    for key, X in streams.items():
        ids = np.arange(1, len(X) + 1)
        exp = run_slide_loop(ids, X, CFG)
        assert got[key]["outliers"] == exp["outliers"]
        for kk in ("n_only_inlier", "n_only_outlier", "n_both_inlier_outlier"):
            assert got[key][kk] == exp[kk]


def test_lshod_keyed_stream_multi_key(spark, gauss2d, tmp_path):
    """Two independent LSHOD streams through one keyed state-store query:
    per-key results must equal standalone incremental runs (which the
    batch-equivalence test above ties to the batch detector)."""
    from approximate_anomaly_detection_in_data_streams_spark.streaming.keyed import (
        run_keyed_structured_stream,
    )

    streams = {"a": gauss2d[:500], "b": gauss2d[500:1200]}
    src = tmp_path / "lshod_keyed_in"
    src.mkdir()
    seq = 0
    for key, X in streams.items():
        for start in range(0, len(X), LSHOD_CFG.slide):
            with open(src / f"f_{seq:06d}_{key}.json", "w") as fh:
                for i in range(start, min(start + LSHOD_CFG.slide, len(X))):
                    fh.write(
                        json.dumps(
                            {"key": key, "id": i + 1,
                             "features": [float(x) for x in X[i]]}
                        ) + "\n"
                    )
            seq += 1
    with open(src / "zz_sentinels.json", "w") as fh:
        for key, X in streams.items():
            fh.write(json.dumps({"key": key, "id": -len(X), "features": []}) + "\n")

    got = run_keyed_structured_stream(
        spark, str(src), LSHOD_CFG, str(tmp_path / "ck_lshod_keyed")
    )
    assert set(got) == set(streams)
    for key, X in streams.items():
        ids = np.arange(1, len(X) + 1)
        exp = run_slide_loop(ids, X, LSHOD_CFG)
        assert got[key]["outliers"] == exp["outliers"]
        for kk in ("n_only_inlier", "n_only_outlier", "n_both_inlier_outlier"):
            assert got[key][kk] == exp[kk]


def test_keyed_stream_resumes_from_checkpoint(spark, gauss2d, tmp_path):
    """Kill/resume: a first availableNow run drains only the files present;
    a second run with the SAME checkpoint dir must restore the state-store
    detectors and source offsets — processing only the new files, emitting
    each outlier exactly once across the two runs, and finishing with the
    batch-equal result. Double emission (= state lost / files replayed)
    would break the merged equality."""
    from approximate_anomaly_detection_in_data_streams_spark.streaming.keyed import (
        run_keyed_structured_stream,
    )

    X = gauss2d[:800]
    src = tmp_path / "resume_in"
    src.mkdir()
    starts = list(range(0, len(X), CFG.slide))

    def write_file(seq, start):
        with open(src / f"f_{seq:06d}.json", "w") as fh:
            for i in range(start, min(start + CFG.slide, len(X))):
                fh.write(
                    json.dumps(
                        {"key": "a", "id": i + 1, "features": [float(x) for x in X[i]]}
                    )
                    + "\n"
                )

    half = len(starts) // 2
    for seq, start in enumerate(starts[:half]):
        write_file(seq, start)
    ck = str(tmp_path / "ck_resume")
    out_dir = str(tmp_path / "resume_out")
    run_keyed_structured_stream(
        spark, str(src), CFG, ck, query_name="resume1", output_dir=out_dir
    )

    for seq, start in enumerate(starts[half:], start=half):
        write_file(seq, start)
    with open(src / "zz_sentinel.json", "w") as fh:
        fh.write(json.dumps({"key": "a", "id": -len(X), "features": []}) + "\n")
    # the file sink accumulates across restarts, so got2 holds ALL rows
    got2 = run_keyed_structured_stream(
        spark, str(src), CFG, ck, query_name="resume2", output_dir=out_dir
    )

    merged = got2["a"]["outliers"]
    ids = np.arange(1, len(X) + 1)
    exp = run_slide_loop(ids, X, CFG)
    assert merged == exp["outliers"]
    assert len(set(merged)) == len(merged)  # exactly-once across the restart
    for kk in ("n_only_inlier", "n_only_outlier", "n_both_inlier_outlier"):
        assert got2["a"][kk] == exp[kk]


def _committed_batches(checkpoint) -> int:
    return len([f for f in os.listdir(checkpoint / "commits") if f.isdigit()])


def test_keyed_results_do_not_depend_on_trigger_boundaries(spark, gauss2d, tmp_path):
    """One file per trigger (perfbench's reader) and the whole backlog in
    one trigger (run_keyed_structured_stream) give the same result dict
    on the interleaved, out-of-order two-key input."""
    from approximate_anomaly_detection_in_data_streams_spark.streaming.keyed import (
        INPUT_SCHEMA,
        drain_stream,
        run_keyed_structured_stream,
    )

    src = tmp_path / "keyed_in"
    _write_interleaved_keyed_input(src, gauss2d)
    one_file = (
        spark.readStream.schema(INPUT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    per_file = drain_stream(one_file, CFG, str(tmp_path / "ck_one"), "one_file_triggers")
    backlog = run_keyed_structured_stream(
        spark, str(src), CFG, str(tmp_path / "ck_all"), "backlog_trigger"
    )
    assert set(backlog) == {"a", "b"}
    assert per_file == backlog
    assert _committed_batches(tmp_path / "ck_one") == len(os.listdir(src))
    assert _committed_batches(tmp_path / "ck_all") == 1


def test_structured_stream_writes_only_its_checkpoint(spark, gauss2d, tmp_path):
    """With ``cfg.n_total`` set, the unkeyed stream reads its directory
    as it is: no staged copy of the input and no sentinel file, and
    nothing but the streaming checkpoint under ``checkpoint_dir``."""
    src = tmp_path / "in"
    src.mkdir()
    X = gauss2d[:400]
    for seq, start in enumerate(range(0, len(X), CFG.slide)):
        with open(src / f"batch_{seq:06d}.json", "w") as fh:
            for i in range(start, start + CFG.slide):
                fh.write(json.dumps({"id": i + 1, "features": list(X[i])}) + "\n")
    files = sorted(os.listdir(src))
    ck = tmp_path / "ck"
    res = run_structured_stream(spark, str(src), replace(CFG, n_total=len(X)), str(ck))
    assert res == run_slide_loop(np.arange(1, len(X) + 1), X, CFG)
    assert sorted(os.listdir(tmp_path)) == ["ck", "in"]
    assert sorted(os.listdir(src)) == files
    assert {f for f in os.listdir(ck) if not f.startswith(".")} == {
        "commits", "metadata", "offsets", "sources", "state"
    }


@pytest.mark.parametrize("gap", [12, 32], ids=["before-any-expiry", "after-expiries"])
def test_structured_stream_with_an_id_gap_fails_loudly(spark, tmp_path, gap):
    """A missing id stalls the stream at the slide that holds it, so the
    stream never reaches its end. Before the check, a gap that no expiry
    had passed failed with a bare KeyError, and a later one returned the
    outliers of the expired slides with every lifetime counter 0."""
    cfg = DetectorConfig(w=10, slide=5, r=0.5, k=3, n_total=40)
    rng = np.random.default_rng(0)
    src = tmp_path / "in"
    src.mkdir()
    with open(src / "points.json", "w") as fh:
        for i in range(1, cfg.n_total + 1):
            if i != gap:
                fh.write(json.dumps({"id": i, "features": [float(rng.normal())]}) + "\n")
    with pytest.raises(ValueError, match="stalled .* ids must run from 1 without gaps"):
        run_structured_stream(spark, str(src), cfg, str(tmp_path / "ck"))


def test_keyed_stream_reports_a_stalled_key_without_counters(spark, gauss2d, tmp_path):
    """A key whose ids have a gap keeps the outliers its expired slides
    recorded, but reports no lifetime counters (None, not 0), and the
    other key's stream is unaffected."""
    from approximate_anomaly_detection_in_data_streams_spark.streaming.keyed import (
        run_keyed_structured_stream,
    )

    streams = {"a": gauss2d[:400], "b": gauss2d[400:800]}
    gap = 312
    src = tmp_path / "in"
    src.mkdir()
    with open(src / "points.json", "w") as fh:
        for key, X in streams.items():
            for i in range(len(X)):
                if key == "a" or i + 1 != gap:
                    row = {"key": key, "id": i + 1, "features": [float(x) for x in X[i]]}
                    fh.write(json.dumps(row) + "\n")
    got = run_keyed_structured_stream(
        spark, str(src), replace(CFG, n_total=400), str(tmp_path / "ck")
    )
    assert got["a"] == run_slide_loop(np.arange(1, 401), streams["a"], CFG)
    det = make_slide_detector(CFG, 2)
    for start in range(0, gap - gap % CFG.slide, CFG.slide):
        det.process_batch(np.arange(start + 1, start + CFG.slide + 1),
                          streams["b"][start : start + CFG.slide])
    assert det._outliers
    assert got["b"] == {
        "outliers": sorted(det._outliers),
        "n_only_inlier": None,
        "n_only_outlier": None,
        "n_both_inlier_outlier": None,
    }


def test_keyed_state_size_flat():
    """State-store blob size must be bounded by W x dim + pending — NOT
    grow with stream length (recorded outliers and per-batch diagnostics
    are drained each trigger). Drives the applyInPandasWithState function
    directly with a fake state handle."""
    import pickle

    import numpy as np
    import pandas as pd

    from approximate_anomaly_detection_in_data_streams_spark.config import (
        DetectorConfig,
    )
    from approximate_anomaly_detection_in_data_streams_spark.streaming.keyed import (
        _keyed_func,
    )

    class FakeState:
        def __init__(self):
            self.blob = None

        @property
        def exists(self):
            return self.blob is not None

        @property
        def get(self):
            return (self.blob,)

        def update(self, t):
            self.blob = t[0]

    cfg = DetectorConfig(w=100, slide=25, r=0.5, k=60)  # k high: many outliers
    func = _keyed_func(cfg)
    state = FakeState()
    rng = np.random.default_rng(3)
    sizes = []
    n_out = 0
    for trig in range(40):
        ids = np.arange(trig * 25 + 1, trig * 25 + 26)
        pdf = pd.DataFrame(
            {
                "id": ids,
                "features": [rng.normal(size=4).tolist() for _ in ids],
            }
        )
        for out in func(("k",), iter([pdf]), state):
            n_out += (out["kind"] == "outlier").sum()
        sizes.append(len(state.blob))
    assert n_out > 100  # the stream really does record outliers steadily
    # after the window fills (trigger >= 4), blob size must be flat
    steady = sizes[5:]
    assert max(steady) - min(steady) <= 0.1 * min(steady), sizes[:8] + sizes[-3:]


class _FakeState:
    """The slice of Spark's GroupState that ``_keyed_func`` uses."""

    blob = None

    @property
    def exists(self):
        return self.blob is not None

    @property
    def get(self):
        return (self.blob,)

    def update(self, t):
        self.blob = t[0]


def test_lsh_keyed_state_is_no_larger_than_mcod():
    """An LSH detector's window holds what MCOD's holds — the plane hashes
    the window at each slide, so no per-point bucket ints are pickled
    into the state store. Spark-free: drives ``_keyed_func`` directly."""
    import pandas as pd

    from approximate_anomaly_detection_in_data_streams_spark.api import (
        approx_mclshod_config,
        lshod_config,
    )
    from approximate_anomaly_detection_in_data_streams_spark.streaming.keyed import (
        _keyed_func,
    )

    X = np.random.default_rng(5).normal(size=(400, 4))
    steady = {}
    for cfg in (
        DetectorConfig(w=100, slide=25, r=0.5, k=8),
        lshod_config(100, 25, 0.5, 8),
        approx_mclshod_config(100, 25, 0.5, 8),
    ):
        func = _keyed_func(cfg)
        state = _FakeState()
        sizes = []
        for start in range(0, len(X), 25):
            ids = np.arange(start + 1, start + 26)
            pdf = pd.DataFrame({"id": ids, "features": list(X[start : start + 25])})
            list(func(("k",), iter([pdf]), state))
            sizes.append(len(state.blob))
        steady[cfg.algorithm] = max(sizes[4:])  # the window is full
    assert steady["lshod"] <= 1.01 * steady["mcod"], steady
    assert steady["approx_mclshod"] <= 1.01 * steady["mcod"], steady


def test_keyed_func_drains_each_chunk_before_reading_the_next(monkeypatch, gauss2d):
    """A trigger's Arrow chunks are drained one by one: slide c is
    processed before chunk c + 1 is read, so a key's pending buffer holds
    at most one chunk whatever the backlog. ``cfg.n_total`` ends the
    stream without a sentinel row. Spark-free."""
    import pandas as pd

    from approximate_anomaly_detection_in_data_streams_spark.streaming import (
        incremental,
    )
    from approximate_anomaly_detection_in_data_streams_spark.streaming.keyed import (
        _keyed_func,
    )

    S = CFG.slide
    cfg = replace(CFG, n_total=40 * S)
    X = gauss2d[: cfg.n_total]
    events = []
    process_batch = incremental.SlideDetector.process_batch

    def logged(self, ids, rows):
        events.append(("process", int(ids[0])))
        process_batch(self, ids, rows)

    monkeypatch.setattr(incremental.SlideDetector, "process_batch", logged)

    def chunks():
        for c in range(40):
            events.append(("read", c + 1))
            ids = np.arange(c * S + 1, (c + 1) * S + 1)
            yield pd.DataFrame({"id": ids, "features": list(X[c * S : (c + 1) * S])})

    out = pd.concat(_keyed_func(cfg)(("k",), chunks(), _FakeState()))
    assert events[:3] == [("read", 1), ("process", 1), ("read", 2)]
    assert events == [
        e for c in range(40) for e in (("read", c + 1), ("process", c * S + 1))
    ]
    got = {"outliers": sorted(int(v) for v in out.value[out.kind == "outlier"])}
    got.update((k, int(v)) for k, v in zip(out.kind, out.value) if k != "outlier")
    assert got == run_slide_loop(np.arange(1, cfg.n_total + 1), X, cfg)


@pytest.mark.parametrize(
    "batches,dup",
    [([range(1, 41), [11, -40]], 11), ([[1, 2, 3], [3]], 3)],
    ids=["after-its-slide", "while-pending"],
)
def test_keyed_stream_rejects_a_repeated_id(batches, dup):
    """A repeated id fails as in the batch kernel (check_unique_ids):
    without the check a pending repeat silently replaced the earlier row,
    and a repeat of a processed id stayed in the pickled state for ever
    while the stream reported itself done."""
    import pandas as pd

    from approximate_anomaly_detection_in_data_streams_spark.streaming.keyed import (
        _keyed_func,
    )

    func = _keyed_func(DetectorConfig(w=10, slide=5, r=0.5, k=2))
    state = _FakeState()
    rng = np.random.default_rng(0)
    with pytest.raises(ValueError, match=f"duplicate id {dup}: ids must be unique"):
        for ids in batches:
            pdf = pd.DataFrame(
                {"id": list(ids), "features": [[float(rng.normal())] for _ in ids]}
            )
            list(func(("k",), iter([pdf]), state))


def test_slide_engine_routes_every_algorithm_name(gauss2d):
    """Algorithm names route case-insensitively, as in the batch detect();
    approx_mcod and unknown names fail instead of silently running exact
    MCOD."""
    ids, X = np.arange(1, 401), gauss2d[:400]
    upper = run_slide_loop(ids, X, replace(LSHOD_CFG, algorithm="LSHOD"))
    assert upper == run_slide_loop(ids, X, LSHOD_CFG)
    with pytest.raises(ValueError, match="mcod_engine.py::MCODEngine.*api.run_detector"):
        make_slide_detector(replace(CFG, algorithm="approx_mcod"), 2)
    with pytest.raises(ValueError, match="unknown algorithm: mcodd"):
        make_slide_detector(replace(CFG, algorithm="mcodd"), 2)


@pytest.mark.parametrize(
    "case,match",
    [
        ("nan", "non-finite features at id 8"),
        ("inf", "non-finite features at id 31"),
        ("width-change", "ragged features: expected width 2, found 3 at id 41"),
        ("empty", "empty features at id 1"),
        ("duplicate-id", "duplicate id 20"),
    ],
    ids=["nan", "inf", "width-change", "empty", "duplicate-id"],
)
def test_bad_stream_features_fail_with_a_clear_message(gauss2d, case, match):
    """The stream's input contract is the batch kernel's (pairs.py::
    checked_matrix, check_unique_ids): without it a NaN point silently
    becomes an outlier, zero-width points all coincide and a repeated id
    misaligns every later slide."""
    rows = [list(x) for x in gauss2d[:60]]
    ids = np.arange(1, len(rows) + 1)
    if case == "nan":
        rows[7][1] = float("nan")
    elif case == "inf":
        rows[30][0] = float("inf")
    elif case == "width-change":
        rows[40:] = [r + [0.0] for r in rows[40:]]
    elif case == "duplicate-id":
        ids[20] = 20  # the second slide repeats the first slide's last id
    else:
        rows = [[] for _ in rows]
    with pytest.raises(ValueError, match=match):
        run_slide_loop(ids, rows, CFG)
