"""Faithful sequential MCOD / ApproxMCOD engine (seeded, NumPy).

Mirrors the reference implementation operation-for-operation — micro-cluster
formation/dissolution, the PD index, the event queue, and (ApproxMCOD) the
PD-size cap with safe-inlier-only eviction plus the approximation radius
``ar = R/2 + arFactor*R``:

  * processNewEntry       /root/reference/src/algorithms/MCOD.java:82-226,
                          /root/reference/src/algorithms/ApproxMCOD.java:105-307
  * addNeighbor           /root/reference/src/algorithms/MCOD.java:50-80
  * eviction loop         /root/reference/src/algorithms/ApproxMCOD.java:159-173
  * ANC / formation check /root/reference/src/algorithms/ApproxMCOD.java:205-259
  * PD admission gate     /root/reference/src/algorithms/ApproxMCOD.java:293-304
  * event queue           /root/reference/src/algorithms/MCODBase.java:15-67,133-142
  * expiry / dissolution  /root/reference/src/algorithms/ApproxMCOD.java:343-381
  * stats / pure outliers /root/reference/src/algorithms/MCODBase.java:124-131,196-227,
                          /root/reference/src/core/OutlierDetector.java:43-62

With ``pd_limit = 0`` (unlimited) and ``ar_factor = 0`` the engine IS the
exact MCOD mechanism (no eviction can ever trigger, the ANC set stays
empty) — tested bit-exact against the committed reference-Java golden
outlier sets on all four datasets, and it reproduces the reference's
printed lifetime counters EXACTLY, including the dissolution-reinsertion
undercount artifact the batch path deliberately corrects
(shuttle-5k W=1000/S=100/R=45/k=30: 4549/234/217 here and in the
reference's stdout vs the batch path's order-independent 4551/234/215 —
see operators/detector.py module docstring). With a finite ``pd_limit`` it realizes the reference's
ApproxMCOD semantics, with two deliberate, documented determinism fixes
(SURVEY.md section 5: the reference draws from an *unseeded*
java.util.Random and iterates a JVM-order HashSet):

  * the evicted safe inlier is drawn by a seeded RNG from the safe-inlier
    set ordered by id (reference: unseeded Random over HashSet iteration
    order, ApproxMCOD.java:49,64-72,163);
  * ``Rmc`` membership ("q is within 3R/2 of this cluster's center") is
    tracked exactly like the reference's per-entry sets.

Role in the engine: this is the semantic anchor for the approximate
variants (the distributed batch analog, operators/approx_mcod.py::
window_verdicts evaluated per window by the halo-block kernel, restates
its eviction and ar rules order-free; both are held to the same recall
against exact MCOD). It runs the CLI's ``--engine sequential`` (MCOD and
ApproxMCOD over one collected stream, __main__.py) and the golden and
recall tests (tests/test_approx_mcod.py). It is not the keyed streaming
kernel: streaming/keyed.py holds one incremental.py::SlideDetector per
key, which raises for ``approx_mcod``. It is intentionally sequential:
the reference algorithm's eviction state is order-dependent by
construction.
"""

from __future__ import annotations

import bisect
import heapq
import random
from dataclasses import dataclass, field

import numpy as np

from ..config import DetectorConfig

OUTLIER, INLIER_PD, INLIER_MC = 0, 1, 2


class _Entry:
    __slots__ = (
        "id", "vec", "count_after", "nn_before", "n_inlier", "n_outlier",
        "etype", "mc", "rmc",
    )

    def __init__(self, pid: int, vec: np.ndarray):
        self.id = pid
        self.vec = vec
        self.n_inlier = 0
        self.n_outlier = 0
        self.init_entry()

    def init_entry(self) -> None:
        """ISBEntry.initEntry (ISBIndex.java:53-59) — lifetime counters
        survive re-init on micro-cluster dissolution."""
        self.mc = None
        self.rmc: set[int] = set()
        self.count_after = 0
        self.etype = INLIER_PD
        self.nn_before: list[int] = []  # sorted neighbor ids

    # nn_before ops (ISBIndex.java:70-126) — id-sorted, no duplicates
    def add_prec_neigh(self, nid: int) -> None:
        pos = bisect.bisect_left(self.nn_before, nid)
        if pos == len(self.nn_before) or self.nn_before[pos] != nid:
            self.nn_before.insert(pos, nid)

    def remove_prec_neigh(self, nid: int) -> None:
        pos = bisect.bisect_left(self.nn_before, nid)
        if pos < len(self.nn_before) and self.nn_before[pos] == nid:
            self.nn_before.pop(pos)

    def count_prec_neighs(self, since_id: int) -> int:
        return len(self.nn_before) - bisect.bisect_left(self.nn_before, since_id)

    def min_prec_neigh(self, since_id: int) -> int | None:
        pos = bisect.bisect_left(self.nn_before, since_id)
        return self.nn_before[pos] if pos < len(self.nn_before) else None


class _VecStore:
    """Growable id->vector store with vectorized range queries (the NumPy
    stand-in for the reference's M-tree / ISB indexes — same query
    contract: results ascending by distance, MTree.java:95-98)."""

    def __init__(self, dim: int, cap: int = 256):
        self._X = np.zeros((cap, dim))
        self._ids = np.zeros(cap, dtype=np.int64)
        self._active = np.zeros(cap, dtype=bool)
        self._slot: dict[int, int] = {}
        self._free: list[int] = []
        self._hi = 0

    def __len__(self) -> int:
        return len(self._slot)

    def __contains__(self, pid: int) -> bool:
        return pid in self._slot

    def add(self, pid: int, vec: np.ndarray) -> None:
        if self._free:
            s = self._free.pop()
        else:
            if self._hi == len(self._ids):
                grow = len(self._ids) * 2
                self._X = np.resize(self._X, (grow, self._X.shape[1]))
                self._ids = np.resize(self._ids, grow)
                self._active = np.resize(self._active, grow)
                self._active[self._hi:] = False
            s = self._hi
            self._hi += 1
        self._X[s] = vec
        self._ids[s] = pid
        self._active[s] = True
        self._slot[pid] = s

    def remove(self, pid: int) -> None:
        s = self._slot.pop(pid)
        self._active[s] = False
        self._free.append(s)

    def range_query(self, vec: np.ndarray, radius: float) -> tuple[np.ndarray, np.ndarray]:
        """(ids, dists) of active entries within radius, ascending by dist."""
        hi = self._hi
        if hi == 0:
            return np.empty(0, np.int64), np.empty(0)
        d2 = np.einsum("ij,ij->i", self._X[:hi] - vec, self._X[:hi] - vec)
        mask = self._active[:hi] & (d2 <= radius * radius)
        idx = np.flatnonzero(mask)
        d = np.sqrt(d2[idx])
        order = np.argsort(d, kind="stable")
        return self._ids[idx][order], d[order]


@dataclass
class _MicroCluster:
    center_id: int
    members: list[int] = field(default_factory=list)  # insertion order, incl. center


@dataclass
class MCODEngine:
    """Sequential reference-mechanism engine. ``cfg.pd_limit`` <= 0 means
    unlimited (exact MCOD); > 0 enables ApproxMCOD eviction + ANC."""

    cfg: DetectorConfig
    dim: int

    def __post_init__(self) -> None:
        cfg = self.cfg
        self.window_start = 1
        self.window_end = cfg.w
        self.window: list[_Entry] = []  # insertion (= id) order
        self.by_id: dict[int, _Entry] = {}
        self.pd = _VecStore(self.dim)  # ISB_PD
        self.mc_centers = _VecStore(self.dim)  # mtreeMC
        self.mcs: dict[int, _MicroCluster] = {}  # center_id -> cluster
        self.event_heap: list[tuple[int, int]] = []  # (timeStamp, id)
        self.event_set: set[tuple[int, int]] = set()
        self.pd_safe_inliers: set[int] = set()  # ApproxMCOD pdSafeInliers
        self.reinsert: set[int] = set()  # entriesReinsert
        self.rng = random.Random(cfg.seed)
        self.outliers: set[int] = set()
        self.stats = {"only_inlier": 0, "only_outlier": 0, "both": 0}
        self.n_range_queries = 0
        self.evicted_log: list[tuple[int, int]] = []  # (id, count_after) at eviction
        self.ar = cfg.r / 2.0 + cfg.ar_factor * cfg.r  # ApproxMCOD.java:53
        self.approx = cfg.pd_limit > 0
        self.next_id = 1

    # ---- helpers mirroring MCODBase ----

    def _is_in_window(self, pid: int) -> bool:
        return self.window_start <= pid <= self.window_end

    def _slide_of(self, pid: int) -> int:
        return (pid - 1) // self.cfg.slide + 1

    def _safe(self, e: _Entry) -> bool:
        return e.count_after >= self.cfg.k

    def _set_type(self, e: _Entry, etype: int) -> None:
        """setEntryType (MCODBase.java:124-131): every (re)classification
        bumps the lifetime counters."""
        e.etype = etype
        if etype == OUTLIER:
            e.n_outlier += 1
        else:
            e.n_inlier += 1

    def _queue_event(self, e: _Entry) -> None:
        m = e.min_prec_neigh(self.window_start)
        if m is not None:
            key = (m + self.cfg.w + 1, e.id)  # expTime, MCODBase.java:140-142
            if key not in self.event_set:
                self.event_set.add(key)
                heapq.heappush(self.event_heap, key)

    def _dist(self, a: _Entry, b: _Entry) -> float:
        d = a.vec - b.vec
        return float(np.sqrt(np.dot(d, d)))

    # ---- addNeighbor (MCOD.java:50-80 / ApproxMCOD.java:74-103) ----

    def _add_neighbor(self, e: _Entry, q: _Entry, update_state: bool) -> None:
        if not self._is_in_window(q.id):
            return
        if self._slide_of(q.id) >= self._slide_of(e.id):
            e.count_after += 1
        else:
            e.add_prec_neigh(q.id)
        if update_state:
            count = e.count_after + e.count_prec_neighs(self.window_start)
            if e.etype == OUTLIER and count >= self.cfg.k:
                self._set_type(e, INLIER_PD)
                if not self._safe(e):
                    self._queue_event(e)

    # ---- processNewEntry ----

    def _process_new_entry(self, e: _Entry, is_new: bool) -> None:
        cfg = self.cfg
        r = cfg.r
        # 3R/2 range query against micro-cluster centers
        mc_ids, mc_dists = self.mc_centers.range_query(e.vec, 1.5 * r)
        closest = int(mc_ids[0]) if len(mc_ids) else None
        found_mc = closest is not None and float(mc_dists[0]) <= r / 2.0

        if found_mc:
            mc = self.mcs[closest]
            e.mc = closest
            self._set_type(e, INLIER_MC)
            mc.members.append(e.id)
            # update PD entries whose Rmc contains this cluster
            for qid in list(self.pd._slot):
                q = self.by_id.get(qid)
                if q is None or closest not in q.rmc:
                    continue
                if self._dist(q, e) <= r:
                    if is_new or qid in self.reinsert:
                        self._add_neighbor(q, e, True)
                        if self.approx and self._safe(q):
                            self.pd_safe_inliers.add(qid)
        else:
            safe_deleted = False
            if self.approx:
                # eviction loop (ApproxMCOD.java:159-173): only safe
                # inliers ever leave, chosen by seeded RNG over the
                # id-ordered safe set
                while len(self.pd) > cfg.pd_limit and self.pd_safe_inliers:
                    ordered = sorted(self.pd_safe_inliers)
                    victim = ordered[self.rng.randrange(len(ordered))]
                    self.pd.remove(victim)
                    self.pd_safe_inliers.discard(victim)
                    self.evicted_log.append(
                        (victim, self.by_id[victim].count_after)
                    )
                    safe_deleted = True

            self.n_range_queries += 1
            res_ids, res_dists = self.pd.range_query(e.vec, 1.5 * r)
            set_nc: list[int] = []
            set_nnc: list[int] = []
            set_anc: list[int] = []
            for qid, dist in zip(res_ids.tolist(), res_dists.tolist()):
                if qid == e.id:
                    continue
                q = self.by_id[qid]
                if dist <= r:
                    self._add_neighbor(e, q, False)
                    if is_new or qid in self.reinsert:
                        self._add_neighbor(q, e, True)
                        if self.approx and self._safe(q):
                            self.pd_safe_inliers.add(qid)
                if dist <= r / 2.0:
                    set_nc.append(qid)
                else:
                    set_nnc.append(qid)
                    if self.approx and safe_deleted and dist <= self.ar:
                        set_anc.append(qid)

            n_collected = len(set_nc) + (len(set_anc) if safe_deleted else 0)
            if n_collected >= cfg.k:  # theta = 1.0, MCODBase.java:95
                mc = _MicroCluster(e.id, [e.id])
                self.mcs[e.id] = mc
                self.mc_centers.add(e.id, e.vec)
                e.mc = e.id
                self._set_type(e, INLIER_MC)
                for qid in set_nc + set_anc:
                    q = self.by_id[qid]
                    q.mc = e.id
                    mc.members.append(qid)
                    self._set_type(q, INLIER_MC)
                    self.pd.remove(qid)
                    if self.approx and self._safe(q):
                        self.pd_safe_inliers.discard(qid)
                for qid in set_nnc:  # includes ANC joiners, as the reference does
                    self.by_id[qid].rmc.add(e.id)
            else:
                # count neighbors inside nearby clusters
                for cid in mc_ids.tolist():
                    for qid in self.mcs[int(cid)].members:
                        q = self.by_id[qid]
                        if self._dist(q, e) <= r:
                            self._add_neighbor(e, q, False)
                count = e.count_prec_neighs(self.window_start) + e.count_after
                if count >= cfg.k:
                    self._set_type(e, INLIER_PD)
                    if not self._safe(e):
                        self._queue_event(e)
                else:
                    self._set_type(e, OUTLIER)
                # PD admission: MCOD always inserts (MCOD.java:196-198);
                # ApproxMCOD gates safe inliers on the cap
                # (ApproxMCOD.java:293-304)
                if not self.approx or (
                    not self._safe(e) or len(self.pd) < cfg.pd_limit
                ):
                    self.pd.add(e.id, e.vec)
                    for cid in mc_ids.tolist():
                        e.rmc.add(int(cid))

    # ---- event queue drain (MCOD.java:228-261) ----

    def _process_event_queue(self, expired: _Entry) -> None:
        while self.event_heap and self.event_heap[0][0] <= self.window_end:
            ts, xid = heapq.heappop(self.event_heap)
            self.event_set.discard((ts, xid))
            x = self.by_id.get(xid)
            if x is None or not self._is_in_window(xid) or x.mc is not None:
                continue
            x.remove_prec_neigh(expired.id)
            count = x.count_after + x.count_prec_neighs(self.window_start)
            if count < self.cfg.k:
                self._set_type(x, OUTLIER)
            elif not self._safe(x):
                self._queue_event(x)

    # ---- expiry (MCOD.java:263-300 / ApproxMCOD.java:343-381) ----

    def _remove_entry(self, e: _Entry) -> None:
        """removeEntry (MCODBase.java:167-174): stats + pure-outlier record."""
        if e.n_inlier > 0 and e.n_outlier > 0:
            self.stats["both"] += 1
        elif e.n_inlier > 0:
            self.stats["only_inlier"] += 1
        else:
            self.stats["only_outlier"] += 1
        if e.n_outlier > 0 and e.n_inlier == 0:
            self.outliers.add(e.id)
        del self.by_id[e.id]

    def _process_expired(self, expired: list[_Entry]) -> None:
        for e in expired:
            if e.mc is not None:
                mc = self.mcs[e.mc]
                mc.members.remove(e.id)
                if len(mc.members) < self.cfg.k + 1:
                    del self.mcs[mc.center_id]
                    self.mc_centers.remove(mc.center_id)
                    self.reinsert = set(mc.members)
                    for qid in list(mc.members):
                        q = self.by_id[qid]
                        if self.approx:
                            self.pd_safe_inliers.discard(qid)
                        q.init_entry()
                        self._process_new_entry(q, False)
            else:
                if e.id in self.pd:
                    self.pd.remove(e.id)
                if self.approx:
                    self.pd_safe_inliers.discard(e.id)
            self.window.remove(e)
            self._remove_entry(e)
            self._process_event_queue(e)

    # ---- driver surface (Executor.java:112-126) ----

    def process_batch(self, X: np.ndarray) -> None:
        """ProcessNewStreamObjects: slide+expire if full, then ingest."""
        if len(self.window) >= self.cfg.w:
            self.window_start += self.cfg.slide
            self.window_end += self.cfg.slide
            expired = []
            for e in self.window:
                if e.id < self.window_start:
                    expired.append(e)
                else:
                    break
            self._process_expired(expired)
        for row in np.asarray(X, dtype=np.float64):
            e = _Entry(self.next_id, row)
            self.window.append(e)
            self.by_id[e.id] = e
            self._process_new_entry(e, True)
            self.next_id += 1

    def run(self, X: np.ndarray) -> dict:
        """Full run over a finite stream, slide-sized batches, final flush."""
        n = len(X)
        s = self.cfg.slide
        for start in range(0, n, s):
            self.process_batch(X[start : start + s])
        return self.finish()

    def finish(self) -> dict:
        """getResults + evaluateRemainingElemsInWin
        (MCODBase.java:205-227, OutlierDetector.java:43-47)."""
        stats = dict(self.stats)
        for e in self.window:
            if e.n_inlier > 0 and e.n_outlier > 0:
                stats["both"] += 1
            elif e.n_inlier > 0:
                stats["only_inlier"] += 1
            else:
                stats["only_outlier"] += 1
            if e.n_outlier > 0 and e.n_inlier == 0:
                self.outliers.add(e.id)
        return {
            "outliers": sorted(self.outliers),
            "n_only_inlier": stats["only_inlier"],
            "n_only_outlier": stats["only_outlier"],
            "n_both_inlier_outlier": stats["both"],
            "n_range_queries": self.n_range_queries,
        }
