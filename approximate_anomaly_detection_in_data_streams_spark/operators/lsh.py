"""Seeded p-stable LSH candidate generation (J4/X3): the approximate join.

Reimplements the reference's LSH index semantics — m p-stable hashes
``h_i = floor((v . a_i + b_i) / w)`` per table, a_i ~ N(0,1)^d,
b_i ~ U[0, w), L tables, candidate set = union of colliding buckets
(reference src/core/lsh/HashFunction.java:13-40, HashTable.java:81-101,
LSHIndex.java:33-44). The per-(point, table)
bucket keys are pure JVM codegen expressions (projection coefficients as
float literals), portable enough that the full LSHOD detector carries an
exact SQL oracle. Three consumers share them:

  * the detectors (LSHOD, ApproxMCLSHOD) run the halo-block kernel of
    operators/pairs.py: the L*m hash ints ride on each halo row and
    ``lsh_plane`` masks the exact distance plane with "collides in >= 1
    table" label planes, so each home point's verdict is computed in one
    task, exactly like MCOD;
  * ``lsh_neighbor_pairs`` is the JVM bucket equi-join: keys exploded to
    (table, key) and joined within (table, key, id-block) groups, with an
    exact post-filter;
  * ``lsh_neighbor_counts`` is the capped tier: buckets thinned by seeded
    hash order, counted by a bucket-exploded Arrow kernel.

Differences from the reference, by design (SURVEY.md section 5):
  * the reference's RNG is unseeded and its buckets evict entries under
    pressure (/root/reference/src/core/lsh/HashTable.java:22-35), making
    results nondeterministic; we seed everything and the detectors skip
    eviction, so their candidate set is a superset of what a capped table
    would retain;
  * missed collisions only *lower* neighbor counts, so the approximate
    outlier set is a superset of the exact one — recall of exact outliers
    is structurally 1.0 and precision is the quality metric (tested).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DetectorConfig
from .pairs import list_matrix


def make_projections(
    cfg: DetectorConfig, dim: int
) -> tuple[np.ndarray, np.ndarray]:
    """Seeded (L, m, d) Gaussian projections and (L, m) uniform biases."""
    rng = np.random.default_rng(cfg.seed)
    A = rng.normal(0.0, 1.0, size=(cfg.num_tables, cfg.num_hashes, dim))
    b = rng.uniform(0.0, cfg.lsh_bucket_width, size=(cfg.num_tables, cfg.num_hashes))
    return A, b


def with_bucket_key_ints(
    points: DataFrame, cfg: DetectorConfig, dim: int
) -> DataFrame:
    """Add ``hk ARRAY<BIGINT>`` — the L*m p-stable hash integers (table-major)
    from the same seeded float-literal expressions as ``with_bucket_keys``.
    The string key of table t is exactly the '_'-join of hk[t*m .. t*m+m-1],
    so any consumer of the int matrix dedupes identically to the string join.
    """
    A, b = make_projections(cfg, dim)
    width = float(cfg.lsh_bucket_width)
    feats = F.col("features")
    hs = []
    for t in range(cfg.num_tables):
        for j in range(cfg.num_hashes):
            dot = feats[0].cast("double") * float(A[t, j, 0])
            for d in range(1, dim):
                dot = dot + feats[d].cast("double") * float(A[t, j, d])
            hs.append(F.floor((dot + float(b[t, j])) / F.lit(width)))
    return points.withColumn("hk", F.array(*hs))


def bucket_key_ints(X: np.ndarray, cfg: DetectorConfig) -> np.ndarray:
    """(n, L*m) int64 — the NumPy twin of ``with_bucket_key_ints``: the same
    seeded projections and the same left-to-right dot-product fold, so each
    key equals the JVM expression's bit for bit."""
    A, b = make_projections(cfg, X.shape[1])
    A = A.reshape(-1, X.shape[1])  # table-major, like hk
    dot = X[:, :1] * A[:, 0]
    for d in range(1, X.shape[1]):
        dot = dot + X[:, d : d + 1] * A[:, d]
    return np.floor((dot + b.ravel()) / float(cfg.lsh_bucket_width)).astype(np.int64)


def with_bucket_keys(
    points: DataFrame, cfg: DetectorConfig, dim: int
) -> DataFrame:
    """Add ``buckets ARRAY<STRING>`` — one bucket key per LSH table.

    Entirely JVM / whole-stage-codegen: each p-stable hash
    ``floor((v . a + b) / w)`` (/root/reference/src/core/lsh/
    HashFunction.java:37-40) is an expression with the seeded Gaussian
    coefficients folded in as float literals, and a table's key is the
    '_'-joined hash integers (the reference's Arrays.toString analog,
    HashTable.java:92-101). No Python, no Arrow round-trip — and the key
    derivation is PORTABLE: an oracle can re-derive bit-identical keys
    from the same literals (same IEEE multiply/add/divide/floor), which
    is what makes the full LSHOD detector exactly SQL-checkable.
    The explicit left-to-right dot-product fold fixes the summation
    order so both engines see the same doubles.
    """
    A, b = make_projections(cfg, dim)
    width = float(cfg.lsh_bucket_width)
    feats = F.col("features")
    table_keys = []
    for t in range(cfg.num_tables):
        hs = []
        for j in range(cfg.num_hashes):
            dot = feats[0].cast("double") * float(A[t, j, 0])
            for d in range(1, dim):
                dot = dot + feats[d].cast("double") * float(A[t, j, d])
            hs.append(
                F.floor((dot + float(b[t, j])) / F.lit(width)).cast("string")
            )
        table_keys.append(F.concat_ws("_", *hs))
    return points.withColumn("buckets", F.array(*table_keys))


def lsh_neighbor_pairs(
    points_with_slide: DataFrame,
    cfg: DetectorConfig,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Approximate neighbor pairs: bucket-collision candidates, exact post-filter.

    Output (i, j, slide_i, slide_j): every co-windowed pair within R that
    collides in >= 1 of the L tables, in both directions. Fully JVM-side
    after key generation:

      1. equi-join the (table, key, id-block)-exploded point table with
         itself — the block of W/S consecutive slides is part of the join
         key (points co-window only within the same or adjacent block, so
         the right side fans to its own and previous block), which bounds
         every join group at <= 2W points even for hot buckets; the exact
         band |slide_i - slide_j| <= W/S - 1 is a post-filter;
      2. dedupe candidate pairs across tables *inside the join* with a
         min-table predicate: a pair is kept only at the FIRST table where
         its keys collide (``NOT exists(t' < t with key_x[t'] ==
         key_y[t'])`` — a pure codegen expression over the carried
         bucket-key arrays). This reproduces the reference's HashSet union
         (/root/reference/src/core/lsh/LSHIndex.java:33-44) without a
         shuffle: the previous ``dropDuplicates`` formulation shuffled the
         full join multiset (hundreds of millions of rows for hot 1-d
         buckets at sf0.1) just to dedupe it, and then paid two more id
         joins to re-attach features;
      3. the exact Euclidean predicate (zip_with/aggregate, whole-stage
         codegen) filters the deduped matches in the same join stage —
         feature vectors ride on the keyed rows, so distance is evaluated
         once per unique colliding pair and no pair row is ever
         materialized to a shuffle before aggregation.

    ``bucket_cap`` optionally bounds each (table, key) bucket by seeded-hash
    order — the deterministic analog of the reference's bucket eviction
    (/root/reference/src/core/lsh/HashTable.java:22-35); dropped members can
    only lower neighbor counts, so capped output stays a superset of what a
    capped reference table would produce. When capped, the min-table dedupe
    is SURVIVOR-RESTRICTED: each exploded row carries a bitmask of the
    tables its point survived the cap in, and a pair is owned by the first
    table where the keys collide AND both members survived — exactly the
    reference's HashSet union over capped tables
    (/root/reference/src/core/lsh/HashTable.java:81-101 finds the pair at
    the later table when one member was evicted from the earlier bucket).
    Without the mask, a pair whose member was thinned out of its
    first-colliding bucket would be suppressed at every later table too
    (the keys still collide there) — an extra recall loss the r3 review
    flagged. Uncapped (the default; no detector config caps) the mask is
    skipped entirely and the predicate is the pure key comparison.
    """
    from pyspark.sql.window import Window

    dim = lsh_dim(points_with_slide, cfg)
    max_gap = cfg.ws - 1
    r2 = float(cfg.r) ** 2

    keyed = with_bucket_keys(points_with_slide, cfg, dim).select(
        "id",
        "slide",
        "features",
        "buckets",
        F.posexplode("buckets").alias("t", "key"),
        (((F.col("slide") - 1) / F.lit(cfg.ws)).cast("long")).alias("g"),
    )
    if bucket_cap is not None:
        w = Window.partitionBy("t", "key", "g").orderBy(
            F.xxhash64("id", F.lit(cfg.seed))
        )
        keyed = (
            keyed.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= bucket_cap)
            .drop("_rn")
        )
        # per-(id, block) survival bitmask over tables — feeds the
        # survivor-restricted min-table dedupe (docstring)
        surv = keyed.groupBy("id", "g").agg(
            F.sum(F.expr("shiftleft(cast(1 as bigint), t)")).alias("_sm")
        )
        keyed = keyed.join(surv, ["id", "g"])
    mask_cols = [F.col("_sm").alias("xm")] if bucket_cap is not None else []
    x = keyed.select(
        F.col("id").alias("i"),
        F.col("slide").alias("slide_i"),
        F.col("features").alias("f_i"),
        F.col("buckets").alias("xb"),
        *mask_cols,
        "t",
        "key",
        "g",
    )
    # right side appears under its own block (home) and the previous block
    # (guest): co-windowed pairs are same-block (i<j dedupes the double
    # match) or adjacent-block (guest row joins the earlier block exactly
    # once).
    y_cols = [
        F.col("id").alias("j"),
        F.col("slide").alias("slide_j"),
        F.col("features").alias("f_j"),
        F.col("buckets").alias("yb"),
        *([F.col("_sm").alias("ym")] if bucket_cap is not None else []),
        "t",
        "key",
    ]
    y_home = keyed.select(*y_cols, "g", F.lit(True).alias("home_j"))
    y_guest = keyed.select(
        *y_cols, (F.col("g") - 1).alias("g"), F.lit(False).alias("home_j")
    ).where(F.col("g") >= 0)
    y = y_home.unionByName(y_guest)
    # min-table dedupe: no earlier table t' < t may already collide.
    # Unrolled scalar comparisons, NOT slice/zip_with/exists: higher-order
    # array functions box per row, and these predicates run on the join's
    # full candidate multiset (hundreds of millions of rows for hot
    # buckets) — unrolling keeps them in flat whole-stage codegen.
    collided_earlier = None
    for tp in range(cfg.num_tables - 1):
        c = (F.col("t") > tp) & (F.col("xb")[tp] == F.col("yb")[tp])
        if bucket_cap is not None:
            # survivor restriction: the earlier table only owns the pair
            # if BOTH members survived its cap there
            c = (
                c
                & (F.shiftright(F.col("xm"), tp).bitwiseAND(F.lit(1)) == 1)
                & (F.shiftright(F.col("ym"), tp).bitwiseAND(F.lit(1)) == 1)
            )
        collided_earlier = c if collided_earlier is None else (collided_earlier | c)
    first_collision = (
        ~collided_earlier if collided_earlier is not None else F.lit(True)
    )
    if dim <= 32:  # unrolled distance for the same reason
        d2 = None
        for d in range(dim):
            diff = F.col("f_i")[d] - F.col("f_j")[d]
            d2 = diff * diff if d2 is None else d2 + diff * diff
    else:
        d2 = F.aggregate(
            F.zip_with("f_i", "f_j", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    matched = (
        x.join(y, ["t", "key", "g"])
        .where(
            (
                (F.col("home_j") & (F.col("i") < F.col("j")))
                | (~F.col("home_j"))
            )
            & (F.abs(F.col("slide_i") - F.col("slide_j")) <= max_gap)
            & first_collision
            & (d2 <= F.lit(r2))
        )
        .select("i", "j", "slide_i", "slide_j")
    )
    # both directions via ONE explode — a union of two projections of the
    # same join would lose exchange reuse and run the join twice
    both = F.array(
        F.struct(
            F.col("i"), F.col("j"),
            F.col("slide_i"), F.col("slide_j"),
        ),
        F.struct(
            F.col("j").alias("i"), F.col("i").alias("j"),
            F.col("slide_j").alias("slide_i"), F.col("slide_i").alias("slide_j"),
        ),
    )
    return matched.select(F.explode(both).alias("p")).select(
        "p.i", "p.j", "p.slide_i", "p.slide_j"
    )


def lsh_dim(points: DataFrame, cfg: DetectorConfig) -> int:
    """Feature width: cfg.dim avoids a probe job during plan
    construction; the .first() fallback exists only for ad-hoc callers."""
    return cfg.dim if cfg.dim > 0 else len(points.select("features").first()[0])


def lsh_plane(cfg: DetectorConfig):
    """Neighbor planes for the halo kernel (operators/pairs.py::
    halo_verdicts) and the streaming SlideDetector: a pair is a neighbor iff it is within R AND collides
    in >= 1 of the L tables — the union of colliding buckets
    (reference src/core/lsh/LSHIndex.java:33-44) with no candidate
    multiset and no cross-table dedupe. Collision is one exact label plane
    per table (void-dtype np.unique over the table's m key ints: exact
    equality, no hashing), labelled once per block."""
    L, m = cfg.num_tables, cfg.num_hashes
    r2 = float(cfg.r) ** 2

    def make(X: np.ndarray, hk: np.ndarray):
        labels = []
        for t in range(L):
            rows = np.ascontiguousarray(hk[:, t * m : (t + 1) * m])
            void = rows.view([("", rows.dtype)] * m).ravel()
            labels.append(np.unique(void, return_inverse=True)[1].ravel())

        def plane(r0: int, r1: int, c0: int, c1: int) -> np.ndarray:
            # per-dimension (a-b)^2 accumulated left-to-right — the SAME
            # IEEE fold as lsh_neighbor_pairs' unrolled codegen predicate
            # and the DuckDB oracle (ADVICE r2)
            diff = X[r0:r1, 0][:, None] - X[c0:c1, 0][None, :]
            d2 = diff * diff
            for d in range(1, X.shape[1]):
                diff = X[r0:r1, d][:, None] - X[c0:c1, d][None, :]
                d2 += diff * diff
            hit = labels[0][r0:r1, None] == labels[0][None, c0:c1]
            for lab in labels[1:]:
                hit |= lab[r0:r1, None] == lab[None, c0:c1]
            return (d2 <= r2) & hit

        return plane

    return make


def lsh_neighbor_counts(
    points_with_slide: DataFrame, cfg: DetectorConfig, bucket_cap: int
) -> DataFrame:
    """Slide-binned neighbor counts (i, slide_i, slide_j, c, c_arr) over
    CAPPED LSH tables — each (table, key, block) bucket keeps its first
    ``bucket_cap`` members in seeded-hash order. The table may hold a
    home- and a guest-block row per key; consumers aggregate additively.

    Semantically identical to
    ``pairs_to_counts(lsh_neighbor_pairs(..., bucket_cap))`` (tested in
    tests/test_lsh_capped.py). Eviction needs per-(table, key, block)
    bucket identity and seeded hash order, so the bucket explode is
    structural here; the uncapped detectors use the halo kernel instead
    (``lsh_plane``).
    """
    return _lsh_counts_bucketed(
        points_with_slide, cfg, lsh_dim(points_with_slide, cfg), bucket_cap
    )


def _lsh_counts_bucketed(
    points_with_slide: DataFrame,
    cfg: DetectorConfig,
    dim: int,
    bucket_cap: int,
) -> DataFrame:
    """Capped LSH counts via the bucket-exploded kernel (see
    lsh_neighbor_counts): per-(table, key, block) groups, vectorized pair
    expansion, survivor-restricted min-table dedupe."""
    from pyspark.sql.window import Window

    L, m = cfg.num_tables, cfg.num_hashes
    max_gap = cfg.ws - 1
    n_bins = 2 * max_gap + 1
    r2 = float(cfg.r) ** 2

    sp = int(
        points_with_slide.sparkSession.conf.get("spark.sql.shuffle.partitions", "64")
    )
    base = with_bucket_key_ints(points_with_slide.repartition(sp), cfg, dim)
    # the cap thins each bucket with a row_number window keyed by `key`,
    # so the key must be the EXACT bucket identity — the string tuple
    key_t = [
        F.concat_ws(
            "_", *[F.col("hk")[t * m + j].cast("string") for j in range(m)]
        )
        for t in range(L)
    ]
    keyed = base.select(
        "id",
        "slide",
        "features",
        "hk",
        F.posexplode(F.array(*key_t)).alias("t", "key"),
        (((F.col("slide") - 1) / F.lit(cfg.ws)).cast("long")).alias("g"),
    )
    w = Window.partitionBy("t", "key", "g").orderBy(
        F.xxhash64("id", F.lit(cfg.seed))
    )
    keyed = (
        keyed.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= bucket_cap)
        .drop("_rn")
    )
    # survival bitmask for the survivor-restricted min-table dedupe —
    # same semantics as lsh_neighbor_pairs (see its docstring)
    surv = keyed.groupBy("id", "g").agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), t)")).alias("sm")
    )
    keyed = keyed.join(surv, ["id", "g"])
    # home row in its own block; guest row fanned to the previous block —
    # cross-block pairs are counted in the lower block's group exactly once
    fanned = keyed.withColumn("home", F.lit(True)).unionByName(
        keyed.withColumn("g", F.col("g") - 1)
        .withColumn("home", F.lit(False))
        .where(F.col("g") >= 0)
    )

    def emit(batches):
        import pyarrow as pa

        arrow_chunks = [b for b in batches if b.num_rows]
        if not arrow_chunks:
            return
        tbl = pa.Table.from_batches(arrow_chunks)
        # the exploded point table is n x L rows: per-row list payloads
        # (features, the L*m hash matrix) read as flat buffers
        id_arr0 = tbl.column("id").to_numpy(zero_copy_only=False)
        feats_mat = list_matrix(tbl, "features", id_arr0, dim).astype(
            np.float64, copy=False
        )
        hk_mat = list_matrix(tbl, "hk", id_arr0, L * m)
        t_arr = tbl.column("t").to_numpy(zero_copy_only=False)
        g_arr = tbl.column("g").to_numpy(zero_copy_only=False)
        slide_arr0 = tbl.column("slide").to_numpy(zero_copy_only=False)
        home_arr0 = tbl.column("home").to_numpy(zero_copy_only=False)
        sm_arr0 = tbl.column("sm").to_numpy(zero_copy_only=False)
        # the bucket identity is the row's OWN table's m raw key ints,
        # gathered from the carried hash matrix — NOT the shuffled `key`
        # column (a 64-bit distribution hash on the hot path; see the
        # shuffle-key comment in the plan builder). Grouping on the raw
        # ints keeps the kernel exact under hash collisions for free.
        K_own = hk_mat[
            np.arange(len(t_arr))[:, None], (t_arr * m)[:, None] + np.arange(m)
        ]
        # sort by (t, g, key ints, id): groups contiguous AND rows
        # id-ascending within each group, so slide (monotone in id) is
        # sorted and each neighbor-slide bin is a contiguous column range
        # (the slice-sum trick — operators/pairs.py::slide_bins). All-int64
        # lexsort — the former string-key sort compared Python objects.
        order = np.lexsort(
            (id_arr0, *(K_own[:, j] for j in range(m - 1, -1, -1)), g_arr, t_arr)
        )
        t_arr, g_arr, K_own = t_arr[order], g_arr[order], K_own[order]
        ids_all = id_arr0[order]
        slides_all = slide_arr0[order]
        home_all = home_arr0[order]
        sm_all = sm_arr0[order]
        feats_all = feats_mat[order]
        hk_all = hk_mat[order]
        changed = (
            (t_arr[1:] != t_arr[:-1])
            | (g_arr[1:] != g_arr[:-1])
            | (K_own[1:] != K_own[:-1]).any(axis=1)
        )
        bounds = np.flatnonzero(np.concatenate(([True], changed)))
        bounds = np.append(bounds, len(t_arr))
        # FULLY VECTORIZED across bucket groups. Groups here are tiny
        # (bucket members co-windowed in one block — measured mean ~20,
        # p99 ~150 at sf0.1), so the former per-group loop paid ~100k
        # Python iterations of np.unique + slice-sum binning per dataset;
        # that loop overhead, not the plane flops, dominated the kernel
        # (BENCH.md, "LSH detector: banded block kernel"). Instead: expand
        # every group's ordered index pairs with the segment repeat/arange
        # trick, apply all predicates as flat vector passes, and accumulate
        # count bins with one bincount keyed by (owner row, slide offset).
        N = len(t_arr)
        sizes = np.diff(bounds)
        grp = np.cumsum(np.concatenate(([0], changed.astype(np.int64))))
        rep = sizes[grp]  # per row: its group's size
        g_start = bounds[:-1][grp]  # per row: its group's first row index
        dim_n = feats_all.shape[1]
        cnt = np.zeros(N * n_bins, dtype=np.int64)
        cnt_arr = np.zeros(N * n_bins, dtype=np.int64)
        # chunk group ranges so the expanded pair arrays stay bounded; a
        # group never splits (max group <= 2W rows -> <= 4W^2 pairs)
        pair_cum = np.concatenate(([0], np.cumsum(sizes.astype(np.int64) ** 2)))
        chunk_pairs = 8_000_000
        ga = 0
        n_groups = len(sizes)
        while ga < n_groups:
            gb = int(
                np.searchsorted(pair_cum, pair_cum[ga] + chunk_pairs, side="right")
            ) - 1
            gb = max(gb, ga + 1)
            r0, r1 = int(bounds[ga]), int(bounds[gb])
            ga = gb
            rep_c = rep[r0:r1]
            T = int(rep_c.sum())
            if T == 0:
                continue
            i_idx = np.repeat(np.arange(r0, r1, dtype=np.int64), rep_c)
            row_pair_start = np.concatenate(
                ([0], np.cumsum(rep_c, dtype=np.int64)[:-1])
            )
            j_idx = (
                np.arange(T, dtype=np.int64)
                - np.repeat(row_pair_start, rep_c)
                + np.repeat(g_start[r0:r1], rep_c)
            )
            # cheap structural predicates first: no self-pair; owner rule
            # (home owners count all, guest owners count home neighbors
            # only — guest-guest pairs are home-home in the next block's
            # group); slide band
            keep = (i_idx != j_idx) & (home_all[i_idx] | home_all[j_idx])
            si = slides_all[i_idx]
            sj = slides_all[j_idx]
            np.logical_and(keep, np.abs(si - sj) <= max_gap, out=keep)
            i_idx, j_idx = i_idx[keep], j_idx[keep]
            si, sj = si[keep], sj[keep]
            # per-dimension (a-b)^2 accumulated left-to-right — the SAME
            # IEEE fold as lsh_neighbor_pairs' unrolled codegen predicate
            # and the DuckDB oracle. The Gram identity (sq_i + sq_j -
            # 2*x.y) differs in the last ulp, which could silently flip a
            # pair with d^2 within rounding of r^2 (ADVICE r2).
            diff = feats_all[i_idx, 0] - feats_all[j_idx, 0]
            D2 = diff * diff
            for d in range(1, dim_n):
                diff = feats_all[i_idx, d] - feats_all[j_idx, d]
                D2 += diff * diff
            keep = D2 <= r2
            i_idx, j_idx = i_idx[keep], j_idx[keep]
            si, sj = si[keep], sj[keep]
            # min-table dedupe: a pair is owned by the FIRST table whose
            # keys collide (exact m-int comparison against the carried
            # hash matrix — no hashing, no labels). Survivor restriction:
            # an earlier table only owns the pair if BOTH
            # members survived its cap (semantics of lsh_neighbor_pairs).
            tpair = t_arr[i_idx]
            t_max = int(tpair.max(initial=0))
            coll = np.zeros(len(i_idx), dtype=bool)
            for tp in range(t_max):
                eq = tpair > tp
                base = tp * m
                for jj in range(m):
                    eq &= hk_all[i_idx, base + jj] == hk_all[j_idx, base + jj]
                eq &= (
                    ((sm_all[i_idx] >> tp) & (sm_all[j_idx] >> tp)) & 1
                ).astype(bool)
                coll |= eq
            surv = ~coll
            i_s = i_idx[surv]
            key = i_s * n_bins + (sj[surv] - si[surv] + max_gap)
            cnt += np.bincount(key, minlength=N * n_bins)
            arr_mask = ids_all[j_idx[surv]] < ids_all[i_s]
            cnt_arr += np.bincount(key[arr_mask], minlength=N * n_bins)
        C = cnt.reshape(N, n_bins)
        ri, bi = np.nonzero(C)
        if len(ri):
            yield pa.RecordBatch.from_pydict(
                {
                    "i": pa.array(ids_all[ri], type=pa.int64()),
                    "slide_i": pa.array(slides_all[ri], type=pa.int64()),
                    "slide_j": pa.array(
                        slides_all[ri] + (bi - max_gap), type=pa.int64()
                    ),
                    "c": pa.array(C[ri, bi], type=pa.int64()),
                    "c_arr": pa.array(
                        cnt_arr.reshape(N, n_bins)[ri, bi], type=pa.int64()
                    ),
                }
            )

    # no sortWithinPartitions: the kernel lexsorts its whole partition
    # anyway (all-int keys), so a JVM sort before it is pure waste.
    # No consolidating groupBy either — consumers aggregate additively.
    return fanned.repartition(sp, "t", "key", "g").mapInArrow(
        emit, "i long, slide_i long, slide_j long, c long, c_arr long"
    )
