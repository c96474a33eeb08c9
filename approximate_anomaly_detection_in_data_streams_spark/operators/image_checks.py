"""Per-row image invariant checks and feature extraction (mapInPandas).

The only two places the validator leaves the JVM: decoding ``bytes`` and
pixel math — both Arrow-batched, vectorized per batch, never per-row Python
over columns (input_hint). Decode failures become row verdicts, never task
failures.

Per-row invariant (BASELINE.json input_hint): decoded-pixel allclose vs the
reference decode — PSNR >= 40 dB for lossy formats, exact for lossless —
plus caption equality, plus structural checks (dims match metadata, stored
phash matches recomputed phash).
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import image_codec as codec

PSNR_MIN_DB = 40.0

N_HIST_BINS = 8

DIGEST_SCHEMA = (
    "image_id string, fmt string, caption string, ordinal long, "
    "w int, h int, n_bytes long, "
    "decode_ok boolean, dims_ok boolean, phash_ok boolean, phash_dec long, "
    "phash long, decode_reason string, features array<double>"
)

PSNR_SCHEMA = "image_id string, psnr double, pixels_equal boolean"

# Reusable scratch buffers, keyed by role, living for the worker process
# lifetime (Spark reuses Python workers across tasks). The guest VM
# collapses under CONCURRENT fresh large allocations (mmap/page-fault
# storms: measured 4.6 -> 0.5-2 GB/s aggregate at 8-32 procs on fresh
# buffers vs 27 -> 555 GB/s on preallocated ones — BENCH.md), so every
# per-batch multi-MB intermediate below is written into one of these
# instead of a fresh np.empty.
_SCRATCH: dict[str, np.ndarray] = {}


def _scratch(name: str, shape: tuple[int, ...], dtype) -> np.ndarray:
    size = int(np.prod(shape))
    need = size * np.dtype(dtype).itemsize
    buf = _SCRATCH.get(name)
    if buf is None or buf.nbytes < need:
        buf = np.empty(int(need * 5 // 4) + 64, dtype=np.uint8)
        _SCRATCH[name] = buf
    return buf[:need].view(dtype).reshape(shape)


def _digest_same_shape(
    mats: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized (phash, features, stats) for a stack of same-shape
    images (n, h, w) uint8. The hash path matches codec.average_hash
    bit-for-bit (same data, same reductions, float64 throughout); the
    std feature uses a one-pass E[x^2]-E[x]^2 in float64 (exact to within
    1 ulp on uint8 data — features feed thresholded drift checks, not a
    bit-compare).

    Tiny images (h<8 or w<8) are nearest-neighbor upsampled for the hash
    exactly like codec.average_hash (np.repeat per axis) so both paths stay
    bit-identical; features keep using the ORIGINAL pixels."""
    n, h, w = mats.shape
    grid = 8
    hash_mats = mats
    if h < grid or w < grid:
        ry = -(-grid // h) if h < grid else 1
        rx = -(-grid // w) if w < grid else 1
        hash_mats = np.repeat(np.repeat(mats, ry, axis=1), rx, axis=2)
    _, hh_, ww_ = hash_mats.shape
    bh, bw = max(hh_ // grid, 1), max(ww_ // grid, 1)
    # Integer-domain block sums, NOT an n x h x w float64 copy: every
    # partial sum of uint8 values stays an exact integer < 2^53, so
    # sum/int-count division reproduces the old float64-mean path BIT FOR
    # BIT while moving ~8x less memory (the guest's scarce resource —
    # BENCH.md round-3 forensics).
    trimmed = hash_mats[:, : bh * grid, : bw * grid]
    # Two-stage reduction, strided bh axis first: numpy's single fused
    # sum(axis=(2, 4), dtype=int64) walks the stack with an 8-byte
    # accumulator per 1-byte pixel; reducing axis 2 first keeps the inner
    # loop on the contiguous (grid, bw) tail and the intermediate at 2 or
    # 4 bytes — measured 5x on the bench shapes. Integer sums are exact at
    # every stage (uint16 holds bh * 255 for bh <= 257, i.e. h <= 2056;
    # taller images take the int32 stage), so the result — and the phash
    # bits derived from it — is bit-identical to the fused reduction.
    r5 = trimmed.reshape(n, grid, bh, grid, bw)
    s1_dtype = np.uint16 if bh * 255 <= np.iinfo(np.uint16).max else np.int32
    block_sums = r5.sum(axis=2, dtype=s1_dtype).sum(axis=3, dtype=np.int64)
    blocks = block_sums / float(bh * bw)
    bits = blocks > blocks.mean(axis=(1, 2))[:, None, None]
    weights = (1 << np.arange(63, dtype=np.uint64))
    flat = bits.reshape(n, 64)[:, :63]
    phashes = (flat * weights).sum(axis=1).astype(np.int64)

    # ONE 256-bin integer histogram per image feeds mean, variance AND the
    # 8-bin feature histogram — exact-integer sums, so all three are
    # bit-identical to the former float64 formulation (mean = sum/n,
    # m2 = sumsq/n with sum, sumsq < 2^53). Per-image bincount in a plain
    # loop, NOT the offset-shifted single bincount over an n x h*w int32
    # buffer: the fused variant writes+reads 4 bytes per 1-byte pixel and
    # its counting array (n*256 bins) thrashes cache, while per-image
    # bincounts stay L1-resident — measured 3x faster (8.8 vs 27 us/img
    # at 48x64) with identical integer outputs.
    flat_px = mats.reshape(n, h * w)
    hist256 = np.empty((n, 256), dtype=np.int64)
    for i in range(n):
        hist256[i] = np.bincount(flat_px[i], minlength=256)
    v = np.arange(256, dtype=np.float64)
    sums = hist256 @ v
    sumsq = hist256 @ (v * v)
    means = sums / (h * w)
    m2 = sumsq / (h * w)
    stds = np.sqrt(np.maximum(m2 - means * means, 0.0))
    hist = hist256.reshape(n, N_HIST_BINS, 256 // N_HIST_BINS).sum(axis=2)
    hist = hist.astype(np.float64) * (128.0 / (h * w))
    feats = np.concatenate([means[:, None], stds[:, None], hist], axis=1)
    return phashes, feats, means


_MAGIC_VALS = {
    m: int(np.frombuffer(m, dtype="<u4")[0])
    for m in (codec.MAGIC_RAW, codec.MAGIC_QNT, codec.MAGIC_JPEG)
}


def _digest_out_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("image_id", pa.string()),
            ("fmt", pa.string()),
            ("caption", pa.string()),
            ("ordinal", pa.int64()),
            ("w", pa.int32()),
            ("h", pa.int32()),
            ("n_bytes", pa.int64()),
            ("decode_ok", pa.bool_()),
            ("dims_ok", pa.bool_()),
            ("phash_ok", pa.bool_()),
            ("phash_dec", pa.int64()),
            # stored phash passed through: lets uniqueness / duplicate-group
            # sinks aggregate the persisted narrow digest rows instead of
            # re-scanning the source table (one table scan total)
            ("phash", pa.int64()),
            ("decode_reason", pa.string()),
            ("features", pa.list_(pa.float64())),
        ]
    )


def _digest_kernel(batches):
    """The decode+digest Arrow kernel shared by ``decode_digests`` (JVM
    scan feeds mapInArrow) and ``decode_digests_parquet`` (payload-local
    scan). Input batches carry columns (image_id, bytes, w, h, fmt,
    caption, phash, ordinal); output matches DIGEST_SCHEMA."""
    import pyarrow as pa

    out_schema = _digest_out_schema()
    for rb in batches:
        n = rb.num_rows
        if not n:
            continue
        cols = {name: rb.column(i) for i, name in enumerate(rb.schema.names)}
        bin_arr = cols["bytes"]
        if isinstance(bin_arr, pa.ChunkedArray):  # defensive
            bin_arr = bin_arr.combine_chunks()
        # raw arrow buffers: validity, int32 offsets, data
        off_buf = np.frombuffer(bin_arr.buffers()[1], dtype=np.int32)
        arr_off = bin_arr.offset
        offsets = off_buf[arr_off : arr_off + n + 1].astype(np.int64)
        data_buf = bin_arr.buffers()[2]
        # all-empty/all-null batches carry a None or zero-length data
        # buffer; pad to >= 8 bytes so the clamped header gather below
        # stays in-bounds (those rows fail has_header and become row
        # verdicts, not IndexErrors)
        data = (
            np.frombuffer(data_buf, dtype=np.uint8)
            if data_buf is not None
            else np.zeros(0, dtype=np.uint8)
        )
        if len(data) < 8:
            data = np.concatenate([data, np.zeros(8 - len(data), np.uint8)])
        lengths = offsets[1:] - offsets[:-1]
        # null bytes rows: consult the validity bitmap — offsets of null
        # slots are unspecified, so mask them out before any gather
        null_mask = np.zeros(n, dtype=bool)
        if bin_arr.null_count:
            null_mask = bin_arr.is_null().to_numpy(zero_copy_only=False)
            lengths = np.where(null_mask, 0, lengths)

        meta_w = cols["w"].to_numpy(zero_copy_only=False).astype(np.int64)
        meta_h = cols["h"].to_numpy(zero_copy_only=False).astype(np.int64)
        stored_phash = cols["phash"].to_numpy(zero_copy_only=False)

        decode_ok = np.ones(n, dtype=bool)
        dims_ok = np.ones(n, dtype=bool)
        phash_dec = np.full(n, -1, dtype=np.int64)
        feat_mat = np.full((n, 2 + N_HIST_BINS), np.nan)
        reason_code = np.zeros(n, dtype=np.int8)  # 0 ok, 1 header, 2 size, 3 magic

        has_header = lengths >= 8
        reason_code[~has_header] = 1
        reason_code[null_mask] = 5
        starts = offsets[:-1]
        hidx = starts[:, None] + np.arange(8)
        hdr = np.where(has_header[:, None], hidx, 0)
        headers = data[hdr]  # (n, 8)
        magic_u32 = headers[:, :4].copy().view("<u4").ravel().astype(np.int64)
        ww = headers[:, 4].astype(np.int64) | (headers[:, 5].astype(np.int64) << 8)
        hh = headers[:, 6].astype(np.int64) | (headers[:, 7].astype(np.int64) << 8)

        is_rawq = has_header & (
            (magic_u32 == _MAGIC_VALS[codec.MAGIC_RAW])
            | (magic_u32 == _MAGIC_VALS[codec.MAGIC_QNT])
        )
        is_jpeg = has_header & (magic_u32 == _MAGIC_VALS[codec.MAGIC_JPEG])
        bad_magic = has_header & ~is_rawq & ~is_jpeg
        reason_code[bad_magic] = 3
        plausible = (ww > 0) & (hh > 0) & (ww <= 16384) & (hh <= 16384)
        size_ok = lengths - 8 == ww * hh
        bad_size = is_rawq & (~plausible | ~size_ok)
        reason_code[bad_size] = 2
        good_rawq = is_rawq & plausible & size_ok
        # jpeg payload: int16 DCT coefficients of the 8-padded dims
        pw8 = ((ww + 7) // 8) * 8
        phh8 = ((hh + 7) // 8) * 8
        jsize_ok = lengths - 8 == pw8 * phh8 * 2
        bad_jsize = is_jpeg & (~plausible | ~jsize_ok)
        reason_code[bad_jsize] = 2
        good_jpeg = is_jpeg & plausible & jsize_ok

        failed = ~has_header | bad_magic | bad_size | bad_jsize
        decode_ok[failed] = False
        dims_ok[failed] = False

        # group good raw/qnt rows by (magic, w, h) and digest as stacks
        if good_rawq.any():
            gi = np.flatnonzero(good_rawq)
            key = (magic_u32[gi] << 34) | (ww[gi] << 17) | hh[gi]
            order = np.argsort(key, kind="stable")
            gi = gi[order]
            key = key[order]
            bounds = np.flatnonzero(np.concatenate(([True], key[1:] != key[:-1])))
            bounds = np.append(bounds, len(gi))
            for b0, b1 in zip(bounds[:-1], bounds[1:]):
                idxs = gi[b0:b1]
                g = len(idxs)
                w = int(ww[idxs[0]])
                h = int(hh[idxs[0]])
                try:
                    # per-row slice memcpy, NOT a fancy-index gather:
                    # an int64 index matrix costs 8 bytes of index
                    # traffic per 1-byte pixel (9x total bus traffic) —
                    # on this bandwidth-starved guest VM that gather
                    # was the hottest load in the decode kernel. The
                    # g-iteration Python loop is pure memcpy (~1 us/row)
                    stack = _scratch("dd_stack", (g, h, w), np.uint8)
                    flat_dst = stack.reshape(g, h * w)
                    for kk in range(g):
                        st = starts[idxs[kk]] + 8
                        flat_dst[kk] = data[st : st + w * h]
                    if magic_u32[idxs[0]] == _MAGIC_VALS[codec.MAGIC_QNT]:
                        t16 = _scratch("dd_u16", (g, h, w), np.uint16)
                        np.left_shift(
                            stack, codec.QNT_SHIFT, out=t16,
                            casting="unsafe",
                        )
                        t16 += 1 << (codec.QNT_SHIFT - 1)
                        np.minimum(t16, 255, out=t16)
                        np.copyto(stack, t16, casting="unsafe")
                    ph, fv, _ = _digest_same_shape(stack)
                except Exception:
                    # malformed-but-plausible group: a row verdict,
                    # never a task failure (module contract)
                    decode_ok[idxs] = False
                    dims_ok[idxs] = False
                    reason_code[idxs] = 4
                    continue
                phash_dec[idxs] = ph
                dims_ok[idxs] = (meta_h[idxs] == h) & (meta_w[idxs] == w)
                feat_mat[idxs] = fv

        # jpeg rows: same shape-grouped stack strategy, with the
        # block-DCT inverse vectorized across the whole group
        if good_jpeg.any():
            gi = np.flatnonzero(good_jpeg)
            key = (ww[gi] << 17) | hh[gi]
            order = np.argsort(key, kind="stable")
            gi = gi[order]
            key = key[order]
            bounds = np.flatnonzero(np.concatenate(([True], key[1:] != key[:-1])))
            bounds = np.append(bounds, len(gi))
            D = codec._DCT8
            for b0, b1 in zip(bounds[:-1], bounds[1:]):
                idxs = gi[b0:b1]
                g = len(idxs)
                w = int(ww[idxs[0]])
                h = int(hh[idxs[0]])
                pw, ph_ = int(pw8[idxs[0]]), int(phh8[idxs[0]])
                npx = pw * ph_
                try:
                    # per-row memcpy instead of an int64 gather — same
                    # 9x-bus-traffic rationale as the raw/qnt path
                    raw = _scratch("dd_raw", (g, npx * 2), np.uint8)
                    for kk in range(g):
                        st = starts[idxs[kk]] + 8
                        raw[kk] = data[st : st + npx * 2]
                    coeffs = _scratch("dd_coef", (g, npx), np.float64)
                    np.multiply(
                        raw.view("<i2"), float(codec.JPEG_Q), out=coeffs
                    )
                    # inverse DCT per the format contract
                    # (image_codec.CONTRACT_IDCT): (D.T @ B) @ D over an
                    # (n, 8, 8) block stack — bit-identical to the scalar
                    # decode and the planted oracle for any batch size,
                    # ~11x the einsum form it replaced
                    blocks = _scratch("dd_blk", (g * (ph_ // 8) * (pw // 8), 8, 8), np.float64)
                    np.copyto(
                        blocks.reshape(g, ph_ // 8, pw // 8, 8, 8),
                        coeffs.reshape(g, ph_ // 8, 8, pw // 8, 8).transpose(0, 1, 3, 2, 4),
                    )
                    tmp = _scratch("dd_tmp", blocks.shape, np.float64)
                    np.matmul(D.T, blocks, out=tmp)
                    np.matmul(tmp, D, out=blocks)
                    img = _scratch("dd_img", (g, npx), np.float64)
                    np.copyto(
                        img.reshape(g, ph_ // 8, 8, pw // 8, 8),
                        blocks.reshape(g, ph_ // 8, pw // 8, 8, 8).transpose(0, 1, 3, 2, 4),
                    )
                    np.rint(img, out=img)
                    np.clip(img, 0, 255, out=img)
                    stack = _scratch("dd_jstack", (g, h, w), np.uint8)
                    np.copyto(
                        stack,
                        img.reshape(g, ph_, pw)[:, :h, :w],
                        casting="unsafe",
                    )
                    ph, fv, _ = _digest_same_shape(stack)
                except Exception:
                    decode_ok[idxs] = False
                    dims_ok[idxs] = False
                    reason_code[idxs] = 4
                    continue
                phash_dec[idxs] = ph
                dims_ok[idxs] = (meta_h[idxs] == h) & (meta_w[idxs] == w)
                feat_mat[idxs] = fv

        phash_ok = decode_ok & (phash_dec == stored_phash)
        reasons = np.array(["", "decode:truncated header",
                            "decode:payload size mismatch",
                            "decode:unknown magic",
                            "decode:digest error",
                            "decode:null bytes"])[reason_code]

        ok_mask = decode_ok
        flat = feat_mat[ok_mask].ravel()
        list_offsets = np.zeros(n + 1, dtype=np.int32)
        list_offsets[1:] = np.cumsum(ok_mask.astype(np.int32) * (2 + N_HIST_BINS))
        features_arr = pa.ListArray.from_arrays(
            pa.array(list_offsets),
            pa.array(flat, type=pa.float64()),
            mask=pa.array(~ok_mask),  # failed rows -> null, not []
        )
        yield pa.RecordBatch.from_arrays(
            [
                cols["image_id"],
                cols["fmt"],
                cols["caption"],
                cols["ordinal"],
                cols["w"],
                cols["h"],
                # byte lengths fall out of the offsets already in hand —
                # carrying them lets the validator's size stats aggregate
                # the (persisted, narrow) digest rows instead of
                # re-scanning the full bytes column. Null payloads emit
                # NULL (not 0) so size stats match the F.length
                # convention the validator previously aggregated
                # (ADVICE r2).
                pa.array(lengths, mask=null_mask),
                pa.array(decode_ok),
                pa.array(dims_ok),
                pa.array(phash_ok),
                pa.array(phash_dec),
                cols["phash"],
                pa.array(reasons),
                features_arr,
            ],
            schema=out_schema,
        )



def decode_digests(images: DataFrame, ordinal_col: str | None = None) -> DataFrame:
    """Map-only decode pass: structural checks + perceptual digest +
    drift features per row. The heavy ``bytes`` column NEVER shuffles —
    this stage runs on the scan partitions and only its (tiny) digest rows
    flow downstream. This is the load-bearing dataflow decision for the
    10^12-row shape: one decode, zero byte-shuffles.

    Runs as ``mapInArrow``: the binary column is consumed directly from
    the Arrow buffers (offsets + one contiguous data buffer) — no Python
    bytes objects, no pandas conversion. Header fields parse as one
    vectorized gather; same-shape groups digest as one 3-D NumPy stack for
    every codec (raw/qnt payload view, jpeg whole-group inverse DCT).

    For parquet-backed tables prefer ``decode_digests_parquet``: Spark's
    mapInArrow input path rebuilds Arrow batches row-by-row from
    InternalRows, which for an opaque multi-KB binary column costs ~3x the
    JVM scan itself (measured 34 s per 1.1 GB per core vs 13 s scan —
    BENCH.md round 3); the payload-local scan path skips that hop.
    """
    df = images
    if ordinal_col is None:
        df = df.withColumn(
            "_ord", F.regexp_extract("image_id", r"(\d+)$", 1).cast("long")
        )
        ordinal_col = "_ord"
    df = df.select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
        F.col(ordinal_col).alias("ordinal"),
    )
    return df.mapInArrow(_digest_kernel, DIGEST_SCHEMA)


def decode_digests_parquet(
    spark, path: str, batch_rows: int = 8192, splits_per_task: int | None = None
) -> DataFrame:
    """Payload-local decode: Spark schedules (file, row-group) splits and
    each Python task reads its row groups straight from parquet with
    pyarrow, feeding the same ``_digest_kernel``. Bit-identical output to
    ``decode_digests`` over the same table (parity-tested), but the
    multi-KB ``bytes`` payloads never cross the JVM boundary: Spark's
    mapInArrow input path re-materializes Arrow batches row-by-row from
    InternalRows, which costs ~3x the columnar scan itself for opaque
    binary columns (measured at 1 CPU on a 1.1 GB/300k-image table: JVM
    scan 13.1 s, scan + IPC into Python 46.8 s, decode kernel 16 s —
    BENCH.md round 3). At the 10^12-row shape the scan is object-store
    I/O with no JVM locality to lose — workers reading their own splits
    is the standard columnar-lake pattern; for an Iceberg table the split
    list would come from the snapshot's manifest files instead of footer
    enumeration (sources/tables.py seam).

    Driver cost is metadata-only (one footer read per file). The split
    list is hash-distributed over ``len(splits)`` tasks; row-group
    granularity bounds task memory by the writer's row-group size.
    """
    import glob as _glob

    import pyarrow.parquet as _pq

    files = sorted(_glob.glob(os.path.join(path, "*.parquet"))) or sorted(
        # partitioned/nested layouts (hive-style dirs); partition-encoded
        # columns are not reconstructed — this table keeps all columns
        # in-file by schema
        _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    if not files:
        raise ValueError(f"no parquet files under {path}")
    splits = []
    for f in files:
        meta = _pq.ParquetFile(f).metadata
        splits.extend((f, rg) for rg in range(meta.num_row_groups))
    # round-robin repartition: hashing (path, rg) into len(splits)
    # partitions would leave ~1/e of tasks empty and give stragglers 2-3
    # row groups (measured +15% stage wall); round-robin places exactly
    # splits_per_task splits per task
    if splits_per_task is None:
        # Bin-pack splits into ~4 waves per core: every Python task pays a
        # fixed runner handshake (~0.16 s on this guest, measured with an
        # identity mapInArrow — payload-independent), so one task per row
        # group is right only when row groups are written at the production
        # ~128 MB target. Small-file tables (the sandbox generator writes
        # 781-row groups) would otherwise serialize 128 x 0.16 s of pure
        # handshake at 1 CPU — 6x the kernel itself. Four waves keeps skew
        # headroom; an explicit splits_per_task overrides (tests pin it).
        par = max(spark.sparkContext.defaultParallelism, 1)
        n_tasks = max(1, min(len(splits), 4 * par))
    else:
        n_tasks = max(1, len(splits) // max(splits_per_task, 1))
    sdf = spark.createDataFrame(splits, "path string, rg int").repartition(n_tasks)

    cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]

    def scan(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        for rb in batches:
            paths = rb.column(0).to_pylist()
            rgs = rb.column(1).to_pylist()
            for fp, rg in zip(paths, rgs):
                tbl = pq.ParquetFile(fp).read_row_group(rg, columns=cols)
                # ordinal from trailing digits of image_id — the same
                # regexp_extract(...).cast("long") the DataFrame path
                # applies JVM-side (no match -> null on both paths).
                # Overflow parity (ADVICE r3): pc.cast raises on a >19-digit
                # ordinal, and so does the DataFrame path — the session
                # runs ANSI mode (spark.sql.ansi.enabled=true, Spark 4
                # default), where CAST_INVALID_INPUT fails the task the
                # same way. Both paths fail loudly; neither nulls.
                ids = tbl.column("image_id").combine_chunks()
                ord_ = pc.cast(
                    pc.struct_field(
                        pc.extract_regex(ids, r"(?P<o>\d+)$"), "o"
                    ),
                    pa.int64(),
                )
                tbl = tbl.append_column("ordinal", ord_)
                yield from _digest_kernel(
                    tbl.combine_chunks().to_batches(max_chunksize=batch_rows)
                )

    return sdf.mapInArrow(scan, DIGEST_SCHEMA)


def _decode_rows(vals: np.ndarray) -> list[np.ndarray | None]:
    """Shape-grouped vectorized decode of a column of image payloads:
    returns per-row uint8 (h, w) arrays (None for malformed rows — the
    same failure taxonomy as ``decode_digests``). Per-row Python is
    limited to header parsing and one memcpy; dequantization and the
    jpeg inverse block-DCT run vectorized per same-shape group with the
    exact arithmetic of ``codec.decode`` (bit-identical pixels)."""
    n = len(vals)
    out: list[np.ndarray | None] = [None] * n
    groups: dict[tuple[int, int, int], list[int]] = {}
    for i in range(n):
        v = vals[i]
        if v is None or len(v) < 8:
            continue
        head = np.frombuffer(v[:8] if isinstance(v, (bytes, bytearray)) else bytes(v[:8]), dtype=np.uint8)
        magic = int(head[:4].view("<u4")[0])
        w = int(head[4]) | (int(head[5]) << 8)
        h = int(head[6]) | (int(head[7]) << 8)
        if not (0 < w <= 16384 and 0 < h <= 16384):
            continue
        if magic in (_MAGIC_VALS[codec.MAGIC_RAW], _MAGIC_VALS[codec.MAGIC_QNT]):
            if len(v) - 8 != w * h:
                continue
        elif magic == _MAGIC_VALS[codec.MAGIC_JPEG]:
            pw8, ph8 = -(-w // 8) * 8, -(-h // 8) * 8
            if len(v) - 8 != pw8 * ph8 * 2:
                continue
        else:
            continue
        groups.setdefault((magic, w, h), []).append(i)
    for (magic, w, h), idxs in groups.items():
        g = len(idxs)
        if magic == _MAGIC_VALS[codec.MAGIC_JPEG]:
            pw8, ph8 = -(-w // 8) * 8, -(-h // 8) * 8
            coeffs = np.empty((g, ph8 * pw8), dtype=np.float64)
            for k, i in enumerate(idxs):
                raw = np.frombuffer(vals[i], dtype="<i2", offset=8)
                np.multiply(raw, float(codec.JPEG_Q), out=coeffs[k])
            # inverse DCT per the format contract (image_codec.CONTRACT_IDCT):
            # the (D.T @ B) @ D association over the (n, 8, 8) block stack —
            # the einsum contraction this replaces computes the same values
            # but through a different float summation order, so only the
            # dgemm form is guaranteed bit-identical to codec.decode and the
            # batched digest kernel (psnr/pixels_equal here must see exactly
            # the digest path's pixels)
            D = codec._DCT8
            blocks = np.ascontiguousarray(
                coeffs.reshape(g, ph8 // 8, 8, pw8 // 8, 8).transpose(0, 1, 3, 2, 4)
            ).reshape(-1, 8, 8)
            img = (
                (D.T @ blocks @ D)
                .reshape(g, ph8 // 8, pw8 // 8, 8, 8)
                .transpose(0, 1, 3, 2, 4)
                .reshape(g, ph8, pw8)
            )
            np.rint(img, out=img)
            np.clip(img, 0, 255, out=img)
            stack = img[:, :h, :w].astype(np.uint8)
        else:
            stack = np.empty((g, h, w), dtype=np.uint8)
            for k, i in enumerate(idxs):
                stack[k] = np.frombuffer(
                    vals[i], dtype=np.uint8, offset=8
                ).reshape(h, w)
            if magic == _MAGIC_VALS[codec.MAGIC_QNT]:
                t16 = stack.astype(np.uint16)
                t16 <<= codec.QNT_SHIFT
                t16 += 1 << (codec.QNT_SHIFT - 1)
                np.minimum(t16, 255, out=t16)
                stack = t16.astype(np.uint8)
        for k, i in enumerate(idxs):
            out[i] = stack[k]
    return out


def psnr_verify(images: DataFrame, reference: DataFrame, ids: DataFrame) -> DataFrame:
    """Targeted full-fidelity pass for rows whose digest disagreed with the
    reference: joins the actual bytes for ONLY those ids (semi-join prunes
    the scan) and computes exact PSNR / equality. At 10^12 rows this
    touches the tiny disagreement set, not the table.

    Output is UNIQUE per image_id: the reference side is deduped to the
    same truth row ``row_checks_and_features`` elects (min by
    (ref_phash, ref_caption)), and when several claimant rows share one
    image_id (an id-uniqueness violation in its own right) the verdict is
    the worst case across claimants (min psnr, AND of equality) — so the
    join back to the digest rows never fans out and per-partition counts
    stay exact.
    """
    subset = images.join(F.broadcast(ids), "image_id", "left_semi").select(
        "image_id", "bytes"
    )
    ref = (
        reference.join(F.broadcast(ids), "image_id", "left_semi")
        .groupBy("image_id")
        .agg(
            # md5(ref_bytes) breaks ties when duplicate reference rows
            # share (ref_phash, ref_caption) but carry different bytes —
            # without it min_by picks nondeterministically and psnr /
            # pixels_equal could vary run-to-run (ADVICE r2). The digest
            # election in row_checks_and_features orders by the same
            # (ref_phash, ref_caption) prefix and only consumes those two
            # columns, so tied rows are indistinguishable there and the
            # two elections stay consistent.
            F.min_by(
                "ref_bytes",
                F.struct("ref_phash", "ref_caption", F.md5("ref_bytes")),
            ).alias("ref_bytes")
        )
    )
    joined = subset.join(ref, "image_id", "left")

    # Batched kernel (not per-row): decode both sides via the shape-grouped
    # vectorized path and reduce PSNR/equality per same-shape pair group.
    # The disagreement set is normally tiny, but an adversarial reference
    # (e.g. a corrupted snapshot routing EVERY row here) must not degrade
    # to per-row Python — tested in
    # tests/test_image_validator.py::test_full_disagreement_psnr_is_batched.
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            a_px = _decode_rows(pdf["bytes"].to_numpy())
            r_px = _decode_rows(pdf["ref_bytes"].to_numpy())
            p = np.zeros(n, dtype=np.float64)
            eq = np.zeros(n, dtype=bool)
            by_shape: dict[tuple[int, int], list[int]] = {}
            for i in range(n):
                a, r = a_px[i], r_px[i]
                # undecodable either side, or shape mismatch -> (0, False),
                # identical to the scalar codec.decode/codec.psnr outcome
                if a is not None and r is not None and a.shape == r.shape:
                    by_shape.setdefault(a.shape, []).append(i)
            for shape, idxs in by_shape.items():
                g = len(idxs)
                h, w = shape
                A = _scratch("pv_a", (g, h, w), np.float64)
                B = _scratch("pv_b", (g, h, w), np.float64)
                for k, i in enumerate(idxs):
                    np.copyto(A[k], a_px[i], casting="unsafe")
                    np.copyto(B[k], r_px[i], casting="unsafe")
                A -= B
                np.multiply(A, A, out=A)
                # per-row mean over the contiguous h*w block — the same
                # reduction codec.psnr performs on one image
                mse = A.reshape(g, h * w).mean(axis=1)
                ii = np.array(idxs)
                eq[ii] = mse == 0.0
                with np.errstate(divide="ignore"):
                    p[ii] = np.where(
                        mse == 0.0, np.inf, 10.0 * np.log10(255.0 * 255.0 / mse)
                    )
            yield pd.DataFrame(
                {"image_id": pdf["image_id"], "psnr": p, "pixels_equal": eq}
            )

    return (
        joined.mapInPandas(run, PSNR_SCHEMA)
        .groupBy("image_id")
        .agg(
            F.min("psnr").alias("psnr"),
            F.bool_and("pixels_equal").alias("pixels_equal"),
        )
    )


def row_checks_and_features(
    images: DataFrame,
    reference: DataFrame | None = None,
    ordinal_col: str | None = None,
    persist_digests: bool = True,
    payload_path: str | None = None,
    persisted_out: list | None = None,
) -> DataFrame:
    """Row checks AND drift features — digest-first dataflow.

    ``persist_digests`` caches two narrow intermediates (decoded digests,
    elected reference digests) at MEMORY_AND_DISK for the lifetime of the
    session — repeated calls in a long-lived session accumulate cache
    entries. Pass ``persisted_out`` (a list) to receive the persisted
    DataFrames; after materializing every sink built on the output, call
    ``.unpersist()`` on each to release them (ADVICE r4).

    1. ``decode_digests``: map-only decode of every row (no byte shuffle);
    2. digest rows join the reference digests (ref_phash, ref_caption) —
       a narrow-row join;
    3. rows whose decoded phash disagrees with the reference digest get the
       exact PSNR re-verification via ``psnr_verify`` (rare set);
       phash-agreeing rows pass the pixel invariant by digest agreement
       (avg-hash equality; collisions are re-checked only in the exact
       path, a documented approximation of "allclose" — the reference's
       own LSH variants make the same sketch-then-verify trade,
       /root/reference/src/core/lsh/LSHIndex.java:33-44).

    Output columns, with or without ``reference``: image_id, fmt, w, h,
    n_bytes, decode_ok, dims_ok, phash_ok, pixels_ok, caption_ok, psnr,
    is_violation, reason, phash, ordinal, features; ``psnr`` is NaN where
    the digest agreed (not computed).

    ``payload_path`` requires ``images`` to be the UNFILTERED read of that
    parquet directory (digests come from the raw files; a filtered or
    projected DataFrame would silently disagree) and is mutually exclusive
    with ``ordinal_col``.
    """
    # payload_path: the input is a parquet directory — take the
    # payload-local scan (bytes never cross the JVM; see
    # decode_digests_parquet). `images` still backs the psnr_verify
    # disagreement subset, where the JVM semi-join prunes rows before IPC.
    # The scan reads the RAW files, so it cannot honor a custom ordinal
    # column or any filter/projection applied to `images` — refuse the
    # combination instead of silently digesting excluded rows (ADVICE r3).
    if payload_path is not None:
        if ordinal_col is not None:
            raise ValueError(
                "payload_path digests come from the raw parquet files and "
                "ignore ordinal_col; pass one or the other"
            )
        digests = decode_digests_parquet(images.sparkSession, payload_path)
    else:
        digests = decode_digests(images, ordinal_col)
    if persist_digests and reference is not None:
        # the digest stage feeds BOTH the disagreement broadcast and the
        # main output — without a persist the decode pass would run twice
        from pyspark import StorageLevel

        digests = digests.persist(StorageLevel.MEMORY_AND_DISK)
        if persisted_out is not None:
            persisted_out.append(digests)
    if reference is None:
        return digests.select(
            "image_id",
            "fmt",
            "w",
            "h",
            "n_bytes",
            "decode_ok",
            "dims_ok",
            "phash_ok",
            F.lit(True).alias("pixels_ok"),
            F.lit(True).alias("caption_ok"),
            F.lit(float("nan")).alias("psnr"),
            (~F.col("decode_ok") | ~F.col("dims_ok") | ~F.col("phash_ok")).alias(
                "is_violation"
            ),
            F.col("decode_reason").alias("reason"),
            "phash",
            "ordinal",
            "features",
        )

    # One truth row per image_id, elected deterministically (min by
    # (ref_phash, ref_caption)): a reference snapshot carrying duplicate
    # image_ids would otherwise fan this join out and inflate every
    # downstream count. Column pruning keeps ref_bytes out of this
    # narrow-row aggregation; psnr_verify elects the SAME row for its
    # exact pass.
    ref_digest = (
        reference.groupBy("image_id")
        .agg(F.min(F.struct("ref_phash", "ref_caption")).alias("_t"))
        .select(
            "image_id",
            F.col("_t.ref_caption").alias("_ref_caption"),
            F.col("_t.ref_phash").alias("_ref_phash"),
        )
    )
    if persist_digests:
        # the election result appears up to FOUR times in the assembled
        # physical plan: the main digest join, plus every re-evaluation of
        # `disagreed` (psnr_verify broadcasts those ids on both of its
        # semi-join legs, and each broadcast subtree embeds base = digests
        # JOIN ref_digest). Unpersisted, each instance re-runs the
        # reference scan + the per-id SortAggregate (min(struct) is not
        # hash-aggregable — the group sort runs per recompute). The
        # elected rows are narrow (id, caption, phash): MEMORY_AND_DISK
        # like the digest stage.
        from pyspark import StorageLevel

        ref_digest = ref_digest.persist(StorageLevel.MEMORY_AND_DISK)
        if persisted_out is not None:
            persisted_out.append(ref_digest)
    base = (
        digests.join(ref_digest, "image_id", "left")
        .withColumn("_has_ref", F.col("_ref_phash").isNotNull())
        .withColumn(
            "_digest_match", F.col("phash_dec") == F.col("_ref_phash")
        )
    )
    disagreed = base.where(
        F.col("_has_ref") & F.col("decode_ok") & ~F.col("_digest_match")
    ).select("image_id").distinct()
    verified = psnr_verify(images, reference, disagreed)

    out = base.join(verified, "image_id", "left")
    lossless = F.col("fmt") == "raw"
    pixels_ok = F.when(~F.col("_has_ref"), F.lit(False)).otherwise(
        F.when(~F.col("decode_ok"), F.lit(False)).otherwise(
            F.when(F.col("_digest_match"), F.lit(True)).otherwise(
                F.when(lossless, F.coalesce("pixels_equal", F.lit(False))).otherwise(
                    F.coalesce(F.col("psnr") >= F.lit(PSNR_MIN_DB), F.lit(False))
                )
            )
        )
    )
    caption_ok = F.when(~F.col("_has_ref"), F.lit(False)).otherwise(
        F.col("caption") == F.col("_ref_caption")
    )
    is_violation = (
        ~F.col("decode_ok")
        | ~F.col("dims_ok")
        | ~F.col("phash_ok")
        | ~pixels_ok
        | ~caption_ok
    )
    reason = F.concat_ws(
        ",",
        F.when(F.col("decode_reason") != "", F.col("decode_reason")),
        F.when(~F.col("dims_ok") & F.col("decode_ok"), F.lit("dims")),
        F.when(~F.col("phash_ok") & F.col("decode_ok"), F.lit("phash")),
        F.when(~F.col("_has_ref"), F.lit("no_reference")),
        F.when(F.col("_has_ref") & ~pixels_ok & F.col("decode_ok"), F.lit("pixels")),
        F.when(F.col("_has_ref") & ~caption_ok, F.lit("caption")),
    )
    return out.select(
        "image_id",
        "fmt",
        "w",
        "h",
        "n_bytes",
        "decode_ok",
        "dims_ok",
        "phash_ok",
        pixels_ok.alias("pixels_ok"),
        caption_ok.alias("caption_ok"),
        F.coalesce("psnr", F.lit(float("nan"))).alias("psnr"),
        is_violation.alias("is_violation"),
        reason.alias("reason"),
        "phash",
        "ordinal",
        "features",
    )
