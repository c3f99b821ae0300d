"""Pure numpy kernels for RaBitQ-style quantization, rotation, and distance
estimation.

This module is the "bit math" core of the engine: everything here is plain
numpy over batched matrices, so the same functions run on the driver (for
centroid trees / query LUTs) and inside Arrow-batched pandas UDFs on
executors (for encode / rough-score jobs).

Semantics re-expressed from the reference implementation (formulas only, no
code reuse):

- random rotation (4 rounds of sign-flip + fast Walsh-Hadamard + Kac's walk
  for non-power-of-2 dims): /root/reference/crates/rabitq/src/rotate.rs:46-138
- deterministic sign-flip bit table = ChaCha12 stream, seed [7;32] (public
  djb/RFC-8439-family algorithm): /root/reference/crates/rabitq/build.rs:19-31
- 1-bit code + metadata {dis_u_2, factor_cnt, factor_ip, factor_err}:
  /root/reference/crates/rabitq/src/bit.rs:68-124
- 6-bit query LUT + rough/err estimators (incl. residual variants):
  /root/reference/crates/rabitq/src/bit.rs:126-347
- residual delta correction: /root/reference/crates/vchordrq/src/operator.rs:510-611
- extended 4/8-bit lattice codes ("rabitq8"/"rabitq4") and their pairwise
  distance estimators: /root/reference/crates/rabitq/src/extended.rs:49-257
- scalar quantization helper: /root/reference/crates/simd/src/quantize.rs:307-313
"""

from __future__ import annotations

import numpy as np

_BLAS_LIMITED = False


def limit_blas_threads(n: int = 1) -> bool:
    """Cap OpenBLAS threads at runtime (idempotent; returns success).

    Executor Python workers MUST run BLAS single-threaded: each worker's
    GEMMs are small but numerous, and OpenBLAS's extra threads busy-spin
    between them — measured on this 32-core container, 32 workers x
    2-thread OpenBLAS aggregate 66.7k rotate-rows/s at 768d vs 444.6k
    rows/s with 1 thread each (6.7x; docs/SCALE.md). Parallelism across
    workers is Spark's job, not BLAS's. Called automatically in worker
    processes by the package __init__; the driver keeps its default BLAS
    threading (its k-means GEMMs are large and run while executors idle).

    Uses the runtime openblas_set_num_threads entry point of the BLAS
    numpy actually loaded (env vars are read only at library init, far
    too early to set from here)."""
    global _BLAS_LIMITED
    if _BLAS_LIMITED:
        return True
    if set_blas_threads(n) is not None:
        _BLAS_LIMITED = True
        return True
    return False


_OPENBLAS_HANDLE: "object | None | bool" = False  # False = not yet probed


def _openblas() -> "object | None":
    global _OPENBLAS_HANDLE
    if _OPENBLAS_HANDLE is not False:
        return _OPENBLAS_HANDLE
    import ctypes
    import glob
    import os

    lib_dirs = [
        os.path.abspath(
            os.path.join(os.path.dirname(np.__file__), "..", "numpy.libs")
        ),
        "/usr/local/lib",
        "/usr/lib",
    ]
    _OPENBLAS_HANDLE = None
    for d in lib_dirs:
        for so in sorted(glob.glob(os.path.join(d, "libopenblas*.so*"))):
            try:
                lib = ctypes.CDLL(so)  # dlopen dedups: same handle numpy holds
            except OSError:
                continue
            if any(
                getattr(lib, s, None) is not None
                for s in ("openblas_set_num_threads64_", "openblas_set_num_threads")
            ):
                _OPENBLAS_HANDLE = lib
                return lib
    return _OPENBLAS_HANDLE


def set_blas_threads(n: int) -> "int | None":
    """Set the OpenBLAS thread count; returns the PREVIOUS count (so a
    caller can scope the change), or None when no runtime entry point is
    found (non-OpenBLAS numpy — callers must treat the change as a no-op).

    Used by the driver k-means to pin per-cell Lloyd runs to one BLAS
    thread while a Python thread pool provides the parallelism across
    cells: small-matrix GEMMs gain nothing from BLAS threads (see
    limit_blas_threads), and 1-thread BLAS makes each cell's float
    reduction order independent of the pool width."""
    lib = _openblas()
    if lib is None:
        return None
    prev = None
    for sym in ("openblas_get_num_threads64_", "openblas_get_num_threads"):
        fn = getattr(lib, sym, None)
        if fn is not None:
            prev = int(fn())
            break
    for sym in ("openblas_set_num_threads64_", "openblas_set_num_threads"):
        fn = getattr(lib, sym, None)
        if fn is not None:
            fn(int(n))
            return prev if prev is not None else 0
    return None


__all__ = [
    "rotate",
    "rotate_inverse",
    "prep_queries",
    "bit_code",
    "pack_bits",
    "unpack_bits",
    "binary_lut",
    "rough_l2",
    "rough_dot",
    "residual_delta_l2",
    "residual_delta_dot",
    "extended_code",
    "extended_distance",
    "extended_dequantize",
    "exact_distances",
    "fold_distances",
]

# ---------------------------------------------------------------------------
# ChaCha12 keystream → deterministic sign-flip bit tables
# ---------------------------------------------------------------------------

_N_BYTES = 262144  # 4 tables x 8192 bytes x 8 bits = 4 x 65536 flip masks


def _chacha12_words(n_words: int, seed_byte: int = 7) -> np.ndarray:
    """ChaCha12 keystream as uint32 words (vectorized across blocks).

    Key = 32 copies of ``seed_byte``; 64-bit block counter starting at 0;
    nonce = 0. Standard djb ChaCha constants and quarter-round.
    """
    n_blocks = -(-n_words // 16)
    consts = np.array([0x61707865, 0x3320646E, 0x79622D32, 0x6B206574], np.uint32)
    key = np.frombuffer(bytes([seed_byte]) * 32, dtype="<u4")
    ctr = np.arange(n_blocks, dtype=np.uint64)

    state = np.zeros((16, n_blocks), np.uint32)
    state[0:4] = consts[:, None]
    state[4:12] = key[:, None]
    state[12] = (ctr & np.uint64(0xFFFFFFFF)).astype(np.uint32)
    state[13] = (ctr >> np.uint64(32)).astype(np.uint32)

    w = state.copy()

    def rotl(x: np.ndarray, c: int) -> np.ndarray:
        return (x << np.uint32(c)) | (x >> np.uint32(32 - c))

    def quarter(a: int, b: int, c: int, d: int) -> None:
        w[a] += w[b]
        w[d] = rotl(w[d] ^ w[a], 16)
        w[c] += w[d]
        w[b] = rotl(w[b] ^ w[c], 12)
        w[a] += w[b]
        w[d] = rotl(w[d] ^ w[a], 8)
        w[c] += w[d]
        w[b] = rotl(w[b] ^ w[c], 7)

    for _ in range(6):  # 12 rounds = 6 double-rounds
        quarter(0, 4, 8, 12)
        quarter(1, 5, 9, 13)
        quarter(2, 6, 10, 14)
        quarter(3, 7, 11, 15)
        quarter(0, 5, 10, 15)
        quarter(1, 6, 11, 12)
        quarter(2, 7, 8, 13)
        quarter(3, 4, 9, 14)

    out = (w + state).T.reshape(-1)  # block-major word order
    return out[:n_words]


_FLIP_MASKS: np.ndarray | None = None


def _flip_masks() -> np.ndarray:
    """(4, 65536) bool: round-k sign-flip mask for vector element j."""
    global _FLIP_MASKS
    if _FLIP_MASKS is None:
        # rand's u8 sampling takes the low byte of each u32 keystream word
        raw = (_chacha12_words(_N_BYTES) & np.uint32(0xFF)).astype(np.uint8)
        # the reference generates 262144 bytes but only the first 4 tables of
        # 8192 bytes (= 1024 u64 words = 65536 bits) each are consumed
        _FLIP_MASKS = np.unpackbits(
            raw[: 4 * 8192].reshape(4, 8192), axis=1, bitorder="little"
        ).astype(bool)
    return _FLIP_MASKS


# ---------------------------------------------------------------------------
# Random rotation (orthogonal; deterministic; invertible)
# ---------------------------------------------------------------------------


_FLIP_SIGNS_CACHE: dict[tuple[int, int], np.ndarray] = {}


def _flip_signs(k: int, n: int) -> np.ndarray:
    """Round-k flip mask as a length-n float32 ±1 vector (see flip())."""
    key = (k, n)
    s = _FLIP_SIGNS_CACHE.get(key)
    if s is None:
        s = np.where(_flip_masks()[k][:n], np.float32(-1.0), np.float32(1.0))
        _FLIP_SIGNS_CACHE[key] = s
    return s


_HADAMARD_CACHE: dict[int, np.ndarray] = {}


def _hadamard(p: int) -> np.ndarray:
    """Unnormalized 2^p x 2^p Hadamard matrix (f32, Sylvester order)."""
    H = _HADAMARD_CACHE.get(p)
    if H is None:
        H = np.array([[1.0]], np.float32)
        for _ in range(p):
            H = np.block([[H, H], [H, -H]]).astype(np.float32)
        _HADAMARD_CACHE[p] = H
    return H


def _fht_inplace(mat: np.ndarray) -> np.ndarray:
    """In-place unnormalized Walsh-Hadamard over the last axis (f32).

    Blocked GEMM formulation: 5 butterfly stages at a time are fused into
    one multiply by H_32 (H_{2^p} = ⊗ H_32 factors), so the transform is
    ~log2(n)/5 BLAS passes instead of log2(n) strided butterfly stages —
    the stride-1/stride-2 stages of the naive loop are cache-hostile and
    dominated encode cost at 768d. Accumulation is re-associated within
    each 32-element group relative to the sequential butterfly (results
    differ in the last float bits, deterministically); k ≤ 32 keeps each
    output element a single sequential BLAS accumulation, so results are
    independent of the batch size m.
    """
    m, n = mat.shape
    p = int(n).bit_length() - 1
    done = 0
    while done < p:
        f = min(5, p - done)
        blk = 1 << f
        inner = 1 << done
        H = _hadamard(f)
        if inner == 1:
            x = mat.reshape(-1, blk)
            # no out=x: an aliased matmul forces numpy's buffered slow path
            x[:] = x @ H
        else:
            # butterfly over bit-group [done, done+f): bring that axis
            # last, one GEMM, restore
            a = mat.reshape(m, -1, blk, inner)
            y = np.ascontiguousarray(a.transpose(0, 1, 3, 2)).reshape(-1, blk)
            y = y @ H
            a[:] = y.reshape(m, -1, inner, blk).transpose(0, 1, 3, 2)
        done += f
    return mat


_SQRT_HALF = np.float32(1.0) / np.sqrt(np.float32(2.0))


def _kacs_walk(mat: np.ndarray) -> None:
    n = mat.shape[1]
    m2 = n // 2
    left = mat[:, :m2].copy()
    right = mat[:, n - m2 :].copy()
    mat[:, :m2] = (left + right) * _SQRT_HALF
    mat[:, n - m2 :] = (left - right) * _SQRT_HALF


#: Row-tile for batch rotation. The FHT+Kac's-walk rounds make ~50
#: strided passes over the matrix; a whole Arrow batch (e.g. 7813×768×4B
#: = 24 MB) blows every cache level, and with 32 concurrent executor
#: workers the node goes DRAM-bound: measured 6.2k rows/s/worker at
#: 768d. A 256-row tile (768 KB — L2-resident) measures 46k
#: rows/s/worker under the same 32-way concurrency (7.4×; solo speed
#: also improves). Output is bit-identical: every op in the rotation is
#: row-independent. See docs/SCALE.md round 7.
_ROTATE_TILE = 256


def _rotate_impl(x: np.ndarray, reverse: bool) -> np.ndarray:
    arr = np.asarray(x, dtype=np.float32)
    if arr.ndim == 2 and arr.shape[0] > _ROTATE_TILE:
        out = np.empty_like(arr, dtype=np.float32)
        for i in range(0, arr.shape[0], _ROTATE_TILE):
            out[i : i + _ROTATE_TILE] = _rotate_impl(
                arr[i : i + _ROTATE_TILE], reverse
            )
        return out
    squeeze = arr.ndim == 1
    mat = np.ascontiguousarray(np.atleast_2d(arr)).copy()
    m, n = mat.shape
    if n < 1 or n > 65536:
        raise ValueError(f"rotate supports 1..65536 dims, got {n}")
    base = int(n).bit_length() - 1
    p2 = 1 << base
    scale = np.float32(1.0) / np.sqrt(np.float32(p2))
    masks = _flip_masks()
    l_sl = slice(0, p2)
    r_sl = slice(n - p2, n)

    def flip(k: int) -> None:
        # sign flip as a ±1.0 broadcast multiply: bit-identical to the
        # XOR-of-the-sign-bit formulation (IEEE multiply by -1.0 flips
        # exactly the sign bit) but a contiguous vector op instead of a
        # boolean-mask column gather/scatter
        np.multiply(mat, _flip_signs(k, n), out=mat)

    def fht_scaled(sl: slice) -> None:
        if sl.stop - sl.start == n:
            _fht_inplace(mat)
            np.multiply(mat, scale, out=mat)
        else:
            sub = mat[:, sl].copy()
            _fht_inplace(sub)
            mat[:, sl] = sub * scale

    rounds = [(0, l_sl), (1, r_sl), (2, l_sl), (3, r_sl)]
    if not reverse:
        for k, sl in rounds:
            flip(k)
            fht_scaled(sl)
            if n != p2:
                _kacs_walk(mat)
    else:
        for k, sl in reversed(rounds):
            if n != p2:
                _kacs_walk(mat)
            fht_scaled(sl)
            flip(k)
    return mat[0] if squeeze else mat


def rotate(x: np.ndarray) -> np.ndarray:
    """Deterministic random rotation of vector(s); (d,) or (m, d) float32."""
    return _rotate_impl(x, reverse=False)


def rotate_inverse(x: np.ndarray) -> np.ndarray:
    """Inverse of :func:`rotate`."""
    return _rotate_impl(x, reverse=True)


def prep_queries(
    queries: "np.ndarray | list", metric: str, dim: int
) -> tuple[np.ndarray, np.ndarray]:
    """Query prep shared by every IVF, graph and MaxSim query entry point:
    the (nq, dim) query matrix is dimension-checked (mirroring
    crates/vchordrq/src/search.rs:58 and crates/vchordg/src/search.rs),
    normalized for cos, and rotated. Returns (normalized f64 queries,
    rotated f32 queries)."""
    Qe = np.asarray(queries, np.float64)
    if Qe.ndim != 2 or Qe.shape[1] != dim:
        raise ValueError(
            f"query dimension {Qe.shape[1:]} does not match index "
            f"dimension {dim}"
        )
    if metric == "cos":
        norms = np.linalg.norm(Qe, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        Qe = Qe / norms
    return Qe, rotate(Qe.astype(np.float32))


# ---------------------------------------------------------------------------
# 1-bit RaBitQ codes
# ---------------------------------------------------------------------------


def bit_code(mat: np.ndarray) -> dict[str, np.ndarray]:
    """1-bit sign code + metadata for each row of ``mat`` (m, d) float32.

    Returns dict with ``signs`` (m, d) bool and float32 metadata columns
    ``dis_u_2, factor_cnt, factor_ip, factor_err``.
    """
    mat = np.atleast_2d(np.asarray(mat, np.float32))
    m, d = mat.shape
    sum_abs = np.sum(np.abs(mat), axis=1, dtype=np.float32)
    sum_x2 = np.sum(mat * mat, axis=1, dtype=np.float32)
    signs = ~np.signbit(mat)
    cnt_pos = signs.sum(axis=1).astype(np.float32)
    factor_cnt = cnt_pos - (np.float32(d) - cnt_pos)
    with np.errstate(divide="ignore", invalid="ignore"):
        factor_ip = sum_x2 / sum_abs
        dis_u = np.sqrt(sum_x2)
        x_0 = sum_abs / dis_u / np.sqrt(np.float32(d))
        factor_err = (
            dis_u
            * np.sqrt(np.maximum(1.0 / (x_0 * x_0) - 1.0, 0.0))
            / np.sqrt(np.float32(d - 1))
        )
    factor_err = np.nan_to_num(factor_err, nan=0.0, posinf=0.0).astype(np.float32)
    factor_ip = np.nan_to_num(factor_ip, nan=1.0).astype(np.float32)
    return {
        "signs": signs,
        "dis_u_2": sum_x2.astype(np.float32),
        "factor_cnt": factor_cnt,
        "factor_ip": factor_ip,
        "factor_err": factor_err,
    }


def pack_bits(signs: np.ndarray) -> list[bytes]:
    """Pack (m, d) bool sign matrix into little-endian bit bytes per row."""
    packed = np.packbits(np.atleast_2d(signs), axis=1, bitorder="little")
    return [row.tobytes() for row in packed]


def unpack_bits(codes: "list[bytes] | np.ndarray", d: int) -> np.ndarray:
    """Inverse of :func:`pack_bits` → (m, d) uint8 0/1 matrix."""
    if isinstance(codes, np.ndarray) and codes.dtype == np.uint8 and codes.ndim == 2:
        raw = codes
    else:
        raw = np.frombuffer(b"".join(codes), np.uint8).reshape(len(codes), -1)
    bits = np.unpackbits(raw, axis=1, bitorder="little")
    return bits[:, :d]


# ---------------------------------------------------------------------------
# Query LUT + rough/err estimators
# ---------------------------------------------------------------------------

_BINARY_BITS = 6


def binary_lut(q_rot: np.ndarray) -> dict[str, object]:
    """6-bit scalar quantization of a rotated query vector.

    ``sum`` against a 1-bit data code is the exact integer dot product of the
    data sign-bits with the quantized query, which we compute directly as a
    matrix product instead of per-bitplane popcounts.
    """
    q = np.asarray(q_rot, np.float32)
    dis_v_2 = np.float32(np.sum(q * q, dtype=np.float32))
    mn = np.float32(q.min())
    mx = np.float32(q.max())
    n_levels = np.float32((1 << _BINARY_BITS) - 1)
    k = np.float32(max(np.float32(0.0), (mx - mn) / n_levels))
    b = mn
    if k == 0.0:
        qq = np.zeros(q.shape, np.uint8)
    else:
        qq = np.rint(q * (np.float32(1.0) / k) + (-b / k)).astype(np.uint8)
    return {
        "k": k,
        "b": b,
        "qvector": qq,
        "qvector_sum": np.float32(qq.sum(dtype=np.int64)),
        "dis_v_2": dis_v_2,
    }


def _lut_e(sums: np.ndarray, factor_cnt: np.ndarray, lut: dict) -> np.ndarray:
    return np.float32(lut["k"]) * (
        2.0 * sums.astype(np.float32) - np.float32(lut["qvector_sum"])
    ) + np.float32(lut["b"]) * factor_cnt


def rough_l2(
    sums: np.ndarray,
    meta: dict[str, np.ndarray],
    lut: dict,
    dis_f: np.ndarray | float | None = None,
    delta: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """(rough, err) estimate of squared L2 distance; residual mode when
    ``dis_f``/``delta`` given (dis_f = ||q_rot - centroid||^2)."""
    e = _lut_e(sums, meta["factor_cnt"], lut)
    if dis_f is None:
        rough = meta["dis_u_2"] + np.float32(lut["dis_v_2"]) - 2.0 * e * meta["factor_ip"]
        err = 2.0 * meta["factor_err"] * np.sqrt(np.float32(lut["dis_v_2"]))
    else:
        dis_f = np.asarray(dis_f, np.float32)
        rough = meta["dis_u_2"] + dis_f - 2.0 * e * meta["factor_ip"] + delta
        err = 2.0 * meta["factor_err"] * np.sqrt(dis_f)
    return rough.astype(np.float32), np.broadcast_to(err, rough.shape).astype(np.float32)


def rough_dot(
    sums: np.ndarray,
    meta: dict[str, np.ndarray],
    lut: dict,
    dis_f: np.ndarray | float | None = None,
    delta: np.ndarray | None = None,
    norm: np.ndarray | float | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """(rough, err) estimate of negated dot; residual mode when ``dis_f``
    given (dis_f = -<q_rot, centroid>, norm = ||centroid||)."""
    e = _lut_e(sums, meta["factor_cnt"], lut)
    if dis_f is None:
        rough = -e * meta["factor_ip"]
        err = meta["factor_err"] * np.sqrt(np.float32(lut["dis_v_2"]))
    else:
        dis_f = np.asarray(dis_f, np.float32)
        norm = np.asarray(norm, np.float32)
        rough = -e * meta["factor_ip"] + dis_f + delta
        err = meta["factor_err"] * np.sqrt(
            np.float32(lut["dis_v_2"]) + norm * norm + 2.0 * dis_f
        )
    return rough.astype(np.float32), np.broadcast_to(err, rough.shape).astype(np.float32)


def residual_delta_l2(
    signs: np.ndarray,
    meta: dict[str, np.ndarray],
    centroid: np.ndarray,
) -> np.ndarray:
    """Residual correction term stored with each L2 code."""
    c = np.asarray(centroid, np.float32)
    d = c.shape[-1]
    pm = np.where(signs, np.float32(1.0), np.float32(-1.0))
    t = (pm @ c) / np.sqrt(np.float32(d))
    dis_u = np.sqrt(meta["dis_u_2"])
    sum_abs = meta["dis_u_2"] / meta["factor_ip"]
    with np.errstate(divide="ignore", invalid="ignore"):
        x_0 = sum_abs / dis_u / np.sqrt(np.float32(d))
        out = 2.0 * dis_u * t / x_0
    return np.nan_to_num(out, nan=0.0).astype(np.float32)


def residual_delta_dot(
    signs: np.ndarray,
    meta: dict[str, np.ndarray],
    residuals: np.ndarray,
    centroid: np.ndarray,
) -> np.ndarray:
    """Residual correction term stored with each negated-dot code."""
    c = np.asarray(centroid, np.float32)
    d = c.shape[-1]
    pm = np.where(signs, np.float32(1.0), np.float32(-1.0))
    t = (pm @ c) / np.sqrt(np.float32(d))
    dis_u = np.sqrt(meta["dis_u_2"])
    sum_abs = meta["dis_u_2"] / meta["factor_ip"]
    with np.errstate(divide="ignore", invalid="ignore"):
        x_0 = sum_abs / dis_u / np.sqrt(np.float32(d))
        est = dis_u * t / x_0
    rc = np.sum(residuals * c, axis=1, dtype=np.float32)
    return np.nan_to_num(est - rc, nan=0.0).astype(np.float32)


# ---------------------------------------------------------------------------
# Extended 4/8-bit lattice codes (rabitq8 / rabitq4 column types)
# ---------------------------------------------------------------------------


def extended_code(mat: np.ndarray, bits: int) -> dict[str, np.ndarray]:
    """Scalar-quantize rotated vectors to ``bits``-bit lattice codes.

    Uses the closed-form scale ``2^(bits-1) / max|x_i|`` (the path behind the
    SQL ``quantize_to_rabitq8/4`` functions).
    """
    assert 1 <= bits <= 8
    mat = np.atleast_2d(np.asarray(mat, np.float32))
    m, d = mat.shape
    dis_u_2 = np.sum(mat * mat, axis=1, dtype=np.float32)
    with np.errstate(divide="ignore", invalid="ignore"):
        nv = mat / np.sqrt(dis_u_2)[:, None]
    nv = np.nan_to_num(nv, nan=0.0)
    max_abs = np.abs(nv).max(axis=1)
    with np.errstate(divide="ignore"):
        scale = np.float32(1 << (bits - 1)) / max_abs
    # degenerate all-zero vector: nv is all zeros, so any finite scale
    # yields the midpoint code; force scale=0 to avoid inf*0=NaN whose
    # floor/int-cast is platform-dependent garbage
    scale = np.where(max_abs > 0, scale, np.float32(0.0))
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    c = np.clip(np.floor(scale[:, None] * nv), lo, hi).astype(np.int32)
    code = (c + (1 << (bits - 1))).astype(np.uint8)
    base = np.float32(-0.5 * ((1 << bits) - 1))
    centered = base + code.astype(np.float32)
    norm_of_lattice = np.sqrt(np.sum(centered * centered, axis=1, dtype=np.float32))
    sum_of_code = code.sum(axis=1, dtype=np.int64).astype(np.float32)
    sum_of_abs_x = np.sum(np.abs(mat), axis=1, dtype=np.float32)
    return {
        "code": code,
        "dis_u_2": dis_u_2.astype(np.float32),
        "norm_of_lattice": norm_of_lattice.astype(np.float32),
        "sum_of_code": sum_of_code,
        "sum_of_abs_x": sum_of_abs_x,
    }


def extended_distance(
    metric: str,
    xm: dict[str, np.ndarray],
    ym: dict[str, np.ndarray],
    x_bits: int,
    y_bits: int,
) -> np.ndarray:
    """Estimated pairwise (row-aligned) distance between two extended codes."""
    dim = xm["code"].shape[1]
    sums = np.einsum(
        "ij,ij->i", xm["code"].astype(np.int64), ym["code"].astype(np.int64)
    ).astype(np.float32)
    c_x = np.float32(((1 << x_bits) - 1) * 0.5)
    c_y = np.float32(((1 << y_bits) - 1) * 0.5)
    ip = (
        sums
        - (c_y * xm["sum_of_code"] + c_x * ym["sum_of_code"])
        + np.float32(dim) * c_x * c_y
    )
    sx = np.sqrt(xm["dis_u_2"]) / xm["norm_of_lattice"]
    sy = np.sqrt(ym["dis_u_2"]) / ym["norm_of_lattice"]
    if metric == "l2":
        return (xm["dis_u_2"] + ym["dis_u_2"] - 2.0 * ip * sx * sy).astype(np.float32)
    if metric == "dot":
        return (-ip * sx * sy).astype(np.float32)
    if metric == "cos":
        return (-ip / xm["norm_of_lattice"] / ym["norm_of_lattice"]).astype(np.float32)
    raise ValueError(f"unknown metric {metric}")


def extended_dequantize(
    code: np.ndarray,
    dis_u_2: np.ndarray,
    norm_of_lattice: np.ndarray,
    bits: int,
) -> np.ndarray:
    """Reconstruct approximate original vectors from extended codes."""
    code = np.atleast_2d(code)
    scale = (np.sqrt(np.asarray(dis_u_2, np.float32)) / np.asarray(
        norm_of_lattice, np.float32
    ))[:, None]
    base = np.float32(-0.5 * ((1 << bits) - 1))
    return rotate_inverse((base + code.astype(np.float32)) * scale)


def pack_nibbles(code: np.ndarray) -> list[bytes]:
    """Pack (m, d) uint8 4-bit codes two per byte (low nibble first)."""
    code = np.atleast_2d(code)
    m, d = code.shape
    if d % 2:
        code = np.concatenate([code, np.zeros((m, 1), np.uint8)], axis=1)
    lo = code[:, 0::2]
    hi = code[:, 1::2]
    return [row.tobytes() for row in (lo | (hi << 4)).astype(np.uint8)]


def unpack_nibbles(codes: list[bytes], d: int) -> np.ndarray:
    raw = np.frombuffer(b"".join(codes), np.uint8).reshape(len(codes), -1)
    out = np.empty((raw.shape[0], raw.shape[1] * 2), np.uint8)
    out[:, 0::2] = raw & 0x0F
    out[:, 1::2] = raw >> 4
    return out[:, :d]


# ---------------------------------------------------------------------------
# Exact distances (numpy): the internal distances of graph traversal and
# routing, and the output-space fold every index emits
# ---------------------------------------------------------------------------


def exact_distances(metric: str, mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Exact distances of each row of ``mat`` to ``q`` under ``metric``.

    ``l2`` → squared L2 (the reference's internal Distance for L2 opclasses,
    sqrt applied at output); ``dot`` → negated inner product; ``cos`` →
    1 - cosine similarity.
    """
    mat = np.atleast_2d(np.asarray(mat, np.float64))
    q = np.asarray(q, np.float64)
    if metric == "l2":
        diff = mat - q
        return np.einsum("ij,ij->i", diff, diff)
    if metric == "dot":
        return -(mat @ q)
    if metric == "cos":
        num = mat @ q
        den = np.sqrt(np.einsum("ij,ij->i", mat, mat) * (q @ q))
        with np.errstate(divide="ignore", invalid="ignore"):
            return 1.0 - num / den
    raise ValueError(f"unknown metric {metric}")


def fold_distances(metric: str, mat: np.ndarray, qs: np.ndarray) -> np.ndarray:
    """Output-space distances of each row of ``mat`` to ``qs`` (one query,
    or one query per row), bit-identical to the JVM column fold of
    ``functions/distances.py`` (``aggregate`` over ``zip_with``) and to
    the DuckDB oracles' left-chained SQL: the per-dimension f64 terms are
    summed in a strict left fold that starts at 0.0, ((0+a0)+a1)+…
    ``cumsum`` is sequential by definition, and adding 0.0 to the first
    term first turns a -0.0 into +0.0, as the fold's start value does.
    ``l2`` is the root of the squared sum, ``dot`` the negated sum and
    ``cos`` 1 minus it (stored vectors and queries are normalized)."""
    mat = np.asarray(mat, np.float64)
    if metric == "l2":
        terms = mat - qs
        terms *= terms
    else:
        terms = mat * qs
    terms[:, 0] += 0.0
    s = np.cumsum(terms, axis=1)[:, -1]
    if metric == "l2":
        return np.sqrt(s)
    return -s if metric == "dot" else 1.0 - s
