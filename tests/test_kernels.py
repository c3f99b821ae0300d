"""Kernel unit tests mirroring the reference's Rust unit tests and slt
golden values (see FIXTURES.md F5 and SURVEY.md §5)."""

import numpy as np
import pytest

from vectorchord_spark import kernels as K


def test_rotate_golden():
    # /root/reference/crates/rabitq/src/rotate.rs:140-151 expected values
    x = K.rotate(np.array([2.0, 3.0, 4.0], np.float32))
    assert abs(x[0] - 3.981917) < 1e-6
    assert abs(x[1] - 1.8043789) < 1e-6
    assert abs(x[2] - 3.1446066) < 1e-6
    back = K.rotate_inverse(x)
    np.testing.assert_allclose(back, [2.0, 3.0, 4.0], atol=1e-6)


@pytest.mark.parametrize("d", [1, 2, 3, 5, 8, 17, 64, 100, 129, 768])
def test_rotate_roundtrip_and_norm(d):
    rng = np.random.default_rng(d)
    mat = rng.normal(size=(7, d)).astype(np.float32)
    rot = K.rotate(mat)
    # orthogonal: norms preserved
    np.testing.assert_allclose(
        np.linalg.norm(rot, axis=1), np.linalg.norm(mat, axis=1), rtol=2e-5
    )
    back = K.rotate_inverse(rot)
    np.testing.assert_allclose(back, mat, atol=2e-5)


def test_rotate_batch_matches_single():
    """Batch and single-row rotation agree to float32 round-off, and each
    call shape is exactly deterministic. Bit-equality ACROSS batch sizes
    is not asserted: the FHT's 32-wide GEMM blocks go through BLAS, and
    BLAS may legally pick different FMA microkernels for different m
    (observed on this host: m=5 vs m=1 differ by ≤1 ulp). Codes built
    from rotations are distance ESTIMATES, so ulp-level m-dependence is
    harmless; what correctness needs is per-shape determinism."""
    rng = np.random.default_rng(0)
    mat = rng.normal(size=(5, 37)).astype(np.float32)
    rot = K.rotate(mat)
    np.testing.assert_array_equal(rot, K.rotate(mat))  # deterministic
    for i in range(5):
        single = K.rotate(mat[i])
        np.testing.assert_array_equal(single, K.rotate(mat[i]))
        np.testing.assert_allclose(rot[i], single, rtol=1e-5, atol=1e-6)


def test_bit_code_metadata():
    rng = np.random.default_rng(1)
    mat = rng.normal(size=(10, 32)).astype(np.float32)
    meta = K.bit_code(mat)
    assert meta["signs"].shape == (10, 32)
    # factor_cnt = #pos - #neg
    np.testing.assert_array_equal(
        meta["factor_cnt"], (mat >= 0).sum(1) - (mat < 0).sum(1)
    )
    np.testing.assert_allclose(meta["dis_u_2"], (mat * mat).sum(1), rtol=1e-5)


def test_pack_unpack_roundtrip():
    rng = np.random.default_rng(2)
    signs = rng.random((6, 45)) > 0.5
    packed = K.pack_bits(signs)
    bits = K.unpack_bits(packed, 45)
    np.testing.assert_array_equal(bits.astype(bool), signs)
    nib = rng.integers(0, 16, size=(6, 45)).astype(np.uint8)
    np.testing.assert_array_equal(K.unpack_nibbles(K.pack_nibbles(nib), 45), nib)


@pytest.mark.parametrize("metric", ["l2", "dot"])
def test_rough_estimator_bounds(metric):
    """rough ± err must bracket the exact distance for ~all vectors
    (the reference prunes with rough - eps*err at eps=1.9 ≈ 2σ)."""
    rng = np.random.default_rng(3)
    d = 64
    data = rng.normal(size=(2000, d)).astype(np.float32)
    q = rng.normal(size=d).astype(np.float32)
    data_rot = K.rotate(data)
    q_rot = K.rotate(q)
    meta = K.bit_code(data_rot)
    lut = K.binary_lut(q_rot)
    sums = K.unpack_bits(K.pack_bits(meta["signs"]), d).astype(np.int64) @ lut[
        "qvector"
    ].astype(np.int64)
    if metric == "l2":
        rough, err = K.rough_l2(sums, meta, lut)
        exact = K.exact_distances("l2", data_rot, q_rot)
    else:
        rough, err = K.rough_dot(sums, meta, lut)
        exact = K.exact_distances("dot", data_rot, q_rot)
    viol = np.mean((exact < rough - 1.9 * err) | (exact > rough + 1.9 * err))
    assert viol < 0.06, f"too many bound violations: {viol}"
    # and the estimate itself is reasonably tight relative to the natural
    # distance scale (for dot, raw values are near-zero-mean so normalize by
    # the norm product rather than |exact|)
    scale = np.abs(exact).mean() if metric == "l2" else (
        np.linalg.norm(q) * np.linalg.norm(data, axis=1).mean()
    )
    rel = np.abs(rough - exact) / scale
    assert np.median(rel) < 0.2


def test_residual_estimator_bounds():
    rng = np.random.default_rng(4)
    d = 64
    centroid = rng.normal(size=d).astype(np.float32)
    data = (centroid + 0.3 * rng.normal(size=(1000, d))).astype(np.float32)
    q = (centroid + 0.5 * rng.normal(size=d)).astype(np.float32)
    data_rot = K.rotate(data)
    q_rot = K.rotate(q)
    c_rot = K.rotate(centroid)
    residual = data_rot - c_rot
    meta = K.bit_code(residual)
    delta = K.residual_delta_l2(meta["signs"], meta, c_rot)
    lut = K.binary_lut(q_rot)
    sums = meta["signs"].astype(np.int64) @ lut["qvector"].astype(np.int64)
    dis_f = np.float32(((q_rot - c_rot) ** 2).sum())
    rough, err = K.rough_l2(sums, meta, lut, dis_f=dis_f, delta=delta)
    exact = K.exact_distances("l2", data_rot, q_rot)
    viol = np.mean((exact < rough - 1.9 * err) | (exact > rough + 1.9 * err))
    assert viol < 0.06, f"too many bound violations: {viol}"


@pytest.mark.parametrize("bits,bound", [(8, 0.07), (4, 1.00)])
def test_extended_quantize_dequantize_error(bits, bound):
    # error contract from /root/reference/tests/general/dequantize.slt:1-20
    v = np.arange(1.0, 9.0, dtype=np.float32)
    rot = K.rotate(v)
    code = K.extended_code(rot, bits)
    back = K.extended_dequantize(
        code["code"], code["dis_u_2"], code["norm_of_lattice"], bits
    )[0]
    err = np.sqrt(((back - v) ** 2).sum())
    assert err < bound


@pytest.mark.parametrize("metric", ["l2", "dot", "cos"])
def test_extended_distance_accuracy(metric):
    rng = np.random.default_rng(5)
    d = 64
    a = rng.normal(size=(200, d)).astype(np.float32)
    b = rng.normal(size=(200, d)).astype(np.float32)
    am = K.extended_code(K.rotate(a), 8)
    bm = K.extended_code(K.rotate(b), 8)
    est = K.extended_distance(metric, am, bm, 8, 8)
    if metric == "cos":
        # rabitq-vs-rabitq cosine estimates the *negated similarity* —
        # /root/reference/crates/rabitq/src/extended.rs:193-205 (no +1 shift;
        # the +1 output transform only applies on the index order-by path)
        exact = np.array(
            [
                -(a[i] @ b[i]) / (np.linalg.norm(a[i]) * np.linalg.norm(b[i]))
                for i in range(200)
            ]
        )
    else:
        exact = np.array(
            [K.exact_distances(metric, a[i : i + 1], b[i])[0] for i in range(200)]
        )
    scale = np.abs(exact).mean() + 1e-9
    assert np.median(np.abs(est - exact)) / scale < 0.05


def test_exact_distance_goldens():
    # /root/reference/tests/general/distance.slt via FIXTURES.md F5
    a = np.array([1.0, 2.0, 3.0])
    b = np.array([2.0, 3.0, 4.0])
    assert round(float(np.sqrt(K.exact_distances("l2", a, b)[0])), 3) == 1.732
    assert round(float(K.exact_distances("dot", a, b)[0]), 3) == -20.0
    assert round(float(K.exact_distances("cos", a, b)[0]), 3) == 0.007


def test_limit_blas_threads():
    """The worker-side BLAS cap (docs/SCALE.md r06: 32 workers x 2-thread
    OpenBLAS aggregated 66.7k rotate-rows/s vs 444.6k with 1 thread each)
    must find the loaded OpenBLAS, succeed, and be idempotent — and must
    not change rotation results (thread count is a scheduling knob)."""
    before = K.rotate(np.arange(768, dtype=np.float32))
    assert K.limit_blas_threads(1) is True
    assert K.limit_blas_threads(1) is True  # idempotent fast path
    after = K.rotate(np.arange(768, dtype=np.float32))
    assert np.array_equal(before, after)


def test_fold_distances_is_the_left_fold_from_zero():
    """``fold_distances`` equals a strict left fold that starts at 0.0,
    bit for bit, for one query and for one query per row; a sum of -0.0
    products comes out +0.0, as the JVM ``aggregate`` start value makes it."""
    rng = np.random.default_rng(11)
    mat = rng.normal(size=(50, 13)).astype(np.float32)
    qs = rng.normal(size=(50, 13))

    def left_fold(metric, row, q):
        acc = 0.0
        for x, y in zip(row.astype(np.float64).tolist(), q.tolist()):
            acc = acc + ((x - y) * (x - y) if metric == "l2" else x * y)
        if metric == "l2":
            return float(np.sqrt(acc))
        return -acc if metric == "dot" else 1.0 - acc

    for metric in ("l2", "dot", "cos"):
        got = K.fold_distances(metric, mat, qs).tolist()
        assert [x.hex() for x in got] == [
            left_fold(metric, r, q).hex() for r, q in zip(mat, qs)
        ]
        one = K.fold_distances(metric, mat, qs[0]).tolist()
        assert [x.hex() for x in one] == [
            left_fold(metric, r, qs[0]).hex() for r in mat
        ]
    zero = K.fold_distances("dot", np.zeros((1, 3)), np.array([-1.0, -2.0, -3.0]))
    assert np.signbit(zero[0])  # -(+0.0): the sum itself is +0.0
