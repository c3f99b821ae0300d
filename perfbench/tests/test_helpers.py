"""Tests for the benchmark's own helpers: statistics, oracles, span
self time and status-store attribution.

    python3 -m pytest perfbench/tests -q
"""

import time

import numpy as np
import pytest

import checks
import workloads
from tracing import Span, Tracer, covered


def test_tail_percentile_keeps_ten_samples_beyond():
    values = list(range(200))
    pct, value = checks.tail_percentile(values)
    assert pct == 95.0
    assert sum(v > value for v in values) == 10
    pct, value = checks.tail_percentile(list(range(100))[::-1])
    assert pct == 90.0 and sum(v > value for v in range(100)) == 10
    assert checks.tail_percentile(list(range(10))) is None


def test_quartile_spread():
    assert checks.quartile_spread([10.0] * 10) == 0.0
    assert checks.quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(5.5 / 5.5)


@pytest.fixture
def live():
    rng = np.random.default_rng(0)
    return checks.LiveSet(np.arange(100, 600), rng.standard_normal((500, 8)).astype(np.float32))


def _answer(live, q, k):
    ids = live.top_k(q, k)
    rows = live.rows_of(ids)
    return [int(i) for i in ids], list(live.exact_l2(rows, q))


def test_top_k_matches_full_sort(live):
    q = np.ones(8, np.float32)
    d = np.sqrt(((live.vecs.astype(np.float64) - 1.0) ** 2).sum(axis=1))
    assert list(live.top_k(q, 10)) == list(live.ids[np.argsort(d)[:10]])


def test_check_knn_accepts_exact_answer(live):
    q = np.zeros(8, np.float32)
    ids, dists = _answer(live, q, 10)
    assert checks.check_knn(ids, dists, q, 10, live) is None
    assert checks.recall_at_k(ids, live.top_k(q, 10), 10) == 1.0


def test_check_knn_flags_planted_errors(live):
    q = np.zeros(8, np.float32)
    ids, dists = _answer(live, q, 10)
    wrong = list(dists)
    wrong[3] *= 1.0 + 1e-6
    assert "distance" in checks.check_knn(ids, wrong, q, 10, live)
    assert "rows" in checks.check_knn(ids[:9], dists[:9], q, 10, live)
    assert "not in the live set" in checks.check_knn([7] + ids[1:], dists, q, 10, live)
    assert "duplicate" in checks.check_knn([ids[0]] + ids[:9], dists, q, 10, live)
    swapped = ids[:]
    swapped[0], swapped[9] = swapped[9], swapped[0]
    assert checks.check_knn(swapped, dists, q, 10, live) is not None


def test_recall_counts_misses(live):
    q = np.zeros(8, np.float32)
    exact = live.top_k(q, 10)
    got = [int(i) for i in exact[:7]] + [int(i) for i in live.top_k(q, 20)[15:18]]
    assert checks.recall_at_k(got, exact, 10) == pytest.approx(0.7)


def test_wrong_answer_counts_as_failed(live, tmp_path):
    """A planted wrong distance lands in ``failed`` and out of the latency
    and recall figures."""
    pool = np.stack([np.zeros(8, np.float32), np.ones(8, np.float32)])
    good = _answer(live, pool[0], workloads.K)
    bad_ids, bad_d = _answer(live, pool[1], workloads.K)
    bad_d[0] += 0.5
    served = {
        "answers": [(0, 0.1, *good), (1, 0.2, bad_ids, bad_d)],
        "errors": [(2, "RuntimeError('boom')")],
        "wall": 1.0,
    }
    (tmp_path / "f").write_bytes(b"x" * 64)
    metrics, attempted, failed, ok, info = workloads.score_serving(
        served, pool, live, 2.0, 500, str(tmp_path), 3.0
    )
    assert (attempted, failed) == (3, 2)
    assert info["samples"] == 1 and metrics["query_p50_ms"] == pytest.approx(100.0)
    assert metrics["recall"] == 1.0 and metrics["throughput"] == 1.0


def test_check_curate_partition_and_shares():
    ids = np.arange(6)
    planted = {"length": 1, "exact_dup": 2}
    audit = [(0, "length"), (4, "exact_dup"), (5, "exact_dup")]
    assert checks.check_curate(ids, [1, 2, 3], audit, planted) is None
    assert "twice" in checks.check_curate(ids, [1, 2, 3, 4], audit, planted)
    assert "cover" in checks.check_curate(ids, [1, 2], audit, planted)
    wrong = [(0, "length"), (4, "exact_dup"), (5, "near_dup")]
    assert "shares" in checks.check_curate(ids, [1, 2, 3], wrong, planted)


def test_planted_docs_are_seeded():
    a = workloads.planted_docs(np.random.default_rng(3), 400)
    b = workloads.planted_docs(np.random.default_rng(3), 400)
    c = workloads.planted_docs(np.random.default_rng(4), 400)
    assert a == b and a[0] != c[0]
    assert len(a[0]) == 400
    assert a[1] == {"length": 20, "repetition": 20, "exact_dup": 20, "near_dup": 20}


def test_covered_merges_overlaps():
    assert covered(0, 10, [(1, 3), (2, 5), (7, 8), (9, 12), (-3, -1)]) == 6
    assert covered(0, 10, []) == 0


def test_self_time_subtracts_children():
    tr = Tracer()
    tr.spans = [
        Span(1, "outer", None, "r", 0.0, 10.0),
        Span(2, "inner", 1, "r", 1.0, 3.0),
        Span(3, "inner", 1, "r", 2.0, 5.0),
        Span(4, "inner", 1, "r", 7.0, 8.0),
    ]
    self_s = tr.self_times()
    assert self_s["outer"] == pytest.approx(5.0)
    assert self_s["inner"] == pytest.approx(2.0 + 3.0 + 1.0)


def test_spans_nest():
    tr = Tracer()
    with tr.span("a", request="q1"):
        with tr.span("b"):
            time.sleep(0.01)
    b, a = tr.spans
    assert (a.name, b.name, b.parent, b.request) == ("a", "b", a.id, "q1")
    assert a.start <= b.start <= b.end <= a.end


@pytest.fixture(scope="module")
def spark():
    from vectorchord_spark.session import get_spark

    s = get_spark(
        app_name="perfbench-tests",
        master="local[2]",
        extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()


def test_status_store_attributes_rows_read(spark, tmp_path):
    """A span around a count of a Parquet file of known size reports exactly
    that many rows read, and jobs outside the span are not attributed."""
    path = str(tmp_path / "rows.parquet")
    spark.range(1234).repartition(3).write.parquet(path)
    tr = Tracer(spark.sparkContext)
    spark.read.parquet(path).count()  # outside any span
    with tr.span("count"):
        assert spark.read.parquet(path).count() == 1234
    (sp,) = tr.spans
    c = tr.subtree_counters(sp, tr.children())
    assert c["rows_read"] == 1234
    assert c["jobs"] >= 1 and c["tasks"] >= 1
    assert 0 <= c["driver_ms"] <= 1e3 * sp.seconds
