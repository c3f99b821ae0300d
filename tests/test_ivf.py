"""IVF index lifecycle tests (build → search → insert/delete/compact),
mirroring the reference's vchordrq slt suites (recall.slt, vacuum.slt,
filter_rerank_in_index.slt, internal_build_kmeans.slt)."""

import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from vectorchord_spark.operators.ivf import IvfIndex, IvfOptions


@pytest.fixture(scope="module")
def clustered_df(spark):
    """FIXTURES.md F6: 33 Gaussian clusters in dim 8."""
    rng = np.random.default_rng(7)
    centers = rng.uniform(-1, 1, size=(33, 8))
    rows = []
    for i in range(5000):
        c = int(rng.integers(0, 33))
        v = centers[c] + rng.normal(0, 0.05, 8)
        rows.append((i, [float(x) for x in v], c, i % 5 == 0))
    return spark.createDataFrame(
        rows, "id long, vec array<float>, label int, flag boolean"
    ).cache()


def brute_topk(df, q, k, metric="l2"):
    from vectorchord_spark.functions import distances as D

    dist = D.output_distance(metric, "vec", D.vec_lit(q))
    return [
        r.id for r in df.select("id", dist.alias("d")).orderBy("d", "id").limit(k).collect()
    ]


@pytest.mark.parametrize(
    "opts",
    [
        IvfOptions(metric="l2", lists=[33]),
        IvfOptions(metric="l2", lists=[33], residual_quantization=True),
        IvfOptions(metric="l2", lists=[33], build_hierarchical=True),
        IvfOptions(metric="l2", lists=[33], kmeans_dimension=4),
        IvfOptions(metric="cos", lists=[33], spherical_centroids=True),
        IvfOptions(metric="dot", lists=[33]),
        IvfOptions(metric="l2", lists=[33], distributed_kmeans=True),
    ],
    ids=["l2", "l2-residual", "l2-hier", "l2-kdim", "cos", "dot", "l2-distkm"],
)
def test_build_and_recall(spark, clustered_df, opts):
    rng = np.random.default_rng(11)
    q = [float(x) for x in rng.uniform(-1, 1, 8)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df, "id", "vec", os.path.join(tmp, "idx"), opts
        )
        exact = brute_topk(clustered_df, q, 10, opts.metric)
        got = [r.id for r in idx.search(q, k=10, probes=[16], rerank_factor=8).collect()]
        recall = len(set(got) & set(exact)) / 10.0
        assert recall >= 0.9, f"recall {recall} too low for {opts}"
        # exhaustive search must match brute force exactly
        got_full = [r.id for r in idx.search(q, k=10, probes=None, rerank_factor=None).collect()]
        assert got_full == exact


def test_cheap_path_equivalence_and_plan(spark, clustered_df):
    """On a small probed set the default lazy-rerank search (rerank_factor
    4, guarantee on) returns the same (id, dist) rows as reranking every
    probed row, and neither plan runs a threshold cross join
    (BroadcastNestedLoopJoin) or a persisted scored scan
    (InMemoryTableScan): the rerank happens inside the one codes scan."""
    rng = np.random.default_rng(14)
    q = [float(x) for x in rng.uniform(-1, 1, 8)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df, "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="l2", lists=[33]),
        )
        lazy = idx.search(q, k=10, probes=[6], rerank_factor=4)
        full = idx.search(q, k=10, probes=[6], rerank_factor=None)
        assert [(r.id, r.dist) for r in lazy.collect()] == [
            (r.id, r.dist) for r in full.collect()
        ]
        for res in (lazy, full):
            plan = res._jdf.queryExecution().executedPlan().toString()
            for marker in ("BroadcastNestedLoopJoin", "InMemoryTableScan"):
                assert marker not in plan, marker


def _global_rule(ids, lb, rough, d, metric, k, m=None, guarantee=False, refine=None):
    """The two-pass selection applied to all probed rows at once (the rule
    the per-batch kernel must reproduce): (id, dist) rows in answer order,
    dist None where the rule reranks nothing."""
    from vectorchord_spark.operators.ivf import _internal_dist

    if refine is not None:
        pool = np.lexsort((ids, rough))[:k]
        return [(ids[i], d[i] if r < refine else None) for r, i in enumerate(pool)]
    cand = np.arange(len(ids)) if m is None else np.lexsort((ids, lb))[:m]
    if m is not None and guarantee:
        top = cand[np.lexsort((ids[cand], d[cand]))][:k]
        t = _internal_dist(d[top[-1]], metric) if len(top) >= k else np.inf
        cand = np.union1d(cand, np.flatnonzero(lb <= t))
    ans = cand[np.lexsort((ids[cand], d[cand]))][:k]
    return [(ids[i], d[i]) for i in ans]


def _merged_batches(ids, lb, rough, d, metric, n_batches, rng, k, **select):
    """Split the rows at random, run the kernel's per-batch selection on
    each batch and merge the outputs the way search / search_batch do."""
    from vectorchord_spark.operators.ivf import _local_select

    cuts = np.sort(rng.choice(np.arange(1, len(ids)), n_batches - 1, replace=False))
    perm = rng.permutation(len(ids))
    kept = []
    for part in np.split(perm, cuts):
        rows, dist = _local_select(
            ids[part], lb[part], rough[part], lambda r, part=part: d[part[r]],
            metric, k, **select,
        )
        for j, r in enumerate(rows):
            i = part[r]
            kept.append((ids[i], lb[i], rough[i], dist[j] if j < len(dist) else None))
    if select.get("refine") is not None:
        # maxsim reads dist only for rank ≤ refine
        kept.sort(key=lambda t: (t[2], t[0]))
        head = select["refine"]
        return [(t[0], t[3] if r < head else None) for r, t in enumerate(kept[:k])]
    if select.get("m") is not None and not select.get("guarantee"):
        kept = sorted(kept, key=lambda t: (t[1], t[0]))[: select["m"]]
    kept.sort(key=lambda t: (t[3], t[0]))
    return [(t[0], t[3]) for t in kept[:k]]


@pytest.mark.parametrize("metric", ["l2", "dot", "cos"])
def test_local_select_merge_matches_global_rule(metric):
    """The scan kernel applies the selection rule to each Arrow batch
    alone. Wherever the RaBitQ bound holds (lb ≤ the exact internal
    distance), merging the batches' outputs must give the rows of the
    rule applied to every probed row at once, for each rule: the
    guarantee sweep, the top-m cut (guarantee off, max_scan_tuples), the
    exhaustive rerank, k above the row count (range_search) and the
    rough pool with an exact head (maxsim refine). Ids are unique;
    lower bounds and distances carry planted ties."""
    from vectorchord_spark.operators.ivf import _internal_dist

    rng = np.random.default_rng(5)
    for trial in range(40):
        n = int(rng.integers(1, 400))
        ids = rng.permutation(10 * n)[:n].astype(np.int64)
        d = rng.uniform(0.0, 2.0, n)
        if metric != "l2":
            d -= 1.0
        d[rng.integers(0, n, n // 4)] = d[0]  # equal distances
        e = _internal_dist(d, metric)
        lb = e - rng.exponential(0.3, n)
        tie = rng.integers(0, n, n // 3)
        lb[tie] = lb[tie].min()  # equal lower bounds, still ≤ exact
        rough = lb + rng.uniform(0.0, 0.5, n)
        rough[tie[: len(tie) // 2]] = rough[0]
        n_batches = int(rng.integers(1, min(n, 8) + 1))
        k = int(rng.integers(1, 25))
        cases = [
            {"m": 4 * k, "guarantee": True},
            {"m": 4 * k, "guarantee": False},
            {"m": min(4 * k, 30), "guarantee": False},
            {"m": 30},
            {},
            {"k": 2**31 - 1},
            {"k": 50, "refine": 5},
            {"k": 50, "refine": 0},
        ]
        for case in cases:
            sel = {"k": k, **case}
            want = _global_rule(ids, lb, rough, d, metric, **sel)
            got = _merged_batches(
                ids, lb, rough, d, metric, n_batches, rng, **sel
            )
            assert got == want, (trial, sel)


def test_range_search(spark, clustered_df):
    rng = np.random.default_rng(12)
    q = [float(x) for x in rng.uniform(-1, 1, 8)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df, "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="l2", lists=[33]),
        )
        from vectorchord_spark.functions import distances as D

        radius = 0.6
        exact = {
            r.id
            for r in clustered_df.select(
                "id", D.l2("vec", D.vec_lit(q)).alias("d")
            ).where(F.col("d") < radius).collect()
        }
        got = {r.id for r in idx.range_search(q, radius, probes=None).collect()}
        assert got == exact


def test_prefilter(spark, clustered_df):
    """Prefilter semantics: predicate applied before rerank (Q9)."""
    rng = np.random.default_rng(13)
    q = [float(x) for x in rng.uniform(-1, 1, 8)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df, "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="l2", lists=[33]),
        )
        allowed = clustered_df.where("flag").select("id")
        exact = brute_topk(clustered_df.where("flag"), q, 10)
        got = [
            r.id
            for r in idx.search(q, k=10, probes=None, rerank_factor=None, prefilter=allowed).collect()
        ]
        assert got == exact


def test_insert_delete_compact(spark, clustered_df):
    """FIXTURES.md F7 lifecycle: append, tombstone-delete, compact."""
    rng = np.random.default_rng(14)
    q = [float(x) for x in rng.uniform(-1, 1, 8)]
    with tempfile.TemporaryDirectory() as tmp:
        base = clustered_df.where("id < 4000")
        idx = IvfIndex.build(
            spark, base, "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="l2", lists=[33]),
        )
        extra = clustered_df.where("id >= 4000")
        idx.insert(extra, "id", "vec")
        deleted = [i for i in range(5000) if i % 7 == 0]
        idx.delete(deleted)
        surviving = clustered_df.where(F.col("id") % 7 != 0)
        exact = brute_topk(surviving, q, 10)
        got = [r.id for r in idx.search(q, k=10, probes=None, rerank_factor=None).collect()]
        assert got == exact
        idx.compact()
        got2 = [r.id for r in idx.search(q, k=10, probes=None, rerank_factor=None).collect()]
        assert got2 == exact
        assert not os.path.exists(idx._tombstones_path)


def test_rerank_in_table(spark, clustered_df):
    rng = np.random.default_rng(15)
    q = [float(x) for x in rng.uniform(-1, 1, 8)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df, "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="l2", lists=[33], rerank_in_index=False),
        )
        exact = brute_topk(clustered_df, q, 10)
        got = [
            r.id
            for r in idx.search(
                q, k=10, probes=None, rerank_factor=None,
                base_df=clustered_df.select("id", "vec"),
            ).collect()
        ]
        assert got == exact


def test_multilevel_build(spark, clustered_df):
    rng = np.random.default_rng(16)
    q = [float(x) for x in rng.uniform(-1, 1, 8)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df, "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="l2", lists=[8, 64]),
        )
        assert len(idx.levels) == 2
        exact = brute_topk(clustered_df, q, 10)
        got = [r.id for r in idx.search(q, k=10, probes=[8, 32], rerank_factor=8).collect()]
        recall = len(set(got) & set(exact)) / 10.0
        assert recall >= 0.9


def test_recall_evaluator(spark, clustered_df):
    """S13: exhaustive config must report recall exactly 1.0; F2's NaN edge
    is covered by the empty-result contract."""
    rng = np.random.default_rng(17)
    q = [float(x) for x in rng.uniform(-1, 1, 8)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df, "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="l2", lists=[33]),
        )
        r = idx.evaluate_query_recall(q, k=10, probes=None, rerank_factor=None)
        assert r == 1.0
        r16 = idx.evaluate_query_recall(q, k=10, probes=[16], rerank_factor=8)
        assert r16 >= 0.9


# the F6 fixture is adversarial for 4-bit codes: cluster spread (σ=0.05·√8)
# is comparable to the rabitq4 reconstruction error at dim 8, so half the
# top-10 order is genuinely indistinguishable after quantization
@pytest.mark.parametrize("storage,min_recall", [("rabitq8", 0.9), ("rabitq4", 0.4)])
def test_quantized_storage(spark, clustered_df, storage, min_recall):
    """rabitq8/rabitq4 stored-vector index: rerank against the dequantized
    estimate; RaBitQ8 claims <1% recall loss (/root/reference/README.md:45)."""
    rng = np.random.default_rng(19)
    q = [float(x) for x in rng.uniform(-1, 1, 8)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df, "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="l2", lists=[33], storage=storage),
        )
        exact = brute_topk(clustered_df, q, 10)
        got = [
            r.id for r in idx.search(q, k=10, probes=None, rerank_factor=None).collect()
        ]
        recall = len(set(got) & set(exact)) / 10.0
        assert recall >= min_recall, f"{storage} recall {recall}"
        # quantized rerank distances stay close to the true distances
        d_true = dict(
            (r.id, r.d)
            for r in clustered_df.select(
                "id",
                __import__("vectorchord_spark.functions", fromlist=["distances"])
                .distances.l2("vec", __import__("vectorchord_spark.functions", fromlist=["distances"]).distances.vec_lit(q))
                .alias("d"),
            ).collect()
        )
        for r in idx.search(q, k=10, probes=None, rerank_factor=None).collect():
            assert abs(r.dist - d_true[r.id]) < (0.1 if storage == "rabitq8" else 0.8)


def test_search_batch(spark, clustered_df):
    """Batch multi-query search: exhaustive config equals per-query brute
    force; probed config hits recall."""
    rng = np.random.default_rng(22)
    qs = [[float(x) for x in rng.uniform(-1, 1, 8)] for _ in range(4)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df, "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="l2", lists=[33]),
        )
        res = idx.search_batch(qs, k=10, probes=None, rerank_factor=None).collect()
        by_q = {}
        for r in res:
            by_q.setdefault(r.qid, []).append(r.id)
        for qi, q in enumerate(qs):
            assert by_q[qi] == brute_topk(clustered_df, q, 10)
        res2 = idx.search_batch(qs, k=10, probes=[16], rerank_factor=8).collect()
        by_q2 = {}
        for r in res2:
            by_q2.setdefault(r.qid, []).append(r.id)
        for qi, q in enumerate(qs):
            rec = len(set(by_q2[qi]) & set(brute_topk(clustered_df, q, 10))) / 10
            assert rec >= 0.8, (qi, rec)


def test_f16_storage(spark, clustered_df):
    """halfvec opclass semantics: store f16-truncated, compute in f32."""
    rng = np.random.default_rng(20)
    q = [float(x) for x in rng.uniform(-1, 1, 8)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df, "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="l2", lists=[33], storage="f16"),
        )
        exact = brute_topk(clustered_df, q, 10)
        got = [
            r.id for r in idx.search(q, k=10, probes=None, rerank_factor=None).collect()
        ]
        recall = len(set(got) & set(exact)) / 10.0
        assert recall >= 0.9
        # the stored payload is genuinely half-width: 2 bytes/dim packed
        # binary, with the f32 vector column all-null (null bitmap only in
        # parquet — no f32 bytes on disk)
        codes = spark.read.parquet(idx.codes_path)
        n_f32 = codes.where(F.col("vec").isNotNull()).count()
        assert n_f32 == 0
        row = codes.select(F.length("vec_f16").alias("n")).first()
        assert row.n == 2 * 8


def test_query_sampling(spark, clustered_df):
    """S14: Bernoulli query recorder with max_records cap."""
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df.limit(200), "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="l2", lists=[4]),
        )
        assert idx.sampled_queries().count() == 0
        idx.enable_query_sampling(rate=1.0, max_records=2)
        rng = np.random.default_rng(21)
        for _ in range(3):
            q = [float(x) for x in rng.uniform(-1, 1, 8)]
            idx.search(q, k=3, probes=[2], guarantee=False).collect()
        assert idx.sampled_queries().count() == 2  # capped
        got = idx.sampled_queries().first().query
        assert len(got) == 8


def test_meta_write_is_atomic(spark, clustered_df, monkeypatch):
    """A meta.json write that fails partway (here inside
    enable_query_sampling) leaves the previous meta in place and no temp
    file behind, so the index reopens as it was."""
    import json

    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "idx")
        idx = IvfIndex.build(
            spark, clustered_df.limit(200), "id", "vec", path,
            IvfOptions(metric="l2", lists=[4]),
        )
        before = dict(idx.meta)

        def torn_dump(obj, f, **kwargs):
            f.write(json.dumps(obj)[:20])
            raise OSError("no space left on device")

        monkeypatch.setattr(json, "dump", torn_dump)
        with pytest.raises(OSError, match="no space left"):
            idx.enable_query_sampling(rate=1.0, max_records=5)
        monkeypatch.undo()
        assert IvfIndex(spark, path).meta == before
        assert sorted(f for f in os.listdir(path) if f.startswith("meta")) == [
            "meta.json"
        ]


def test_guarantee_contract(spark, clustered_df):
    """The precise lazy-rerank contract: a probed search must equal brute
    force restricted to the rows of the probed clusters."""
    rng = np.random.default_rng(23)
    q = [float(x) for x in rng.uniform(-1, 1, 8)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df, "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="l2", lists=[33]),
        )
        from vectorchord_spark import kernels as K

        probed = idx._descend(K.rotate(np.asarray(q, np.float32)), [8])
        codes = spark.read.parquet(idx.codes_path)
        in_probed = codes.where(
            F.col("cluster_id").isin([int(c) for c in probed])
        ).select("id")
        restricted = clustered_df.join(in_probed, "id", "left_semi")
        want = brute_topk(restricted, q, 10)
        got = [r.id for r in idx.search(q, k=10, probes=[8], rerank_factor=2).collect()]
        assert got == want


def test_maxsim_threshold_estimation(spark, clustered_df):
    """estimation_by_threshold: -inf when probed cells cover the budget;
    ascending-frontier distance otherwise; raises the imputation floor."""
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df, "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="dot", lists=[33]),
        )
        rng = np.random.default_rng(24)
        q = [float(x) for x in rng.uniform(-1, 1, 8)]
        # probed cells (~8/33 of 5000 rows ≈ 1200 tuples) cover threshold=10
        assert idx.estimation_by_threshold(q, [8], 10) == float("-inf")
        # huge threshold consumes every unprobed cell → the farthest frontier
        est_all = idx.estimation_by_threshold(q, [8], 10**9)
        # small-but-uncovered threshold stops earlier → closer frontier
        est_near = idx.estimation_by_threshold(q, [8], 2000)
        assert est_near <= est_all
        assert est_all > float("-inf")
        sizes = idx.cluster_sizes()
        assert sum(sizes.values()) == 5000


def test_external_build(spark, clustered_df):
    """B7: prebuilt centroid table with validation."""
    rng = np.random.default_rng(18)
    centers = rng.uniform(-1, 1, size=(9, 8))
    rows = [(0, None, [0.0] * 8)]
    for i in range(9):
        rows.append((i + 1, 0, [float(x) for x in centers[i]]))
    cdf = spark.createDataFrame(rows, "id long, parent long, vector array<float>")
    q = [float(x) for x in rng.uniform(-1, 1, 8)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.from_centroid_table(
            spark, clustered_df, cdf, "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="l2"),
        )
        exact = brute_topk(clustered_df, q, 10)
        got = [r.id for r in idx.search(q, k=10, probes=None, rerank_factor=None).collect()]
        assert got == exact


def test_lazy_descent_matches_exact(spark, clustered_df):
    """Lazy upper-level descent (search.rs:95-157: RaBitQ estimate + error
    bound per level, exact re-score on pop) selects the same cells and
    returns the same rows as exact-scored descent on a 3-level tree."""
    from vectorchord_spark import kernels as K

    rng = np.random.default_rng(31)
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df, "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="l2", lists=[2, 8, 32]),
        )
        for probes in ([1, 3, 8], [2, 4, 16], [1, 1, 4]):
            q = rng.uniform(-1, 1, 8).astype(np.float32)
            q_rot = K.rotate(q)
            lazy = sorted(int(c) for c in idx._descend(q_rot, probes, lazy=True))
            exact = sorted(int(c) for c in idx._descend(q_rot, probes, lazy=False))
            assert lazy == exact
            r_lazy = idx.search(
                [float(x) for x in q], k=10, probes=probes, lazy_descent=True
            ).collect()
            r_exact = idx.search([float(x) for x in q], k=10, probes=probes).collect()
            assert [(r.id, round(r.dist, 9)) for r in r_lazy] == [
                (r.id, round(r.dist, 9)) for r in r_exact
            ]


def test_persisted_rdds_bounded_across_searches(spark, clustered_df):
    """Serving processes must not leak block-manager entries: 50 probed
    searches each of search and search_batch persist nothing, and 50
    in-index maxsim refine searches keep at most the one persisted
    candidate frame that the index holds (maxsim reads it twice)."""
    from vectorchord_spark.operators.maxsim import maxsim_search

    rng = np.random.default_rng(41)
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df, "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="l2", lists=[33]),
        )
        jsc = spark.sparkContext._jsc.sc()
        idx.search(rng.uniform(-1, 1, 8).tolist(), k=5, probes=8).count()
        baseline = jsc.getPersistentRDDs().size()
        for _ in range(50):
            q = rng.uniform(-1, 1, 8).tolist()
            idx.search(q, k=5, probes=8).count()
            idx.search_batch([q], k=5, probes=8).count()
        assert jsc.getPersistentRDDs().size() == baseline
        for _ in range(50):
            toks = [rng.uniform(-1, 1, 8).tolist() for _ in range(2)]
            maxsim_search(
                idx, lambda c: c, toks, k=5, per_token_candidates=20,
                probes=8, maxsim_refine=5,
            ).count()
        assert jsc.getPersistentRDDs().size() <= baseline + 1


def test_maxsim_refine_stage(spark):
    """maxsim_refine (reference scanners/maxsim.rs:601-692): rough pool +
    top-N exact rerank per token. A refine budget covering the whole pool
    must reproduce the all-exact result; a partial budget (rough tail
    values mix into the MaxSim sums) stays close. Needs a dimension where
    1-bit rough estimates can rank (64), not the 8-dim shared fixture."""
    from vectorchord_spark.operators.maxsim import maxsim_search

    rng = np.random.default_rng(33)
    # clustered docs (uniform data has near-tied MaxSim scores and any
    # bounded pool misses; structure makes the ranking decisive)
    centers = rng.uniform(-1, 1, size=(25, 64))
    docs_rows = [
        (
            d,
            [
                (centers[d % 25] + rng.normal(0, 0.1, 64)).tolist()
                for _ in range(4)
            ],
        )
        for d in range(250)
    ]
    docs = spark.createDataFrame(
        docs_rows, "doc_id long, vecs array<array<float>>"
    )
    tokens = [(centers[i] + rng.normal(0, 0.1, 64)).tolist() for i in range(3)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build_multivector(
            spark, docs, "doc_id", "vecs", os.path.join(tmp, "idx"),
            IvfOptions(metric="dot", lists=[8]),
        )
        exact = maxsim_search(
            idx, None, tokens, k=10, per_token_candidates=1 << 30, probes=None
        )
        want = {r.doc_id for r in exact.collect()}
        full = maxsim_search(
            idx, None, tokens, k=10, per_token_candidates=200, probes=None,
            maxsim_refine=200,
        )
        assert {r.doc_id for r in full.collect()} == want
        half = maxsim_search(
            idx, None, tokens, k=10, per_token_candidates=200, probes=None,
            maxsim_refine=100,
        )
        got = {r.doc_id for r in half.collect()}
        assert len(got & want) >= 5


def test_maxsim_refine_rerank_table(spark):
    """maxsim_refine with base_df on a rerank_in_index=False index (r05
    verdict #5: refine parity with single/batch KNN's rerank-in-table —
    the reference's rerank heap fetches from the heap for every storage,
    crates/vchordrq/src/rerank.rs:113-137). Full-budget refine fed by the
    exploded base table must equal the all-exact result; without base_df
    the payload-free index must refuse."""
    from pyspark.sql import functions as F

    from vectorchord_spark.operators.maxsim import maxsim_search

    rng = np.random.default_rng(55)
    centers = rng.uniform(-1, 1, size=(20, 64))
    docs_rows = [
        (d, [(centers[d % 20] + rng.normal(0, 0.1, 64)).tolist() for _ in range(3)])
        for d in range(150)
    ]
    docs = spark.createDataFrame(
        docs_rows, "doc_id long, vecs array<array<float>>"
    )
    tokens = [(centers[i] + rng.normal(0, 0.1, 64)).tolist() for i in range(3)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build_multivector(
            spark, docs, "doc_id", "vecs", os.path.join(tmp, "idx"),
            IvfOptions(metric="dot", lists=[8], rerank_in_index=False),
        )
        base = docs.select(
            F.col("doc_id").cast("long").alias("_doc"),
            F.posexplode("vecs").alias("_tok", "vec"),
        ).select(
            (F.col("_doc") * (1 << IvfIndex.TOKEN_BITS) + F.col("_tok"))
            .cast("long")
            .alias("id"),
            "vec",
        )
        exact = maxsim_search(
            idx, None, tokens, k=10, per_token_candidates=1 << 30,
            probes=None, base_df=base,
        )
        want = [(r.doc_id, round(float(r.score), 6)) for r in exact.collect()]
        full = maxsim_search(
            idx, None, tokens, k=10, per_token_candidates=1 << 30,
            probes=None, maxsim_refine=1 << 30, base_df=base,
        )
        got = [(r.doc_id, round(float(r.score), 6)) for r in full.collect()]
        assert got == want
        with pytest.raises(NotImplementedError):
            maxsim_search(
                idx, None, tokens, k=10, per_token_candidates=8,
                probes=None, maxsim_refine=4,
            )


def test_maxsim_refine_cos_metric(spark):
    """Refine under the cos metric must normalize queries the same way
    search_batch does — a full-pool refine budget must reproduce the
    all-exact result on a cosine multivector index."""
    from vectorchord_spark.operators.maxsim import maxsim_search

    rng = np.random.default_rng(44)
    centers = rng.uniform(-1, 1, size=(20, 64))
    docs_rows = [
        (d, [(centers[d % 20] + rng.normal(0, 0.1, 64)).tolist() for _ in range(3)])
        for d in range(150)
    ]
    docs = spark.createDataFrame(docs_rows, "doc_id long, vecs array<array<float>>")
    tokens = [(3.0 * centers[i] + rng.normal(0, 0.1, 64)).tolist() for i in range(2)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build_multivector(
            spark, docs, "doc_id", "vecs", os.path.join(tmp, "idx"),
            IvfOptions(metric="cos", lists=[8]),
        )
        exact = maxsim_search(
            idx, None, tokens, k=10, per_token_candidates=1 << 30, probes=None
        )
        # exhaustive pool isolates the refine-path query normalization:
        # with every (doc, token) pair exact-reranked there is no
        # estimation floor and the result must be row-identical
        full = maxsim_search(
            idx, None, tokens, k=10, per_token_candidates=1 << 30, probes=None,
            maxsim_refine=1 << 30,
        )
        want = [(r.doc_id, round(r.score, 6)) for r in exact.collect()]
        got = [(r.doc_id, round(r.score, 6)) for r in full.collect()]
        assert got == want


def test_search_batch_quantized_storage(spark, clustered_df):
    """search_batch over rabitq8 storage: the batch dequantized rerank must
    agree row-for-row with the single-query quantized search path."""
    rng = np.random.default_rng(55)
    queries = [rng.uniform(-1, 1, 8).tolist() for _ in range(4)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df, "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="l2", lists=[33], storage="rabitq8"),
        )
        batch = idx.search_batch(queries, k=5, probes=None, rerank_factor=None)
        rows = batch.collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r.qid, []).append((r.id, round(r.dist, 9)))
        for qi, q in enumerate(queries):
            single = [
                (r.id, round(r.dist, 9))
                for r in idx.search(q, k=5, probes=None, rerank_factor=None).collect()
            ]
            assert by_q[qi] == single


_MATCH_CASES = {
    "f32": {},
    "f16": {"storage": "f16"},
    "rabitq8": {"storage": "rabitq8"},
    "rabitq4": {"storage": "rabitq4"},
    "base_df": {"rerank_in_index": False},
    "dot": {"metric": "dot"},
    "cos": {"metric": "cos"},
    "residual": {"residual_quantization": True},
}


@pytest.mark.parametrize("case", list(_MATCH_CASES))
def test_search_matches_search_batch(spark, clustered_df, case):
    """search(q) and search_batch([q]) share the query prep, the rough-
    scoring kernel and the storage-dispatched rerank, so they return
    identical (id, dist) rows for every storage, rerank-in-table
    (base_df), every metric and residual quantization: on the exhaustive
    rerank and on the top-m-by-lb rerank with and without the guarantee
    pass."""
    rng = np.random.default_rng(61)
    q = [float(x) for x in rng.uniform(-1, 1, 8)]
    opts = IvfOptions(**{"metric": "l2", "lists": [33], **_MATCH_CASES[case]})
    kw = {"base_df": clustered_df.select("id", "vec")} if case == "base_df" else {}
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df, "id", "vec", os.path.join(tmp, "idx"), opts
        )

        def batch(**opt):
            rows = idx.search_batch([q], k=10, probes=[16], **opt, **kw).collect()
            return [(r.id, r.dist) for r in sorted(rows, key=lambda r: r.rank)]

        def single(**opt):
            rows = idx.search(q, k=10, probes=[16], **opt, **kw).collect()
            return [(r.id, r.dist) for r in rows]

        want = batch(rerank_factor=None)
        assert len(want) == 10
        got = single(rerank_factor=None)
        assert got == want
        for guarantee in (True, False):
            want = batch(rerank_factor=4, guarantee=guarantee)
            assert len(want) == 10
            got = single(rerank_factor=4, guarantee=guarantee)
            assert got == want, guarantee


def test_search_breaks_lb_ties_by_id(spark):
    """Planted duplicates: every vector appears 6 times, so its copies
    share one code and one lower bound. The top-m-by-lb candidate cut must
    break those ties by id in search as in search_batch, or search(q)
    returns other copies than search_batch([q]) at equal distance."""
    rng = np.random.default_rng(71)
    base = rng.uniform(-1, 1, size=(200, 8))
    rows = [
        (i * 6 + c, [float(x) for x in base[i]]) for i in range(200) for c in range(6)
    ]
    df = spark.createDataFrame(rows, "id long, vec array<float>")
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, df, "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="l2", lists=[8]),
        )
        opt = {"k": 9, "probes": [8], "rerank_factor": 1, "guarantee": False}
        for _ in range(8):
            q = [float(x) for x in rng.uniform(-1, 1, 8)]
            got = idx.search(q, **opt).collect()
            want = sorted(idx.search_batch([q], **opt).collect(), key=lambda r: r.rank)
            assert [(r.id, r.dist) for r in got] == [(r.id, r.dist) for r in want]


@pytest.mark.parametrize("length", [1, 9])
def test_ivf_rejects_wrong_dimension(spark, clustered_df, length):
    """A query whose length is not the index dimension (8) fails with a
    ValueError in every IVF query entry point, before any Spark job runs
    or query sampling records it."""
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df.limit(500), "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="cos", lists=[4]),
        )
        idx.enable_query_sampling(rate=1.0)
        q = [0.5] * length
        calls = [
            lambda: idx.search(q, k=3),
            lambda: idx.search_batch([q], k=3),
            lambda: idx.probed_union([q], 2),
            lambda: idx.estimation_by_threshold(q, 2, 10),
        ]
        sc = spark.sparkContext
        group = f"ivf-wrong-dim-{length}"
        sc.setJobGroup(group, "wrong-dimension IVF query")
        try:
            for call in calls:
                with pytest.raises(ValueError, match="query dimension"):
                    call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert not os.path.exists(idx._queries_log_path)


def test_search_batch_rerank_in_table(spark, clustered_df):
    """search_batch(base_df=...) reranks against the caller's table: an
    index built with rerank_in_index=False stores no payload, so batch
    serving must (a) refuse without base_df and (b) be exact with it —
    the batch analogue of Q5 (reference rerank.rs:113-137, whose rerank
    heap works for every storage)."""
    rng = np.random.default_rng(23)
    qs = [[float(x) for x in rng.uniform(-1, 1, 8)] for _ in range(3)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df, "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="l2", lists=[33], rerank_in_index=False),
        )
        with pytest.raises(ValueError, match="base_df"):
            idx.search_batch(qs, k=10, probes=None, rerank_factor=None)
        res = idx.search_batch(
            qs, k=10, probes=None, rerank_factor=None, base_df=clustered_df
        ).collect()
        by_q = {}
        for r in res:
            by_q.setdefault(r.qid, []).append(r.id)
        for qi, q in enumerate(qs):
            assert by_q[qi] == brute_topk(clustered_df, q, 10)


def test_rerank_in_table_bad_rows(spark, clustered_df):
    """base_df rows that cannot be reranked never reach the answer, with
    exhaustive probes: a NULL vector is skipped (as at build), ids missing
    from base_df are not candidates — so search (guarantee on, and
    rerank_factor=None) and search_batch return k rows equal to brute
    force over the valid base rows, and search(guarantee=False) k rows
    with distances — and a vector whose length is not the index
    dimension fails the query with an error naming base_df."""
    rng = np.random.default_rng(43)
    qs = [[float(x) for x in rng.uniform(-1, 1, 8)] for _ in range(2)]
    kept = clustered_df.where(F.col("id") % 3 != 0).select("id", "vec")
    nearest = [brute_topk(kept, q, 1)[0] for q in qs]
    base = kept.select(
        "id",
        F.when(F.col("id").isin(nearest), F.lit(None))
        .otherwise(F.col("vec"))
        .alias("vec"),
    )
    valid = base.where(F.col("vec").isNotNull())
    want = [brute_topk(valid, q, 5) for q in qs]
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df, "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="l2", lists=[33], rerank_in_index=False),
        )
        for qi, q in enumerate(qs):
            for opt in ({}, {"rerank_factor": None}):
                got = idx.search(q, k=5, probes=None, base_df=base, **opt).collect()
                assert [r.id for r in got] == want[qi], opt
                assert all(r.dist is not None for r in got), got
            got = idx.search(q, k=5, probes=None, guarantee=False, base_df=base)
            got = got.collect()
            assert len(got) == 5 and all(r.dist is not None for r in got), got
            assert not {r.id for r in got} & set(nearest), got
        res = idx.search_batch(qs, k=5, probes=None, base_df=base).collect()
        by_q = {}
        for r in sorted(res, key=lambda r: (r.qid, r.rank)):
            assert r.dist is not None, r
            by_q.setdefault(r.qid, []).append(r.id)
        assert [by_q.get(qi) for qi in range(len(qs))] == want

        short = base.select(
            "id",
            F.when(F.col("id") == 1, F.slice("vec", 1, 5))
            .otherwise(F.col("vec"))
            .alias("vec"),
        )
        for call in (
            lambda: idx.search(qs[0], k=5, probes=None, base_df=short),
            lambda: idx.search_batch(qs, k=5, probes=None, base_df=short),
        ):
            with pytest.raises(Exception, match="base_df vector of length 5"):
                call().collect()


def test_search_batch_prefilter(spark, clustered_df):
    """search_batch(prefilter=...) restricts every query's candidates to
    the allowed ids before rerank (Q9 batch parity): exhaustive config
    equals brute force over the FILTERED table."""
    rng = np.random.default_rng(29)
    qs = [[float(x) for x in rng.uniform(-1, 1, 8)] for _ in range(3)]
    allowed = clustered_df.where(F.col("id") % 3 == 0).select("id")
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df, "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="l2", lists=[33]),
        )
        res = idx.search_batch(
            qs, k=10, probes=None, rerank_factor=None, prefilter=allowed
        ).collect()
        by_q = {}
        for r in res:
            by_q.setdefault(r.qid, []).append(r.id)
        filtered = clustered_df.where(F.col("id") % 3 == 0)
        for qi, q in enumerate(qs):
            assert by_q[qi] == brute_topk(filtered, q, 10)


def test_maxsim_refine_f16_storage(spark):
    """maxsim_refine beyond f32 storage (the round-4 parity gap): on an
    f16-storage multivector index, a full-pool refine budget reproduces
    the all-exact result row-identically (both paths rerank on the same
    f16 payload through the scan kernel's payload scorer)."""
    from vectorchord_spark.operators.maxsim import maxsim_search

    rng = np.random.default_rng(45)
    centers = rng.uniform(-1, 1, size=(20, 32))
    docs_rows = [
        (d, [(centers[d % 20] + rng.normal(0, 0.1, 32)).tolist() for _ in range(3)])
        for d in range(150)
    ]
    docs = spark.createDataFrame(docs_rows, "doc_id long, vecs array<array<float>>")
    tokens = [(centers[i] + rng.normal(0, 0.1, 32)).tolist() for i in range(2)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build_multivector(
            spark, docs, "doc_id", "vecs", os.path.join(tmp, "idx"),
            IvfOptions(metric="dot", lists=[8], storage="f16"),
        )
        exact = maxsim_search(
            idx, None, tokens, k=10, per_token_candidates=1 << 30, probes=None
        )
        full = maxsim_search(
            idx, None, tokens, k=10, per_token_candidates=1 << 30, probes=None,
            maxsim_refine=1 << 30,
        )
        want = [(r.doc_id, round(r.score, 6)) for r in exact.collect()]
        got = [(r.doc_id, round(r.score, 6)) for r in full.collect()]
        assert got == want


def test_lazy_descent_cos_metric(spark, clustered_df):
    """Lazy descent under the cos metric must select in the same space as
    exact descent (squared-l2 over normalized stored vectors — centroid
    norms vary, so dot-ordering is NOT selection-equivalent)."""
    from vectorchord_spark import kernels as K

    rng = np.random.default_rng(61)
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df, "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="cos", lists=[2, 8, 32]),
        )
        for probes in ([1, 3, 8], [2, 4, 16]):
            q = rng.uniform(-1, 1, 8)
            qn = q / np.linalg.norm(q)
            q_rot = K.rotate(qn.astype(np.float32))
            lazy = sorted(int(c) for c in idx._descend(q_rot, probes, lazy=True))
            exact = sorted(int(c) for c in idx._descend(q_rot, probes, lazy=False))
            assert lazy == exact


def test_degenerate_single_cluster(spark, clustered_df):
    """Skew floor: lists=[1] routes every row to one cluster (one bucket,
    one range) — the layout and search must stay exact."""
    rng = np.random.default_rng(77)
    q = [float(x) for x in rng.uniform(-1, 1, 8)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df, "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="l2", lists=[1]),
        )
        exact = brute_topk(clustered_df, q, 10)
        got = [
            r.id
            for r in idx.search(q, k=10, probes=None, rerank_factor=None).collect()
        ]
        assert got == exact


def test_bounded_sample_vectors(spark):
    """Shared build sampler (operators/sampling.py): bounded by cap,
    deterministic for a fixed (partitioning, seed), and drawn across
    partitions (per-partition bound — not a head-of-table take)."""
    import pandas as pd

    from vectorchord_spark.operators.sampling import bounded_sample_vectors

    df = (
        spark.range(10_000, numPartitions=8)
        .selectExpr("array(cast(id as float), cast(id % 7 as float)) as vec")
    )
    s1 = bounded_sample_vectors(df, 500, seed=5)
    assert isinstance(s1, pd.DataFrame) and 0 < len(s1) <= 500
    s2 = bounded_sample_vectors(df, 500, seed=5)
    ids1 = sorted(int(v[0]) for v in s1["vec"])
    ids2 = sorted(int(v[0]) for v in s2["vec"])
    assert ids1 == ids2, "same seed + partitioning must reproduce the sample"
    # rows are range-partitioned 1250/partition: a head-take of 500 would
    # come entirely from partition 0 (ids < 1250)
    assert max(ids1) > 5000, "sample must draw from late partitions too"
    s3 = bounded_sample_vectors(df, 500, seed=6)
    assert sorted(int(v[0]) for v in s3["vec"]) != ids1, "seed must matter"


def test_bounded_sample_plan_is_shuffle_free(spark):
    """Performance contract of the build sampler: the whole pass is one
    narrow pipeline (scan -> prefilter -> in-partition sort -> rank
    filter) with ZERO exchanges — at 100 TB the sample must cost one scan,
    not a shuffle of the surviving vector payload. Regression guard for
    the round-7 window-exchange removal."""
    from vectorchord_spark.operators.sampling import bounded_sample_plan
    from vectorchord_spark.plans import explain as P

    df = (
        spark.range(100_000, numPartitions=8)
        .selectExpr("array(cast(id as float)) as vec")
    )
    plan = P.explain_str(bounded_sample_plan(df, 3000, seed=11))
    assert "Exchange" not in plan, plan
    assert "Sort" in plan  # the in-partition rank sort is still there


def test_set_blas_threads_scoped_restore():
    """kernels.set_blas_threads returns the previous thread count so the
    driver k-means can scope its 1-thread pooled section; restoring must
    round-trip. Skipped when numpy isn't backed by OpenBLAS."""
    import pytest

    from vectorchord_spark import kernels as K

    prev = K.set_blas_threads(1)
    if prev is None:
        pytest.skip("no OpenBLAS runtime entry point in this numpy")
    try:
        assert K.set_blas_threads(2) == 1
        assert K.set_blas_threads(1) == 2
    finally:
        K.set_blas_threads(prev if prev > 0 else 1)


def test_hierarchical_kmeans_parallel_deterministic():
    """The thread-pooled per-cell Lloyd fits must give identical output
    across repeated calls (per-cell seeds + 1-thread BLAS make each cell
    independent of pool scheduling)."""
    import numpy as np

    from vectorchord_spark.operators import kmeans as KM

    rng = np.random.default_rng(3)
    samples = rng.standard_normal((6000, 32)).astype(np.float32)
    a = KM.hierarchical(samples, 100, 5, 42, False)
    b = KM.hierarchical(samples, 100, 5, 42, False)
    assert a.shape == (100, 32)
    assert np.array_equal(a, b)


def test_null_and_nonfinite_vectors(spark):
    """Reference contracts tests/fail/null.fail + tests/general/issue_427.slt:
    NULL vector rows must not break build/insert/search (they are simply
    absent from results), NaN/Inf rows index fine and sort after every
    finite distance, and an all-NULL table builds an empty-but-usable
    index."""
    rows = [(i, [0.001 * i, 0.001 * i, 0.001 * i]) for i in range(1, 101)]
    rows += [(1000 + i, [float("nan"), float("inf"), float("-inf")]) for i in range(100)]
    rows += [(2000 + i, None) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, vec array<float>")
    with tempfile.TemporaryDirectory() as tmp:
        # every storage's rerank path must emit NaN (not SQL NULL, which
        # sorts FIRST) for non-finite stored vectors — the pandas NaN/null
        # sentinel bug class; scorers use mapInArrow for exactly this
        for storage in ("f16", "rabitq8"):
            s_idx = IvfIndex.build(
                spark, df, "id", "vec", os.path.join(tmp, f"idx_{storage}"),
                IvfOptions(metric="l2", lists=[4], storage=storage),
            )
            s_got = s_idx.search([0.0031, 0.0031, 0.0031], k=10, probes=None,
                                 rerank_factor=None).collect()
            assert len(s_got) == 10
            assert all(r.id < 1000 for r in s_got), (storage, s_got)
        idx = IvfIndex.build(
            spark, df, "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="l2", lists=[4]),
        )
        got = idx.search([0.0031, 0.0031, 0.0031], k=10, probes=None,
                         rerank_factor=None).collect()
        assert len(got) == 10
        assert all(r.id < 1000 for r in got), "non-finite rows must rank last"
        assert got[0].id == 3  # nearest to 0.0031 on the 0.001-grid
        # insert path must also skip NULLs
        idx.insert(
            spark.createDataFrame(
                [(3000, [0.0032, 0.0032, 0.0032]), (3001, None)],
                "id long, vec array<float>",
            )
        )
        got2 = idx.search([0.0031, 0.0031, 0.0031], k=2, probes=None,
                          rerank_factor=None).collect()
        assert [r.id for r in got2] == [3000, 3]

        # issue_427: an ALL-NULL column still builds and searches (0 rows);
        # the declared dim stands in for the reference's vector(3) typmod
        nulls = spark.createDataFrame([(i, None) for i in range(50)],
                                      "id long, vec array<float>")
        idx2 = IvfIndex.build(
            spark, nulls, "id", "vec", os.path.join(tmp, "idx2"),
            IvfOptions(metric="l2", lists=[2], dim=3),
        )
        assert idx2.search([0.1, 0.1, 0.1], k=5, probes=None,
                           rerank_factor=None).count() == 0
        with pytest.raises(ValueError, match="dimension"):
            IvfIndex.build(
                spark, nulls, "id", "vec", os.path.join(tmp, "idx3"),
                IvfOptions(metric="l2", lists=[2]),
            )


def test_null_vectors_graph(spark):
    """Graph twin of the null and non-finite contract (issue_427 builds
    BOTH access methods over the all-NULL column): NULL rows are absent,
    and NaN/Inf rows rank after every finite row in ``search`` and
    ``search_batch``, with NaN distances, never SQL NULL (which sorts
    first)."""
    import math

    from vectorchord_spark.operators.graph import VamanaIndex, VamanaOptions

    rows = [(i, [0.001 * i, 0.001 * i, 0.001 * i]) for i in range(1, 101)]
    rows += [(1000 + i, [float("nan"), float("inf"), float("-inf")]) for i in range(100)]
    rows += [(2000 + i, None) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, vec array<float>")
    q = [0.0031, 0.0031, 0.0031]
    with tempfile.TemporaryDirectory() as tmp:
        gidx = VamanaIndex.build(spark, df, "id", "vec", os.path.join(tmp, "g"))
        got = gidx.search(q, k=10).collect()
        assert len(got) == 10 and all(r.id < 1000 for r in got), got
        assert all(r.dist is not None and math.isfinite(r.dist) for r in got), got
        assert got[0].id == 3  # nearest to 0.0031 on the 0.001-grid
        batch = gidx.search_batch([q, q], k=10).collect()
        assert len(batch) == 20 and all(r.id < 1000 for r in batch), batch
        assert all(r.dist is not None and math.isfinite(r.dist) for r in batch), batch
        # past the finite rows: the non-finite ones, NaN and not NULL
        full = gidx.search(q, k=150).collect()
        assert len(full) == 150
        assert {r.id for r in full[:100]} == set(range(1, 101))
        assert all(r.id >= 1000 and r.dist is not None and math.isnan(r.dist)
                   for r in full[100:]), full[100:]


_DRIFT_CASES = {
    f"{storage}-{metric}": {"storage": storage, "metric": metric}
    for storage in ("f32", "f16", "rabitq8", "rabitq4")
    for metric in ("l2", "dot", "cos")
}
_DRIFT_CASES["residual"] = {"residual_quantization": True}


def _hex_rows(rows) -> list:
    """Collected rows as tuples, floats as ``float.hex`` (bit-exact)."""
    return [
        tuple(v.hex() if isinstance(v, float) else v for v in r) for r in rows
    ]


@pytest.mark.parametrize("case", list(_DRIFT_CASES))
def test_cell_reader_matches_codes_scan(spark, clustered_df, case):
    """The plain path (each task reads its probed cells through the
    Python worker's cell cache) returns the same ids and bit-identical
    distances as the Spark codes scan, reached by a ``prefilter`` that
    holds every id: ``search`` with the guarantee on and off, under
    ``max_scan_tuples`` and with ``rerank_factor=None``, ``search_batch``,
    ``range_search`` and the maxsim pool (``_rough_pool``), after build,
    after ``delete``, after ``insert`` and after ``compact``."""
    rng = np.random.default_rng(83)
    Q = rng.uniform(-1, 1, (3, 8)).tolist()
    everyone = spark.range(0, 5000).select(F.col("id"))
    opts = IvfOptions(**{"metric": "l2", "lists": [33], **_DRIFT_CASES[case]})
    probes = [8]

    def answers(idx, **pf) -> list:
        out = []
        for mode in (
            {"rerank_factor": None},
            {"guarantee": True},
            {"guarantee": False},
            {"max_scan_tuples": 25},
        ):
            out.append(idx.search(Q[0], k=10, probes=probes, **mode, **pf))
        for mode in ({"rerank_factor": None}, {"guarantee": True}, {"guarantee": False}):
            out.append(idx.search_batch(Q, k=10, probes=probes, **mode, **pf))
        # the pool's exact head: maxsim reads ``dist`` only for rank ≤ refine
        pool = idx._rough_pool(Q, 20, probes, 1.9, refine=5, **pf)
        out.append(
            pool.withColumn("dist", F.when(F.col("rank") <= 5, F.col("dist")))
            .orderBy("qid", "rank")
        )
        radius = idx.search(Q[1], k=30, probes=probes, rerank_factor=None).collect()[-1].dist
        if pf:
            full = idx.search(
                Q[1], k=2**31 - 1, probes=probes, rerank_factor=None, **pf
            )
            out.append(full.where(F.col("dist") < radius))
        else:
            out.append(idx.range_search(Q[1], radius, probes=probes))
        return [_hex_rows(df.collect()) for df in out]

    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df.where("id < 4000"), "id", "vec",
            os.path.join(tmp, "idx"), opts,
        )
        for state, change in (
            ("build", lambda: None),
            ("delete", lambda: idx.delete([i for i in range(4000) if i % 7 == 0])),
            ("insert", lambda: idx.insert(clustered_df.where("id >= 4000"))),
            ("compact", idx.compact),
        ):
            change()
            want = answers(idx, prefilter=everyone)
            got = answers(idx)
            assert all(want), (state, want)
            assert got == want, state


def test_cell_cache_follows_dml(spark, clustered_df):
    """With every cell already in the Python workers' caches (prewarm),
    a new search sees each insert, delete and compact, while a search
    DataFrame built before an insert and collected after it returns the
    pre-insert answer (it keeps the files it was built over)."""
    target = clustered_df.where("id = 4500").first()
    q = list(target.vec)
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df.where("id < 4000"), "id", "vec",
            os.path.join(tmp, "idx"), IvfOptions(metric="l2", lists=[33]),
        )
        assert idx.prewarm() == 4000

        def top(df) -> list:
            return [r.id for r in df.collect()]

        stale = idx.search(q, k=5, probes=None)
        before = top(idx.search(q, k=5, probes=None))
        assert before == brute_topk(clustered_df.where("id < 4000"), q, 5)
        idx.insert(clustered_df.where("id >= 4000"))
        assert top(stale) == before
        assert top(idx.search(q, k=5, probes=None)) == brute_topk(clustered_df, q, 5)
        assert top(idx.search(q, k=5, probes=None))[0] == 4500
        idx.delete([4500])
        rest = clustered_df.where("id != 4500")
        assert top(idx.search(q, k=5, probes=None)) == brute_topk(rest, q, 5)
        idx.compact()
        assert idx.prewarm() == 4999
        assert top(idx.search(q, k=5, probes=None)) == brute_topk(rest, q, 5)
        assert [r.id for r in idx.search_batch([q], k=5).collect()] == brute_topk(
            rest, q, 5
        )


def test_ivf_missing_codes_file_raises(spark, clustered_df, monkeypatch):
    """A codes file removed under the index fails search, search_batch
    and prewarm instead of answering from the remaining files, also after
    every cell was read into the Python workers' caches and into this
    process's cache (the IVF twin of test_graph_missing_shard_raises)."""
    import re

    import vectorchord_spark.operators.graph as G
    import vectorchord_spark.operators.ivf as I

    q = [0.1] * 8
    with tempfile.TemporaryDirectory() as tmp:
        idx = IvfIndex.build(
            spark, clustered_df, "id", "vec", os.path.join(tmp, "idx"),
            IvfOptions(metric="l2", lists=[33]),
        )
        assert idx.prewarm() == 5000
        assert len(idx.search(q, k=10, probes=None).collect()) == 10
        names, _ = idx._codes_snapshot()
        assert len(names) > 1
        cache = G._ShardCache(1 << 30)
        monkeypatch.setattr(G, "_SHARD_CACHE", cache)
        cells = np.arange(33)
        assert I._read_cells(idx.codes_path, names, cells, I._SCAN_COLS).num_rows == 5000
        assert len(cache._entries) == 33
        os.remove(os.path.join(idx.codes_path, names[0]))
        gone = re.escape(names[0])
        with pytest.raises(FileNotFoundError, match=gone):
            I._read_cells(idx.codes_path, names, cells, I._SCAN_COLS)
        with pytest.raises(Exception, match=gone):
            idx.search(q, k=10, probes=None).collect()
        with pytest.raises(Exception, match=gone):
            idx.search_batch([q, q], k=10).collect()
        with pytest.raises(Exception, match=gone):
            idx.prewarm()
