"""Vamana graph index tests (vchordg parity: build → search recall,
multi-shard layout, cosine/dot metrics)."""

import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from vectorchord_spark.operators.graph import (
    VamanaIndex,
    VamanaOptions,
    _beam_search,
    _build_vamana,
    _build_vamana_bulk,
    _dists,
)


@pytest.fixture(scope="module")
def vec_df(spark):
    rng = np.random.default_rng(3)
    centers = rng.uniform(-1, 1, size=(20, 16))
    rows = []
    for i in range(3000):
        c = centers[i % 20] + rng.normal(0, 0.1, 16)
        rows.append((i, [float(x) for x in c]))
    return spark.createDataFrame(rows, "id long, vec array<float>").cache()


def brute_topk(df, q, k, metric="l2"):
    from vectorchord_spark.functions import distances as D

    dist = D.output_distance(metric, "vec", D.vec_lit(q))
    return [
        r.id
        for r in df.select("id", dist.alias("d")).orderBy("d", "id").limit(k).collect()
    ]


def test_vamana_unit_build():
    """Graph invariants: degree ≤ m, connectivity from medoid."""
    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(500, 8)).astype(np.float32)
    opts = VamanaOptions(m=16, ef_construction=32)
    adj, medoid = _build_vamana(vecs, opts, np.random.default_rng(42))
    assert all(len(a) <= 16 for a in adj)
    # BFS from medoid reaches (almost) everything
    seen = {medoid}
    frontier = [medoid]
    while frontier:
        u = frontier.pop()
        for v in adj[u]:
            if v not in seen:
                seen.add(v)
                frontier.append(v)
    assert len(seen) >= 495


def test_bulk_build_clustered_recall():
    """The bulk build must keep inter-cluster shortcut edges: a pure-kNN
    candidate pool on clustered data yields a graph whose clusters are
    mutually unreachable by beam search (measured recall@10 ~0.74); the
    random-candidate augmentation restores incremental-build recall."""
    rng = np.random.default_rng(0)
    n, d = 6000, 32
    centers = rng.normal(size=(30, d)).astype(np.float32) * 5
    vecs = (
        centers[rng.integers(0, 30, n)] + rng.normal(size=(n, d)).astype(np.float32)
    ).astype(np.float32)
    opts = VamanaOptions()
    adj, medoid = _build_vamana_bulk(vecs, opts, np.random.default_rng(1))
    # connectivity bridges may push a few degrees past m; the bulk prune
    # itself must respect it for the overwhelming majority
    assert sum(len(a) > opts.m for a in adj) < n // 100
    v64 = vecs.astype(np.float64)
    qs = (centers[rng.integers(0, 30, 40)] + rng.normal(size=(40, d))).astype(
        np.float64
    )
    hits = 0
    for q in qs:
        dall = _dists("l2", v64, q)
        gt = set(np.argsort(dall)[:10].tolist())
        res = _beam_search(lambda ids: dall[np.asarray(ids)], adj, medoid, 64)
        hits += len(gt & set(i for _, i in sorted(res)[:10]))
    assert hits / 400 >= 0.95, f"bulk clustered recall {hits / 400}"


def test_build_mode_dispatch(monkeypatch):
    """build_mode and the oversized-shard safety valve pick the right
    constructor: bulk by default, incremental when forced or when the
    shard exceeds _BULK_MAX_ROWS (where the bulk O(n²) candidate pass
    would cost more than the insert loop)."""
    import vectorchord_spark.operators.graph as G

    calls = []
    monkeypatch.setattr(
        G, "_build_vamana", lambda v, o, r: (calls.append("incr"), ([[]] * len(v), 0))[1]
    )
    monkeypatch.setattr(
        G,
        "_build_vamana_bulk",
        lambda v, o, r: (calls.append("bulk"), ([[]] * len(v), 0))[1],
    )
    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(50, 4)).astype(np.float32)
    G._build_graph(vecs, VamanaOptions(), rng)
    G._build_graph(vecs, VamanaOptions(build_mode="incremental"), rng)
    monkeypatch.setattr(G, "_BULK_MAX_ROWS", 10)
    G._build_graph(vecs, VamanaOptions(), rng)
    assert calls == ["bulk", "incr", "incr"]


def test_bulk_build_tiny_inputs():
    """Degenerate shard sizes must not crash the batched code paths."""
    rng = np.random.default_rng(0)
    for n in (0, 1, 2, 5):
        vv = rng.normal(size=(n, 8)).astype(np.float32)
        adj, medoid = _build_vamana_bulk(vv, VamanaOptions(), np.random.default_rng(0))
        assert len(adj) == n
        if n > 1:
            assert all(len(a) >= 1 for a in adj)


@pytest.mark.parametrize("metric", ["l2", "cos", "dot"])
def test_graph_search_recall(spark, vec_df, metric):
    rng = np.random.default_rng(5)
    q = [float(x) for x in rng.uniform(-1, 1, 16)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = VamanaIndex.build(
            spark, vec_df, "id", "vec", os.path.join(tmp, "g"),
            VamanaOptions(metric=metric, m=24, ef_construction=48, n_shards=4),
        )
        exact = brute_topk(vec_df, q, 10, metric)
        got = [r.id for r in idx.search(q, k=10, ef_search=64).collect()]
        recall = len(set(got) & set(exact)) / 10.0
        assert recall >= 0.9, f"{metric} recall {recall}"


def test_graph_sharding_layout(spark, vec_df):
    with tempfile.TemporaryDirectory() as tmp:
        idx = VamanaIndex.build(
            spark, vec_df, "id", "vec", os.path.join(tmp, "g"),
            VamanaOptions(n_shards=4),
        )
        shards = [
            d for d in os.listdir(idx.graph_path) if d.startswith("shard=")
        ]
        assert len(shards) == 4
        # closure replication adds boundary copies: >= one row per vector
        assert idx.prewarm() >= 3000
        g = spark.read.parquet(idx.graph_path)
        assert g.where("is_primary").count() == 3000


def test_graph_shard_routing(spark, vec_df):
    """Routed search (probe_shards < n_shards) keeps recall on clustered
    data AND partition-prunes the graph scan to the probed shards only —
    the 'search must not scan all shards' contract."""
    from vectorchord_spark.plans import explain as P

    rng = np.random.default_rng(7)
    q = [float(x) for x in rng.uniform(-1, 1, 16)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = VamanaIndex.build(
            spark, vec_df, "id", "vec", os.path.join(tmp, "g"),
            VamanaOptions(metric="l2", m=24, ef_construction=48, n_shards=8),
        )
        exact = brute_topk(vec_df, q, 10)
        res = idx.search(q, k=10, ef_search=64, probe_shards=2)
        got = [r.id for r in res.collect()]
        recall = len(set(got) & set(exact)) / 10.0
        assert recall >= 0.9, f"routed recall {recall}"
        # IO assertion (r13 shape): the serve plan carries NO parquet
        # scan and NO exchange — each task reads its own probed shard's
        # directory via pyarrow (candidates move, graph payloads don't);
        # the legacy grouped path's FlatMapGroupsInPandas is gone too
        txt = P.explain_str(res)
        # graph rows never enter the plan, so no exchange can carry them;
        # the only exchange left (if any) dedupes the tiny candidate rows
        assert "Scan parquet" not in txt, txt
        assert "FlatMapGroupsInPandas" not in txt, txt
        assert "MapInPandas" in txt, txt
        assert "ExistingRDD" in txt, txt


def test_graph_quantized_traversal_payload(spark, vec_df):
    """Vertex codes are 2-bit (nibble-packed): the traversal payload per
    vertex is d/4 code bytes + metadata, 8x smaller than the f32 vector."""
    with tempfile.TemporaryDirectory() as tmp:
        idx = VamanaIndex.build(
            spark, vec_df, "id", "vec", os.path.join(tmp, "g"),
            VamanaOptions(n_shards=2, bits=2),
        )
        row = spark.read.parquet(idx.graph_path).select("code").first()
        assert len(row.code) == 16 // 2  # 16 dims, 2 bits → nibble-packed


def test_graph_serve_path_equivalence(spark, vec_df):
    """The per-shard reader hands each task the WHOLE shard, which
    positional row_no indexing needs: every task sees row_no 0..n-1 of
    its shard, and every (id, dist) that search and search_batch return
    is the exact distance of that id in vec_df (a split shard corrupts
    row_no indexing). search(q) equals search_batch([q]) (one shard
    kernel), and results stay identical after prewarm()."""
    import pandas as pd

    from vectorchord_spark.functions import distances as D

    rng = np.random.default_rng(17)
    q = [float(x) for x in rng.uniform(-1, 1, 16)]
    qs = [[float(x) for x in rng.uniform(-1, 1, 16)] for _ in range(3)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = VamanaIndex.build(
            spark, vec_df, "id", "vec", os.path.join(tmp, "g"),
            VamanaOptions(metric="l2", m=24, ef_construction=48, n_shards=4),
        )

        def task_view(grp, shard):
            rows = np.sort(grp["row_no"].to_numpy())
            whole = bool(np.array_equal(rows, np.arange(len(rows))))
            return pd.DataFrame({"shard": [shard], "n": [len(rows)], "whole": [whole]})

        seen = {
            r.shard: (r.n, r.whole)
            for r in idx._shard_candidates(
                list(range(idx.meta["n_shards"])),
                task_view,
                "shard int, n long, whole boolean",
            ).collect()
        }
        stored = (
            spark.read.parquet(idx.graph_path).groupBy("shard").count().collect()
        )
        assert seen == {r["shard"]: (r["count"], True) for r in stored}

        def exact(qv):
            d = D.output_distance("l2", "vec", D.vec_lit(qv))
            return {r.id: r.d for r in vec_df.select("id", d.alias("d")).collect()}

        def srch():
            return [
                (r.id, r.dist)
                for r in idx.search(q, k=10, ef_search=64, probe_shards=2).collect()
            ]

        def bsrch(queries):
            return sorted(
                (r.qid, r.id, r.dist, r.rank)
                for r in idx.search_batch(
                    queries, k=10, ef_search=64, probe_shards=2
                ).collect()
            )

        s_rows, b_rows = srch(), bsrch(qs)
        ex = exact(q)
        assert len(s_rows) == 10
        assert all(d == ex[i] for i, d in s_rows)
        ex_b = [exact(qv) for qv in qs]
        assert sorted({r[0] for r in b_rows}) == [0, 1, 2]
        assert len(b_rows) == 30
        assert all(d == ex_b[qi][i] for qi, i, d, _ in b_rows)
        one = sorted(bsrch([q]), key=lambda r: r[3])
        assert [(i, d) for _, i, d, _ in one] == s_rows
        # prewarm reads through the same per-shard reader; results stable
        assert idx.prewarm() >= 3000
        assert srch() == s_rows
        assert bsrch(qs) == b_rows


def test_graph_search_batch(spark, vec_df):
    """Batched multi-query routed search: one pass, per-query top-k."""
    rng = np.random.default_rng(11)
    qs = [[float(x) for x in rng.uniform(-1, 1, 16)] for _ in range(4)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = VamanaIndex.build(
            spark, vec_df, "id", "vec", os.path.join(tmp, "g"),
            VamanaOptions(metric="l2", m=24, ef_construction=48, n_shards=4),
        )
        res = idx.search_batch(qs, k=10, ef_search=64, probe_shards=2).collect()
        by_q = {}
        for r in res:
            by_q.setdefault(r.qid, []).append(r.id)
        assert set(by_q) == {0, 1, 2, 3}
        for qi, q in enumerate(qs):
            assert len(by_q[qi]) == 10
            rec = len(set(by_q[qi]) & set(brute_topk(vec_df, q, 10))) / 10
            assert rec >= 0.8, (qi, rec)


@pytest.mark.parametrize("length", [1, 17])
def test_graph_search_rejects_wrong_dimension(spark, vec_df, length):
    """A query whose length is not the index dimension (16) fails on the
    driver with a ValueError, before it is routed, recorded by query
    sampling, or runs any Spark job."""
    with tempfile.TemporaryDirectory() as tmp:
        idx = VamanaIndex.build(
            spark, vec_df, "id", "vec", os.path.join(tmp, "g"),
            VamanaOptions(metric="l2", m=24, ef_construction=48, n_shards=2),
        )
        idx.enable_query_sampling(rate=1.0)
        sc = spark.sparkContext
        group = f"graph-wrong-dim-{length}"
        sc.setJobGroup(group, "wrong-dimension graph query")
        try:
            with pytest.raises(ValueError, match="query dimension"):
                idx.search([0.5] * length, k=10)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert not os.path.exists(idx._queries_log_path)


def test_graph_insert_delete_compact(spark, vec_df):
    """vchordg DML lifecycle (insert.rs:34-395 + bulkdelete/vacuum): build
    on a subset, incremental insert, tombstone delete, compact — the
    exhaustive full-traversal search must equal brute force over exactly
    the surviving rows at every stage."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(9)
    q = [float(x) for x in rng.uniform(-1, 1, 16)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = VamanaIndex.build(
            spark, vec_df.where("id < 2500"), "id", "vec", os.path.join(tmp, "g"),
            VamanaOptions(metric="l2", m=24, ef_construction=48, n_shards=3),
        )
        idx.insert(vec_df.where("id >= 2500"), "id", "vec")
        exact_all = brute_topk(vec_df, q, 10)
        got = [
            r.id
            for r in idx.search(q, k=10, ef_search=1 << 20, probe_shards=None).collect()
        ]
        assert got == exact_all
        idx.delete(vec_df.where(F.col("id") % 11 == 0).select("id"))
        surviving = vec_df.where(F.col("id") % 11 != 0)
        exact_surv = brute_topk(surviving, q, 10)
        got2 = [
            r.id
            for r in idx.search(q, k=10, ef_search=1 << 20, probe_shards=None).collect()
        ]
        assert got2 == exact_surv
        idx.compact()
        assert not os.path.exists(idx._tombstones_path)
        got3 = [
            r.id
            for r in idx.search(q, k=10, ef_search=1 << 20, probe_shards=None).collect()
        ]
        assert got3 == exact_surv
        # degree bound survives the incremental inserts + rebuild (bridge
        # edges from connectivity repair may exceed m by a handful)
        import pandas as pd

        # neighbors are packed int32 bytes (4 bytes per edge)
        deg = pd.read_parquet(idx.graph_path)["neighbors"].map(
            lambda b: len(b) // 4
        )
        assert deg.max() <= 24 + 8
        assert deg.mean() <= 24


def test_graph_auto_ef_search(spark, vec_df):
    """ef_search=None auto-scales the beam with probed shard size: meta
    records per-shard row counts at build, the default floors at the
    reference's 64 on small shards and grows ~rows/50 on big ones, and
    DML refreshes the counts (the round-4 verdict's top item: fixed ef=64
    left recall at 0.835 on 1M-row shards)."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(13)
    q = [float(x) for x in rng.uniform(-1, 1, 16)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = VamanaIndex.build(
            spark, vec_df, "id", "vec", os.path.join(tmp, "g"),
            VamanaOptions(metric="l2", m=24, ef_construction=48, n_shards=4),
        )
        rows = dict(idx.meta["shard_rows"])
        assert set(rows) == {"0", "1", "2", "3"}
        assert sum(rows.values()) >= 3000  # replicas included
        # small shards (~1k rows) floor at the reference default
        assert idx._auto_ef_search([0, 1], k=10) == 64
        # a large probed shard scales the beam: ceil(rows/50) — the
        # 10M-point guidance (rows/100 left recall at 0.905 there)
        idx.meta["shard_rows"]["1"] = 24_000
        assert idx._auto_ef_search([0, 1], k=10) == 480
        assert idx._auto_ef_search([0], k=10) == 64  # unprobed shard ignored
        idx.meta["shard_rows"] = rows  # restore truth for the search below
        # default-argument search works and is exact-grade at this scale
        got = [r.id for r in idx.search(q, k=10).collect()]
        assert len(set(got) & set(brute_topk(vec_df, q, 10))) >= 9
        # DML refreshes the recorded counts for the new graph version
        idx.delete(vec_df.where(F.col("id") % 7 == 0).select("id"))
        idx.compact()
        rows2 = idx.meta["shard_rows"]
        assert sum(rows2.values()) < sum(rows.values())


def test_graph_cluster_subsharding(spark, vec_df, monkeypatch):
    """Oversized clusters split into hash-subshards at build (bounded
    per-task build size under k-means skew) while ROUTING stays at
    cluster level: probed clusters expand to all their subshards, so
    routed recall, exhaustive-equals-brute-force, and DML insert land in
    the same physical shards as the build's hash split."""
    import vectorchord_spark.operators.graph as G

    monkeypatch.setattr(G, "_MAX_SHARD_ROWS", 600)  # force splits at 3k rows
    rng = np.random.default_rng(17)
    q = [float(x) for x in rng.uniform(-1, 1, 16)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = VamanaIndex.build(
            spark, vec_df.where("id < 2500"), "id", "vec", os.path.join(tmp, "g"),
            VamanaOptions(metric="l2", m=24, ef_construction=48, n_shards=2),
        )
        assert idx.meta["n_clusters"] == 2
        assert idx.meta["n_shards"] > 2  # splits happened
        subs = idx.meta["cluster_subshards"]
        assert sum(n for _, n in subs) == idx.meta["n_shards"]
        # every physical shard stays under the bound (hash split ± slack)
        assert max(idx.meta["shard_rows"].values()) <= 900
        # expansion covers every physical shard exactly once
        assert sorted(idx._expand_shards([0, 1])) == list(
            range(idx.meta["n_shards"])
        )
        # routed search keeps recall; exhaustive equals brute force
        exact = brute_topk(vec_df.where("id < 2500"), q, 10)
        got = [r.id for r in idx.search(q, k=10, probe_shards=1).collect()]
        assert len(set(got) & set(exact)) >= 8
        assert [
            r.id for r in idx.search(q, k=10, ef_search=1 << 20).collect()
        ] == exact
        # DML insert routes through the same hash split and stays exact
        idx.insert(vec_df.where("id >= 2500"), "id", "vec")
        exact_all = brute_topk(vec_df, q, 10)
        got2 = [
            r.id for r in idx.search(q, k=10, ef_search=1 << 20).collect()
        ]
        assert got2 == exact_all


def test_graph_query_sampling_and_recall(spark, vec_df):
    """S13/S14 parity for the graph index (shared QuerySampling mixin):
    served queries are recorded under the Bernoulli/cap contract and
    replay through evaluate_query_recall; exhaustive config reports 1.0."""
    rng = np.random.default_rng(31)
    qs = [[float(x) for x in rng.uniform(-1, 1, 16)] for _ in range(3)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = VamanaIndex.build(
            spark, vec_df, "id", "vec", os.path.join(tmp, "g"),
            VamanaOptions(metric="l2", m=24, ef_construction=48, n_shards=4),
        )
        assert idx.sampled_queries().count() == 0
        idx.enable_query_sampling(rate=1.0, max_records=2)
        for q in qs:
            idx.search(q, k=5, probe_shards=2).collect()
        logged = [list(r.query) for r in idx.sampled_queries().collect()]
        assert len(logged) == 2  # max_records caps the log
        r = idx.evaluate_query_recall(
            logged[0], k=10, ef_search=1 << 20, probe_shards=None
        )
        assert r == 1.0
        assert idx.evaluate_query_recall(logged[0], k=10, probe_shards=2) >= 0.8


def test_graph_insert_routed_recall(spark, vec_df):
    """Inserted vectors must be findable through ROUTED (non-exhaustive)
    search too — the closure assignment places them in the shards a nearby
    query probes."""
    rng = np.random.default_rng(21)
    q = [float(x) for x in rng.uniform(-1, 1, 16)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = VamanaIndex.build(
            spark, vec_df.where("id < 2500"), "id", "vec", os.path.join(tmp, "g"),
            VamanaOptions(metric="l2", m=24, ef_construction=48, n_shards=4),
        )
        idx.insert(vec_df.where("id >= 2500"), "id", "vec")
        exact = set(brute_topk(vec_df, q, 10))
        got = {
            r.id for r in idx.search(q, k=10, ef_search=64, probe_shards=3).collect()
        }
        assert len(got & exact) / 10.0 >= 0.9


def test_spark_int_hash_matches_jvm(spark):
    """_spark_int_hash must be bit-equal to F.hash on int32 columns — it
    is what makes the LPT golden keys land in their exact partitions."""
    from vectorchord_spark.operators.graph import _spark_int_hash

    vals = list(range(-40, 40)) + [12345, -7, 2**31 - 1, -(2**31)]
    df = spark.createDataFrame([(v,) for v in vals], "k int").select(
        "k", F.hash("k").alias("h")
    )
    for r in df.collect():
        assert _spark_int_hash(r["k"]) == r["h"], r["k"]


def test_lpt_partition_keys_land_exactly(spark):
    """Golden keys: key[p] must hash-partition to index p, end-to-end
    through a real repartition (spark_partition_id check), and the
    grouped build shape must reuse the repartition exchange (exactly one
    Exchange in the plan)."""
    import pandas as pd

    from vectorchord_spark.operators.graph import (
        _lpt_partition_keys,
        _spark_int_hash,
    )

    n = 37
    keys = _lpt_partition_keys(n)
    assert sorted(_spark_int_hash(k) % n for k in keys) == list(range(n))

    df = spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)], "pkey int, shard int"
    ).repartition(n, "pkey")
    rows = df.select(
        "pkey", "shard", F.spark_partition_id().alias("pid")
    ).collect()
    for r in rows:
        assert r["pid"] == _spark_int_hash(r["pkey"]) % n

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf[["shard"]]

    plan = (
        df.groupBy("pkey", "shard")
        .applyInPandas(f, "shard int")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_batch_robust_prune_dedup_shrunk_full_row_backfills():
    """The numerical corner where duplicate candidate ids are BOTH
    picked (dot metric: elig is cand_d < minD, satisfiable for a twin
    when p.u > u.u) closes the row at kept_n == m; after id-dedup the
    row is short and must backfill from never-taken candidates even
    though its avail row was zeroed at closing."""
    from vectorchord_spark.operators.graph import _batch_robust_prune

    v32 = np.array([[2.0, 0.0], [1.0, 0.0], [0.9, 0.0]], np.float32)
    # candidates of an implicit vertex p=[2,0]: ids (1, 1, 2) — a twin
    # pair then a near-dup; cand_d = -(p.u), ascending
    cand_ids = np.array([[1, 1, 2]], np.int64)
    cand_d = np.array([[-2.0, -2.0, -1.8]], np.float32)
    out = _batch_robust_prune(v32, "dot", [1.0], 2, cand_ids, cand_d)
    # greedy picks slot0 (id1) then slot1 (id1 again: -2 < minD=-1),
    # closing the row; dedup leaves [1]; backfill must add id2
    assert out == [[1, 2]]
