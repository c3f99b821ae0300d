"""Vamana graph index tests (vchordg parity: build → search recall,
multi-shard layout, cosine/dot metrics)."""

import os
import tempfile

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

import vectorchord_spark.operators.graph as G
from vectorchord_spark import kernels as K
from vectorchord_spark.operators.graph import (
    VamanaIndex,
    VamanaOptions,
    _beam_search,
    _build_vamana_bulk,
    _options_from_meta,
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
    adj, medoid = _build_vamana_bulk(vecs, opts, np.random.default_rng(42))
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
    random candidates in the pool supply those edges."""
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
        dall = K.exact_distances("l2", v64, q)
        gt = set(np.argsort(dall)[:10].tolist())
        res = _beam_search(lambda ids: dall[np.asarray(ids)], adj, medoid, 64)
        hits += len(gt & set(i for _, i in sorted(res)[:10]))
    assert hits / 400 >= 0.95, f"bulk clustered recall {hits / 400}"


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
        assert "MapInArrow" in txt and "MapInPandas" not in txt, txt
        assert "Range (" in txt and "ExistingRDD" not in txt, txt


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
    positional row_no indexing needs: every task's decoded shard holds
    the stored row count, its vertices in row_no order 0..n-1, and every
    (id, dist) that search and search_batch return
    is the exact distance of that id in vec_df (a split shard corrupts
    row_no indexing). search(q) equals search_batch([q]) (one shard
    kernel), and results stay identical after prewarm()."""
    from vectorchord_spark.functions import distances as D

    rng = np.random.default_rng(17)
    q = [float(x) for x in rng.uniform(-1, 1, 16)]
    qs = [[float(x) for x in rng.uniform(-1, 1, 16)] for _ in range(3)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = VamanaIndex.build(
            spark, vec_df, "id", "vec", os.path.join(tmp, "g"),
            VamanaOptions(metric="l2", m=24, ef_construction=48, n_shards=4),
        )

        def task_view(state, shard):
            # the decoded shard, in vertex order
            return pa.record_batch(
                [
                    pa.array([shard], pa.int32()),
                    pa.array([len(state.ids)], pa.int64()),
                    pa.array([state.ids.tobytes()]),
                ],
                names=["shard", "n", "ids"],
            )

        seen = {
            r.shard: (r.n, np.frombuffer(r.ids, np.int64).tolist())
            for r in idx._shard_candidates(
                list(range(idx.meta["n_shards"])),
                task_view,
                "shard int, n long, ids binary",
            ).collect()
        }
        stored = spark.read.parquet(idx.graph_path).select("shard", "row_no", "id")
        by_shard: dict = {}
        for r in stored.collect():
            by_shard.setdefault(r.shard, []).append((r.row_no, r.id))
        want = {}
        for s, rows in by_shard.items():
            rows.sort()
            # the stored row_no of every shard is 0..n-1 ...
            assert [rn for rn, _ in rows] == list(range(len(rows)))
            want[s] = (len(rows), [i for _, i in rows])
        # ... and every task got its whole shard, vertices in row_no order
        assert seen == want

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


def test_graph_seed_is_jvm_range(spark, vec_df):
    """The per-shard seed is a JVM Range, not a parallelized Python list:
    the search and search_batch plans have a Range leaf and no
    ExistingRDD / PythonRDD scan (a pickled-row scan would add a Python
    task that never imports this package). prewarm() still counts every
    graph row, and on the insert/delete inputs of
    test_graph_insert_delete_compact the exhaustive search and
    search_batch still return brute force's ids and exact distances."""
    from vectorchord_spark.functions import distances as D
    from vectorchord_spark.plans import explain as P

    rng = np.random.default_rng(9)
    q = [float(x) for x in rng.uniform(-1, 1, 16)]
    q2 = [float(x) for x in rng.uniform(-1, 1, 16)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = VamanaIndex.build(
            spark, vec_df.where("id < 2500"), "id", "vec", os.path.join(tmp, "g"),
            VamanaOptions(metric="l2", m=24, ef_construction=48, n_shards=3),
        )
        idx.insert(vec_df.where("id >= 2500"), "id", "vec")
        idx.delete(vec_df.where(F.col("id") % 11 == 0).select("id"))
        surviving = vec_df.where(F.col("id") % 11 != 0)
        full = dict(ef_search=1 << 20, probe_shards=None)
        one = idx.search(q, k=10, **full)
        batch = idx.search_batch([q, q2], k=10, **full)
        for res in (one, batch, idx.search(q, k=10, probe_shards=1)):
            plan = P.explain_str(res)
            assert "Range (" in plan, plan
            assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan

        def brute(qv):
            d = D.output_distance("l2", "vec", D.vec_lit(qv))
            return [
                (r.id, r.d)
                for r in surviving.select("id", d.alias("d"))
                .orderBy("d", "id")
                .limit(10)
                .collect()
            ]

        assert [(r.id, r.dist) for r in one.collect()] == brute(q)
        got = sorted((r.qid, r.rank, r.id, r.dist) for r in batch.collect())
        assert [(i, d) for qi, _, i, d in got if qi == 0] == brute(q)
        assert [(i, d) for qi, _, i, d in got if qi == 1] == brute(q2)
        assert idx.prewarm() == spark.read.parquet(idx.graph_path).count()


def test_graph_empty_build_then_insert(spark, vec_df):
    """An all-NULL input with a declared dim builds an empty but usable
    index (reference issue_427 contract): no shard rows, search returns
    nothing, and a first insert builds the empty shard whole over the new
    rows, after which exhaustive and default search equal brute force."""
    rng = np.random.default_rng(23)
    q = [float(x) for x in rng.uniform(-1, 1, 16)]
    nulls = spark.createDataFrame(
        [(i, None) for i in range(50)], "id long, vec array<float>"
    )
    with tempfile.TemporaryDirectory() as tmp:
        idx = VamanaIndex.build(
            spark, nulls, "id", "vec", os.path.join(tmp, "g"), VamanaOptions(dim=16)
        )
        assert idx.meta["shard_rows"] == {}
        assert idx.search(q, k=10).collect() == []
        part = vec_df.where("id < 600")
        idx.insert(part, "id", "vec")
        g = spark.read.parquet(idx.graph_path)
        assert g.count() == 600
        assert sorted(r.row_no for r in g.select("row_no").collect()) == list(
            range(600)
        )
        exact = brute_topk(part, q, 10)
        got = [r.id for r in idx.search(q, k=10, ef_search=1 << 20).collect()]
        assert got == exact
        assert [r.id for r in idx.search(q, k=10).collect()] == exact


def test_graph_missing_shard_raises(spark, vec_df, monkeypatch):
    """A shard that meta ``shard_rows`` lists but whose directory is gone
    fails search, search_batch and prewarm instead of being skipped (a
    skipped shard answers from the other shards without saying so), also
    after the shard was decoded into a cache.
    Shards with no rows are not listed and stay skipped: see
    test_graph_empty_build_then_insert."""
    import shutil

    rng = np.random.default_rng(41)
    q = [float(x) for x in rng.uniform(-1, 1, 16)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = VamanaIndex.build(
            spark, vec_df.where("id < 600"), "id", "vec", os.path.join(tmp, "g"),
            VamanaOptions(metric="l2", m=16, ef_construction=32, n_shards=2),
        )
        assert set(idx.meta["shard_rows"]) == {"0", "1"}
        # decode both shards into the workers' caches and this process's
        # cache first: a cached shard must not outlive its directory
        assert idx.prewarm() == sum(idx.meta["shard_rows"].values())
        assert len(idx.search(q, k=10, probe_shards=None).collect()) == 10
        cache = G._ShardCache(1 << 30)
        monkeypatch.setattr(G, "_SHARD_CACHE", cache)
        _serve(idx, [0, 1], _count_body)
        assert len(cache._entries) == 2
        shutil.rmtree(os.path.join(idx.graph_path, "shard=1"))
        with pytest.raises(FileNotFoundError, match="shard=1"):
            _serve(idx, [0, 1], _count_body)
        with pytest.raises(Exception, match="shard=1"):
            idx.search(q, k=10, probe_shards=None).collect()
        with pytest.raises(Exception, match="shard=1"):
            idx.search_batch([q, q], k=10).collect()
        with pytest.raises(Exception, match="shard=1"):
            idx.prewarm()


def _serve(idx, shards, body):
    """Run the per-shard reader in this process, as one Spark task
    would, over ``shards`` of the index's current version: the seed's
    Arrow batch in, the bodies' record batches out."""
    run = G._make_shard_reader(
        idx.graph_path, shards, int(idx.meta["bits"]), int(idx.meta["dim"]), body
    )
    seed = pa.record_batch([pa.array(np.arange(len(shards)))], names=["id"])
    return list(run(iter([seed])))


def _count_body(st, shard):
    return pa.record_batch([pa.array([len(st.ids)], pa.int64())], names=["n"])


def _count_reads(monkeypatch) -> list:
    """Patch ``pyarrow.parquet.read_table`` to record each call's source."""
    import pyarrow.parquet as pq

    calls = []
    read_table = pq.read_table

    def counting(source, *args, **kwargs):
        calls.append(source)
        return read_table(source, *args, **kwargs)

    monkeypatch.setattr(pq, "read_table", counting)
    return calls


def _stored_ids(spark, idx) -> dict:
    """{shard: ids in row_no order} of the index's current version."""
    out: dict = {}
    for r in spark.read.parquet(idx.graph_path).select("shard", "row_no", "id").collect():
        out.setdefault(r.shard, []).append((r.row_no, r.id))
    return {s: [i for _, i in sorted(rows)] for s, rows in out.items()}


def _ids_body(st, shard):
    return pa.record_batch(
        [pa.array([shard]), pa.array([st.ids.tobytes()])], names=["shard", "ids"]
    )


def _as_ids(batches) -> dict:
    return {
        b.column(0)[0].as_py(): np.frombuffer(b.column(1)[0].as_py(), np.int64).tolist()
        for b in batches
    }


def test_shard_cache_reuses_rebuilt_and_inserted_shards(spark, vec_df, monkeypatch):
    """The reader serves a shard it has decoded before without reading
    Parquet again; a rebuild at the same path and an insert each miss on
    exactly the shards they rewrote, and the reader then returns the new
    rows, while shards an insert carried over by hardlink stay cached."""
    cache = G._ShardCache(1 << 30)
    monkeypatch.setattr(G, "_SHARD_CACHE", cache)
    reads = _count_reads(monkeypatch)
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "g")
        opts = VamanaOptions(metric="l2", m=16, ef_construction=32, n_shards=3)
        idx = VamanaIndex.build(spark, vec_df.where("id < 1200"), "id", "vec", path, opts)
        live = sorted(int(s) for s in idx.meta["shard_rows"])
        assert len(live) == 3
        first = _as_ids(_serve(idx, live, _ids_body))
        assert first == _stored_ids(spark, idx)
        assert len(reads) == 3
        assert _as_ids(_serve(idx, live, _ids_body)) == first
        assert len(reads) == 3  # the second task per shard reads nothing

        # a rebuild at the same path, over other rows, misses everywhere
        idx = VamanaIndex.build(
            spark, vec_df.where("id >= 1200 AND id < 2000"), "id", "vec", path, opts
        )
        rebuilt = _as_ids(_serve(idx, live, _ids_body))
        assert rebuilt == _stored_ids(spark, idx)
        assert all(i >= 1200 for ids in rebuilt.values() for i in ids)
        assert len(reads) == 6

        # an insert rewrites some shards and hardlinks the others
        old_path = idx.graph_path
        _serve(idx, live, _ids_body)
        assert len(reads) == 6
        idx.insert(vec_df.where("id >= 2000 AND id % 20 = 0"), "id", "vec")
        rewritten = {
            s for s in live
            if sorted(os.listdir(os.path.join(old_path, f"shard={s}")))
            != sorted(os.listdir(os.path.join(idx.graph_path, f"shard={s}")))
        }
        assert 0 < len(rewritten) < len(live)
        reads.clear()
        assert _as_ids(_serve(idx, live, _ids_body)) == _stored_ids(spark, idx)
        assert sorted(os.path.basename(os.path.dirname(r[0])) for r in reads) == sorted(
            f"shard={s}" for s in rewritten
        )


def test_shard_cache_holds_its_budget(spark, vec_df, monkeypatch):
    """A cache budget smaller than two shards keeps the resident bytes
    within the budget through repeated passes over more shards than fit,
    and the search body's answers equal those served from a cache that
    holds every shard. The budget holds the same way when IVF cells
    share it with graph shards (one cache per worker for both index
    families), and the cells read equal those of a cache that holds
    every cell."""
    import vectorchord_spark.operators.ivf as I

    rng = np.random.default_rng(29)
    Q = rng.uniform(-1, 1, (4, 16))
    with tempfile.TemporaryDirectory() as tmp:
        idx = VamanaIndex.build(
            spark, vec_df.where("id < 1500"), "id", "vec", os.path.join(tmp, "g"),
            VamanaOptions(metric="l2", m=16, ef_construction=32, n_shards=4, bits=1),
        )
        live = sorted(int(s) for s in idx.meta["shard_rows"])
        assert len(live) == 4
        Qe, Q_rot = K.prep_queries(Q, "l2", 16)
        body = G._make_shard_search("l2", Qe, Q_rot, {s: [0, 1, 2, 3] for s in live}, 40)

        def answers(batches):
            return [b.to_pydict() for b in batches]

        big = G._ShardCache(1 << 30)
        monkeypatch.setattr(G, "_SHARD_CACHE", big)
        want = answers(_serve(idx, live, body))
        sizes = [st.nbytes for st in big._entries.values()]
        assert big.used == sum(sizes)

        small = G._ShardCache(int(1.5 * min(sizes)))
        monkeypatch.setattr(G, "_SHARD_CACHE", small)
        for _ in range(3):
            got = []
            for s in live:
                got.extend(answers(_serve(idx, [s], body)))
                assert small.used == sum(st.nbytes for st in small._entries.values())
                assert small.used <= small.budget
                assert len(small._entries) <= 1
            assert got == want

        ivf = I.IvfIndex.build(
            spark, vec_df.where("id < 1500"), "id", "vec", os.path.join(tmp, "ivf"),
            I.IvfOptions(metric="l2", lists=[8]),
        )
        names, _ = ivf._codes_snapshot()
        cols = I._SCAN_COLS + I._PAYLOAD_COLS["f32"]
        monkeypatch.setattr(G, "_SHARD_CACHE", big)
        cells = [ivf_cells.to_pydict() for ivf_cells in (
            I._read_cells(ivf.codes_path, names, [c], cols) for c in range(8)
        )]
        assert sum(len(c["id"]) for c in cells) == 1500
        mixed = G._ShardCache(int(1.5 * min(sizes)))
        monkeypatch.setattr(G, "_SHARD_CACHE", mixed)
        for _ in range(2):
            got = []
            for i, s in enumerate(live):
                got.extend(answers(_serve(idx, [s], body)))
                for c in (2 * i, 2 * i + 1):
                    rb = I._read_cells(ivf.codes_path, names, [c], cols)
                    assert rb.to_pydict() == cells[c]
                    assert mixed.used == sum(e.nbytes for e in mixed._entries.values())
                    assert mixed.used <= mixed.budget
            assert got == want
        kinds = {key[0] for key in mixed._entries}
        assert kinds <= {"graph", "ivf"} and "ivf" in kinds


@pytest.mark.parametrize("bits", [1, 2])
def test_whole_shard_scores_equal_row_lookups(spark, vec_df, bits):
    """The beam's whole-shard score arrays equal per-row scoring: the
    1-bit estimate (integer code sums, then elementwise float ops) and
    the l2 exact distance are equal bit for bit to scoring each row on
    its own, and the 2-bit estimate agrees to a few ulps (a matrix-vector
    product over more rows may round differently)."""
    rng = np.random.default_rng(31)
    Q = rng.uniform(-1, 1, (3, 16))
    with tempfile.TemporaryDirectory() as tmp:
        idx = VamanaIndex.build(
            spark, vec_df.where("id < 800"), "id", "vec", os.path.join(tmp, "g"),
            VamanaOptions(metric="l2", m=16, ef_construction=32, n_shards=1, bits=bits),
        )
        st = G._ShardCache(1 << 30).load(os.path.join(idx.graph_path, "shard=0"), bits, 16)
        Qe, Q_rot = K.prep_queries(Q, "l2", 16)
        c = st.codes
        for qe, qr in zip(Qe, Q_rot):
            est = G._estimates(st, "l2", qr)
            exact = K.exact_distances("l2", st.v64, qe)
            rows = [K.exact_distances("l2", st.v64[[i]], qe)[0] for i in range(len(st.ids))]
            assert exact.tolist() == rows
            if bits == 1:
                lut = K.binary_lut(qr)
                qv = lut["qvector"].astype(np.int64)
                one = []
                for i in range(len(st.ids)):
                    sub = {k: v[[i]] for k, v in c.items() if k != "bits"}
                    rough, _ = K.rough_l2(c["bits"][[i]] @ qv, sub, lut)
                    one.append(float(rough.astype(np.float64)[0]))
                assert est.tolist() == one
            else:
                q64 = np.asarray(qr, np.float64)
                one = [
                    c["du2"][i] + float(q64 @ q64) - 2.0 * float(c["code"][i] @ q64) * c["scale"][i]
                    for i in range(len(st.ids))
                ]
                np.testing.assert_allclose(est, one, rtol=1e-12, atol=1e-12)


def test_graph_first_insert_splits_by_size(spark, vec_df, monkeypatch):
    """A first insert of 2 × ``_MAX_SHARD_ROWS`` rows into an empty index
    splits the empty cluster by size, as build does: every shard stays
    within the limit, and top-10 equals brute force."""
    monkeypatch.setattr(G, "_MAX_SHARD_ROWS", 300)
    rng = np.random.default_rng(37)
    q = [float(x) for x in rng.uniform(-1, 1, 16)]
    nulls = spark.createDataFrame(
        [(i, None) for i in range(10)], "id long, vec array<float>"
    )
    with tempfile.TemporaryDirectory() as tmp:
        idx = VamanaIndex.build(
            spark, nulls, "id", "vec", os.path.join(tmp, "g"), VamanaOptions(dim=16)
        )
        assert idx.meta["cluster_subshards"] == [[0, 1]]
        part = vec_df.where("id < 600")
        idx.insert(part, "id", "vec")
        rows = idx.meta["shard_rows"]
        assert len(rows) >= 2 and sum(rows.values()) == 600
        assert max(rows.values()) <= 300
        assert idx.meta["cluster_subshards"] == [[0, idx.meta["n_shards"]]]
        exact = brute_topk(part, q, 10)
        assert [r.id for r in idx.search(q, k=10, ef_search=1 << 20).collect()] == exact
        assert [r.id for r in idx.search(q, k=10).collect()] == exact


def test_graph_insert_into_emptied_cluster_splits_by_size(spark, vec_df, monkeypatch):
    """A cluster that compact emptied, and that is not the last shard
    range, moves to new shard ids when an insert refills it past
    ``_MAX_SHARD_ROWS``; searches stay exact."""
    rng = np.random.default_rng(43)
    q = [float(x) for x in rng.uniform(-1, 1, 16)]
    with tempfile.TemporaryDirectory() as tmp:
        base = vec_df.where("id < 1000")
        idx = VamanaIndex.build(
            spark, base, "id", "vec", os.path.join(tmp, "g"),
            VamanaOptions(metric="l2", m=16, ef_construction=32, n_shards=2),
        )
        assert idx.meta["cluster_subshards"] == [[0, 1], [1, 1]]
        in0 = spark.createDataFrame(
            [
                (r.id,)
                for r in spark.read.parquet(idx.graph_path)
                .where("shard = 0").select("id").distinct().collect()
            ],
            "id long",
        )
        idx.delete(in0)
        idx.compact()
        assert "0" not in idx.meta["shard_rows"]
        back = base.join(in0, "id", "left_semi")
        monkeypatch.setattr(G, "_MAX_SHARD_ROWS", max(50, back.count() // 3))
        idx.insert(back, "id", "vec")
        subs = idx.meta["cluster_subshards"]
        assert subs[1] == [1, 1] and subs[0][0] == 2 and subs[0][1] >= 3
        assert idx.meta["n_shards"] == 2 + subs[0][1]
        assert "0" not in idx.meta["shard_rows"]
        assert max(
            n for s, n in idx.meta["shard_rows"].items() if int(s) >= 2
        ) <= G._MAX_SHARD_ROWS
        survivors = base.join(in0, "id", "left_anti").unionByName(back)
        exact = brute_topk(survivors, q, 10)
        got = [r.id for r in idx.search(q, k=10, ef_search=1 << 20).collect()]
        assert got == exact


def test_graph_dml_write_has_no_second_shuffle(spark, vec_df, monkeypatch):
    """insert and compact write the rebuilt shards straight out of their
    groupBy("shard") stage: the written plan repartitions by no column,
    and every shard directory still holds exactly one parquet file."""
    from pyspark.sql.readwriter import DataFrameWriter

    from vectorchord_spark.plans import explain as P

    plans = []
    parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        if "graph_v" in os.path.basename(path):
            plans.append(P.explain_str(self._df))
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    with tempfile.TemporaryDirectory() as tmp:
        idx = VamanaIndex.build(
            spark, vec_df.where("id < 2500"), "id", "vec", os.path.join(tmp, "g"),
            VamanaOptions(metric="l2", m=16, ef_construction=32, n_shards=3),
        )
        idx.insert(vec_df.where("id >= 2500"), "id", "vec")
        idx.delete(vec_df.where(F.col("id") % 11 == 0).select("id"))
        idx.compact()
        assert len(plans) == 2
        for plan in plans:
            assert "REPARTITION_BY_COL" not in plan, plan
        dirs = [d for d in os.listdir(idx.graph_path) if d.startswith("shard=")]
        assert len(dirs) == 3
        for d in dirs:
            files = os.listdir(os.path.join(idx.graph_path, d))
            assert len([f for f in files if f.endswith(".parquet")]) == 1, files


def test_graph_options_round_trip(spark, vec_df):
    """The meta → options reader that insert and compact build with
    returns exactly the options the index was built with."""
    given = dict(
        metric="cos", m=12, ef_construction=20, alpha=[1.0, 1.1, 1.3], bits=1,
        replication=3, closure_epsilon=0.25, seed=7,
    )
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "g")
        VamanaIndex.build(
            spark, vec_df.where("id < 600"), "id", "vec", path,
            VamanaOptions(n_shards=3, **given),
        )
        assert _options_from_meta(VamanaIndex(spark, path).meta) == VamanaOptions(
            **given
        )


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
    """S13/S14 parity for the graph index (shared StoredIndex base):
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


def test_nan_rows_do_not_block_the_beam(spark):
    """All-NaN rows in a shard are keyed +inf for the beam, so they sort
    after every finite vertex instead of blocking the result window
    (NaN compares false both ways): recall@10 over 2,000 uniform rows
    with 200 all-NaN rows at ``ef_search=16`` measured 0.98, as without
    the NaN rows, and 0.045 before the keying."""
    rng = np.random.default_rng(3)
    base = rng.uniform(-1, 1, (2000, 16)).astype(np.float32)
    Q = rng.uniform(-1, 1, (20, 16))
    truth = [
        set(np.argsort(K.exact_distances("l2", base, q), kind="stable")[:10].tolist())
        for q in Q
    ]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    rows += [(10_000 + i, [float("nan")] * 16) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, vec array<float>")
    with tempfile.TemporaryDirectory() as tmp:
        idx = VamanaIndex.build(
            spark, df, "id", "vec", os.path.join(tmp, "g"),
            VamanaOptions(metric="l2", n_shards=1),
        )
        got: dict = {}
        for r in idx.search_batch(Q, k=10, ef_search=16).collect():
            got.setdefault(r.qid, set()).add(r.id)
        recall = np.mean([len(got.get(i, set()) & truth[i]) / 10 for i in range(len(Q))])
        assert recall >= 0.9, recall


def test_graph_serve_plans_are_arrow(spark, vec_df, monkeypatch):
    """The graph's serve plans (``search``, ``search_batch`` and the
    ``prewarm`` count) run the shard tasks under ``mapInArrow``, the
    kernel contract IVF's scan uses, with no ``mapInPandas`` stage."""
    from vectorchord_spark.plans import explain as P

    rng = np.random.default_rng(47)
    q = [float(x) for x in rng.uniform(-1, 1, 16)]
    with tempfile.TemporaryDirectory() as tmp:
        idx = VamanaIndex.build(
            spark, vec_df.where("id < 900"), "id", "vec", os.path.join(tmp, "g"),
            VamanaOptions(metric="l2", m=16, ef_construction=32, n_shards=2),
        )
        plans = [idx.search(q, k=10), idx.search_batch([q, q], k=10)]
        shard_candidates = idx._shard_candidates

        def recording(*args):
            plans.append(shard_candidates(*args))
            return plans[-1]

        monkeypatch.setattr(idx, "_shard_candidates", recording)
        assert idx.prewarm() == sum(idx.meta["shard_rows"].values())
        assert len(plans) == 3
        for df in plans:
            txt = P.explain_str(df)
            assert "MapInArrow" in txt and "MapInPandas" not in txt, txt
