"""Plan-shape assertions (the Spark analogue of the reference's
pushdown_plan.slt): partition pruning on probed searches, one codes scan
per query, broadcast rerank-in-table joins, predicate pushdown on relational
queries."""

import os
import re
import tempfile

import numpy as np
import pytest

from vectorchord_spark.operators.ivf import IvfIndex, IvfOptions
from vectorchord_spark.plans import explain as P


@pytest.fixture(scope="module")
def small_source(spark):
    rng = np.random.default_rng(1)
    return spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(2000)],
        "id long, vec array<float>",
    ).cache()


@pytest.fixture(scope="module")
def small_index(spark, small_source):
    tmp = tempfile.mkdtemp(prefix="vc_plan_idx_")
    idx = IvfIndex.build(
        spark, small_source, "id", "vec", os.path.join(tmp, "idx"),
        IvfOptions(metric="l2", lists=[16]),
    )
    return idx


def _cell_reads(monkeypatch, build) -> tuple:
    """Build a plain-path query with ``build()``, then run its cell reader
    in this process over every seed row, as the query's tasks would,
    from an empty cell cache. Returns (DataFrame, the reader's
    ``_make_cell_reader`` arguments, the keyword arguments of each
    ``pyarrow.parquet.read_table`` call it made)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from vectorchord_spark.operators import graph as G
    from vectorchord_spark.operators import ivf as I

    made = []
    make = I._make_cell_reader
    monkeypatch.setattr(I, "_make_cell_reader", lambda *a: made.append(a) or make(*a))
    df = build()
    (args,) = made
    reads = []
    read_table = pq.read_table
    monkeypatch.setattr(
        pq, "read_table", lambda src, **kw: reads.append(kw) or read_table(src, **kw)
    )
    monkeypatch.setattr(G, "_SHARD_CACHE", G._ShardCache(1 << 30))
    run = make(*args)
    for i in range(len(args[2])):
        list(run(iter([pa.record_batch([pa.array([i])], names=["id"])])))
    monkeypatch.undo()
    return df, args, reads


def test_probe_scan_is_partition_pruned(spark, small_index, monkeypatch):
    """Probe pruning reaches the codes read: the plain path's Spark plan
    scans no Parquet, and the Python workers' pyarrow read of the codes
    files is filtered to the probed cells (``cluster_id in``), so
    row-group min-max stats skip unprobed clusters (the codes layout is
    cluster-range-bucketed + sorted, giving each row group a tight
    cluster_id range). Each task reads its own slice of the probed
    cells, and together they read each probed cell once."""
    q = [0.0] * 8
    for qs, build in (
        ([q], lambda: small_index.search(q, k=5, probes=[4], guarantee=False)),
        (
            [q, [0.5] * 8],
            lambda: small_index.search_batch([q, [0.5] * 8], k=5, probes=[4]),
        ),
    ):
        res, _, reads = _cell_reads(monkeypatch, build)
        assert not P.read_schemas(res), P.explain_str(res)
        assert reads and all(
            r["filters"][0][:2] == ("cluster_id", "in") for r in reads
        ), reads
        cells = [c for r in reads for c in r["filters"][0][2]]
        assert sorted(cells) == small_index.probed_union(qs, [4]).tolist(), reads


def _nodes(plan: str, name: str) -> int:
    """Physical operators whose name starts with ``name`` in a formatted
    plan (each operator has one ``(n) Name`` detail header)."""
    return len(re.findall(rf"^\(\d+\) {name}", plan, re.M))


def test_rerank_join_is_broadcast(spark, small_index, small_source):
    """Rerank-in-table joins the base table into the codes scan: the
    probed codes are broadcast to the base table (guarantee on and off),
    so the base table never shuffles."""
    q = [0.0] * 8
    base = small_source.select("id", "vec")
    for guarantee in (True, False):
        res = small_index.search(
            q, k=5, probes=[4], guarantee=guarantee, base_df=base
        )
        assert P.has_broadcast_join(res), P.explain_str(res)


def test_scoring_scan_prunes_vec_column(spark, small_index, small_source, monkeypatch):
    """Where the rerank payload is not the stored f32 vector, the scoring
    read must not read `vec` (the widest column): the codes ReadSchema
    excludes it for rerank-in-table search, and the workers' pyarrow
    read of the codes files excludes it for quantized storage."""
    q = [0.0] * 8
    tmp = tempfile.mkdtemp(prefix="vc_plan_sq_")
    sq_index = IvfIndex.build(
        spark, small_source, "id", "vec", os.path.join(tmp, "idx"),
        IvfOptions(metric="l2", lists=[16], storage="rabitq8"),
    )
    base = small_source.select("id", "vec")
    res = small_index.search(q, k=5, probes=[4], guarantee=False, base_df=base)
    schemas = P.read_schemas(res)
    scoring = [s for s in schemas if "code" in s]
    assert scoring and all("vec" not in s for s in scoring), schemas
    _, _, reads = _cell_reads(
        monkeypatch, lambda: sq_index.search(q, k=5, probes=[4], guarantee=False)
    )
    assert reads and all(
        "code" in r["columns"] and "sq_code" in r["columns"] and "vec" not in r["columns"]
        for r in reads
    ), reads


@pytest.mark.parametrize("storage", ["f32", "f16", "rabitq8", "base_df"])
def test_search_scans_codes_once(spark, small_source, storage, monkeypatch):
    """One-stage query: search (guarantee on and off) and search_batch
    read the codes exactly once — codes and rerank payload in the same
    read — and run one kernel (MapInArrow), with no threshold cross
    join (BroadcastNestedLoopJoin), no persisted scored scan
    (InMemoryTableScan) and no Union; search has no Window. On the plain
    path (f32, f16, rabitq8) the kernel's MapInArrow runs over a Range
    seed and the plan scans no Parquet: the Python workers read the
    probed cells' codes and payload in one pyarrow read per task.
    Rerank-in-table (``base_df``, an uncached Parquet table so its scan
    shows) keeps the Spark codes scan and reads the base table once too,
    joined into that one scan."""
    tmp = tempfile.mkdtemp(prefix="vc_plan_once_")
    opts = {"rerank_in_index": False} if storage == "base_df" else {"storage": storage}
    idx = IvfIndex.build(
        spark, small_source, "id", "vec", os.path.join(tmp, "idx"),
        IvfOptions(metric="l2", lists=[16], **opts),
    )
    payload = {"f32": "vec:binary", "f16": "vec_f16:binary"}.get(
        storage, "sq_code:binary"
    )
    kw = {}
    if storage == "base_df":
        small_source.write.parquet(os.path.join(tmp, "base"))
        kw["base_df"] = spark.read.parquet(os.path.join(tmp, "base"))
    q = [0.0] * 8
    for name, build in (
        ("search", lambda: idx.search(q, k=5, probes=[4], **kw)),
        ("search", lambda: idx.search(q, k=5, probes=[4], guarantee=False, **kw)),
        (
            "search_batch",
            lambda: idx.search_batch([q, [0.5] * 8], k=5, probes=[4], **kw),
        ),
    ):
        if storage == "base_df":
            res = build()
            schemas = P.read_schemas(res)
            codes = [s for s in schemas if "code:binary" in s]
            assert len(codes) == 1, schemas
            assert "vec" not in codes[0], codes
            assert len([s for s in schemas if "vec:array" in s]) == 1, schemas
        else:
            res, args, reads = _cell_reads(monkeypatch, build)
            assert not P.read_schemas(res), P.explain_str(res)
            assert len(reads) == len(args[2]), reads  # one read per task
            field = payload.split(":")[0]
            assert all("code" in r["columns"] and field in r["columns"] for r in reads)
            assert re.search(r"MapInArrow.*\n\s*\+- .*Range", P.explain_str(res, "simple"))
        plan = P.explain_str(res)
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "InMemoryTableScan" not in plan, plan
        assert _nodes(plan, "MapInArrow") == 1, plan
        assert _nodes(plan, "Union") == 0, plan
        if name == "search":
            assert _nodes(plan, "Window") == 0, plan


def test_batch_prefilter_and_rerank_table_plan_shape(
    spark, small_index, small_source
):
    """The round-5 batch paths keep the serving plan shape: the prefilter
    id set joins the scored scan as a BROADCAST semi-join (no sort-merge
    shuffle of candidates), and the base_df rerank-in-table join
    broadcasts the probed codes to the base table — at 100 TB the base
    table must never shuffle to meet the probed rows."""
    from pyspark.sql import functions as F

    qs = [[0.0] * 8, [0.5] * 8]
    codes = spark.read.parquet(small_index.codes_path)
    allowed = codes.select("id").where(F.col("id") % 2 == 0)
    res = small_index.search_batch(
        qs, k=5, probes=[4], guarantee=False, prefilter=allowed
    )
    plan = P.explain_str(res)
    assert "SortMergeJoin" not in plan, plan
    assert P.has_broadcast_join(res)
    # rerank-in-table takes a USER (id, vec array<float>) table — the codes
    # table's vec is packed binary and is not a valid base_df
    base = small_source.select("id", "vec")
    res2 = small_index.search_batch(
        qs, k=5, probes=[4], guarantee=False, base_df=base
    )
    plan2 = P.explain_str(res2)
    assert "SortMergeJoin" not in plan2, plan2
    assert P.has_broadcast_join(res2)


def test_parquet_filter_pushdown_on_relational(spark, sf_dir):
    from vectorchord_spark.queries import catalog

    df = catalog()["q3_shipping"].fn(spark, sf_dir)
    pushed = P.pushed_filters(df)
    assert any("l_shipdate" in f for f in pushed), pushed
    assert any("c_mktsegment" in f for f in pushed), pushed
    assert P.has_broadcast_join(df)


def test_knn_is_take_ordered(spark, sf_dir):
    from vectorchord_spark.queries import catalog

    df = catalog()["knn_l2"].fn(spark, sf_dir)
    assert "TakeOrderedAndProject" in P.explain_str(df)
    # column pruning: only vec_id + embedding read
    schemas = P.read_schemas(df)
    assert any("embedding" in s and "label" not in s for s in schemas), schemas


def test_asof_join_is_single_shuffle_window(spark, sf_dir):
    """The as-of join must be the union+window plan: exactly one hash
    exchange on user_id feeding a Window — no join operator at all (a
    join-based as-of fans out per key and dies on hot users at scale)."""
    from vectorchord_spark.queries import catalog

    df = catalog()["asof_join"].fn(spark, sf_dir)
    plan = P.explain_str(df)
    assert "Window" in plan
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoop" not in plan
    # one exchange for the window partitioning (+ possibly one for the
    # final orderBy's range partitioning) — but no join shuffles
    n_hash_exchanges = plan.count("hashpartitioning")
    assert n_hash_exchanges <= 2, plan


def test_range_join_is_bucketed_equi_join(spark, sf_dir):
    """The interval join must run as an equi-join on (user, hour-bucket)
    with the range predicate residual — never a nested-loop/cartesian plan
    (the naive inequality join Spark would otherwise pick)."""
    from vectorchord_spark.queries import catalog

    df = catalog()["range_join_count"].fn(spark, sf_dir)
    plan = P.explain_str(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q19_pushes_disjunctive_part_filter(spark, sf_dir):
    """Catalyst must extract the part-side disjunction (brand IN ... OR'd
    triples imply p_brand/p_size constraints) into the parquet scan."""
    from vectorchord_spark.queries import _q19_fn

    df = _q19_fn(spark, sf_dir)
    pushed = P.pushed_filters(df)
    assert any("p_brand" in f or "p_size" in f for f in pushed), pushed


def test_catalog_staleness_rotation():
    """catalog() must order entries by evidence validity then staleness
    (r09 policy): never-verified first, then hash-demoted entries (green
    row predates current code — no valid evidence) oldest-round first,
    then hash-clean entries (green row still describes current code)
    oldest-round first — so the driver's bounded gate prefix always
    re-verifies the entries whose evidence is least valid."""
    from vectorchord_spark.queries import (
        _catalog_canonical,
        _effective_history,
        _verification_history,
        catalog,
    )

    entries = _catalog_canonical()
    hist = _effective_history(entries)
    names = list(catalog())
    assert set(names) == set(entries), "rotation must not drop entries"

    def _key(n):
        r, demoted = hist.get(n, (-1, False))
        cls = 0 if r < 0 else (1 if demoted else 2)
        return (cls, r)

    keys = [_key(n) for n in names]
    assert keys == sorted(keys), (
        "entries must be ordered never-verified, then hash-demoted "
        "(oldest first), then hash-clean (oldest first)"
    )
    # the repo ships CORRECTNESS files, so history must be non-trivial here
    assert _verification_history(), (
        "no CORRECTNESS_r*.json parsed — rotation would be a no-op"
    )


def test_catalog_hash_snapshot_is_current():
    """A content-hash snapshot must exist for the newest CORRECTNESS round
    (r05 verdict #2: without it, every entry green in that round is demoted
    to never-verified and the rotation invariant loses its meaning). If
    this fails: run `python tools/update_catalog_hashes.py rNN` — at round
    start, before any code edit, it records the hashes the gate verified."""
    import glob
    import re

    from vectorchord_spark.queries import _load_hash_snapshots

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = [
        int(re.search(r"CORRECTNESS_r(\d+)\.json$", p).group(1))
        for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
    ]
    assert rounds, "no CORRECTNESS files — driver state missing"
    newest = max(rounds)
    if newest < 5:  # snapshots begin at r05; older history is legacy
        return
    snaps = _load_hash_snapshots()
    assert "r%02d" % newest in snaps, (
        f"CATALOG_HASHES.json has no snapshot for r{newest:02d}; "
        "run: python tools/update_catalog_hashes.py r%02d" % newest
    )


def test_catalog_rotation_capacity():
    """The driver's gate verifies a ~50-entry prefix. The ≤2-round
    staleness invariant holds only if (never-verified + stale-by-two-
    rounds) entries fit that prefix — adding catalog entries consumes this
    budget (r05 verdict #3)."""
    import glob
    import re

    from vectorchord_spark.queries import _catalog_canonical, _effective_history

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = [
        int(re.search(r"CORRECTNESS_r(\d+)\.json$", p).group(1))
        for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
    ]
    assert rounds, "no CORRECTNESS files — driver state missing"
    eff = _effective_history(_catalog_canonical())
    # r09 validity-first invariant: every entry WITHOUT valid evidence
    # (never verified, or hash-demoted — its green row predates the
    # current code) must fit the next gate prefix; hash-clean entries'
    # rows stay valid regardless of age, so they spill over gracefully
    due = [n for n, (r, d) in eff.items() if r < 0 or d]
    assert len(due) <= 50, (
        f"{len(due)} entries without valid evidence exceed the 50-entry "
        f"gate prefix — consolidate entries or split the work across "
        f"rounds"
    )
