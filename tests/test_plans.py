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


def test_probe_scan_is_partition_pruned(spark, small_index):
    """Probe pruning reaches the parquet scan: the cluster_id IN filter is
    pushed down, so file/row-group min-max stats skip unprobed clusters
    (the codes layout is cluster-range-bucketed + sorted, giving each file
    a tight cluster_id range). The probe set is one parsed IN list, and
    it still reaches Parquet as an In filter."""
    q = [0.0] * 8
    for res in (
        small_index.search(q, k=5, probes=[4], guarantee=False),
        small_index.search_batch([q, [0.5] * 8], k=5, probes=[4]),
    ):
        pushed = P.pushed_filters(res)
        assert any("In(cluster_id" in p for p in pushed), pushed


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


def test_scoring_scan_prunes_vec_column(spark, small_index, small_source):
    """Where the rerank payload is not the stored f32 vector, the scoring
    scan must not read `vec` (the widest column): its codes ReadSchema
    excludes it for rerank-in-table search and for quantized storage."""
    q = [0.0] * 8
    tmp = tempfile.mkdtemp(prefix="vc_plan_sq_")
    sq_index = IvfIndex.build(
        spark, small_source, "id", "vec", os.path.join(tmp, "idx"),
        IvfOptions(metric="l2", lists=[16], storage="rabitq8"),
    )
    base = small_source.select("id", "vec")
    for res in (
        small_index.search(q, k=5, probes=[4], guarantee=False, base_df=base),
        sq_index.search(q, k=5, probes=[4], guarantee=False),
    ):
        schemas = P.read_schemas(res)
        scoring = [s for s in schemas if "code" in s]
        assert scoring and all("vec" not in s for s in scoring), schemas


@pytest.mark.parametrize("storage", ["f32", "f16", "rabitq8", "base_df"])
def test_search_scans_codes_once(spark, small_source, storage):
    """One-stage query: search (guarantee on and off) and search_batch
    read the codes table exactly once — codes and rerank payload in the
    same scan — and run one kernel (MapInArrow), with no threshold cross
    join (BroadcastNestedLoopJoin), no persisted scored scan
    (InMemoryTableScan) and no Union; search has no Window. Rerank-in-
    table (``base_df``, an uncached Parquet table so its scan shows)
    reads the base table once too, joined into that one scan."""
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
    for name, res in (
        ("search", idx.search(q, k=5, probes=[4], **kw)),
        ("search", idx.search(q, k=5, probes=[4], guarantee=False, **kw)),
        ("search_batch", idx.search_batch([q, [0.5] * 8], k=5, probes=[4], **kw)),
    ):
        schemas = P.read_schemas(res)
        codes = [s for s in schemas if "code:binary" in s]
        assert len(codes) == 1, schemas
        if storage == "base_df":
            assert "vec" not in codes[0], codes
            assert len([s for s in schemas if "vec:array" in s]) == 1, schemas
        else:
            assert payload in codes[0], codes
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
