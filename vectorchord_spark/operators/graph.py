"""Vamana/DiskANN-style proximity-graph index (the vchordg access method),
re-architected for Spark as *cluster-sharded* partition-local graphs with
RaBitQ-quantized vertices.

Semantics re-expressed from the reference (formulas/algorithms only):

- incremental insert = greedy beam search for ``ef_construction`` neighbors
  then RobustPrune with an ascending ``alpha`` schedule (L2 only; dot uses
  α=1.0), bidirectional edge insert with re-prune:
  /root/reference/crates/vchordg/src/insert.rs:34-395
- RobustPrune: keep nearest-first candidate u iff ∀ kept v:
  d(p,u) < α·d(u,v); leftovers retried at the next α; backfill nearest
  pruned: /root/reference/crates/vchordg/src/prune.rs:19-72
- search = best-first beam with visited set bounded by ``ef_search``,
  traversal scored on quantized codes with exact rescoring of the
  results: /root/reference/crates/vchordg/src/search.rs:34-140
- vertex storage = 1- or 2-bit RaBitQ codes (the ``bits`` option,
  /root/reference/crates/vchordg/src/types.rs:25-43; code math
  crates/rabitq/src/bits.rs:19-39) — 16-32× smaller traversal payload
  than f32 vectors
- defaults m=32, alpha=[1.0, 1.2], ef_construction=64:
  /root/reference/crates/vchordg/src/types.rs:25-84

Spark architecture (the 100 TB shape): pointer-chasing traversal is
executor-local work, so rows are sharded by *k-means cluster* (not hash) and
each shard builds an independent Vamana graph inside one ``applyInPandas``
group, with SPANN-style closure replication of boundary vectors into
neighboring shards. Because shards are spatial clusters, a query routes to
the ``probe_shards`` nearest shards by centroid distance (driver-side
argmin over the small centroid table) and the graph scan is
partition-pruned to those shards only — the same pruning shape as IVF
probes; routing misses are the same failure mode as unprobed IVF cells,
mitigated by the closure replicas. Within a probed shard, the beam expands
neighbors on the quantized codes and exact-rescores each popped vertex
(the reference's scan shape — it too reads full vectors of visited
vertices) and emits fold-exact output distances, so the cross-shard merge
only dedupes and orders the ≤ probe_shards·ef·rescore_factor candidates.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectorchord_spark import kernels as K
from vectorchord_spark.functions import distances as D
from vectorchord_spark.operators import kmeans as KM
from vectorchord_spark.operators.sampling import (
    QuerySampling,
    bounded_sample_vectors,
)

# LPT task layout (longest shard first): the mechanism lives in
# operators/scheduling.py; the graph build was its first user and its
# tests pin the hash replica through these aliases.
from vectorchord_spark.operators.scheduling import (
    lpt_partition_keys as _lpt_partition_keys,
    spark_int_hash as _spark_int_hash,
)

# Packed-binary vertex payload (r09): `vec` is the row's raw
# little-endian f32 bytes and `neighbors` the raw little-endian int32
# edge list — the same fixed-stride binary layout as the IVF
# CODES_SCHEMA (operators/ivf.py:57-66), which measured ~1.67x faster
# through Arrow/parquet than list<float> columns. The reference
# likewise stores vertices as packed quantized payloads, not float
# lists (/root/reference/crates/vchordg/src/insert.rs:34-120).
GRAPH_SCHEMA = (
    "shard int, id long, row_no int, medoid_row int, is_primary boolean, "
    "neighbors binary, "
    "vec binary, dis_u_2 float, factor_cnt float, factor_ip float, "
    "factor_err float, ext_dis_u_2 float, ext_nol float, code binary"
)


def _f32_matrix(col, dim: int) -> np.ndarray:
    """(n, dim) f32 matrix from a pandas column of packed little-endian
    f32 row bytes (one join + one frombuffer — no per-row array
    conversion)."""
    n = len(col)
    if n == 0:
        return np.zeros((0, dim), np.float32)
    return np.frombuffer(b"".join(col), "<f4").reshape(n, dim)


def _f32_row_bytes(mat: np.ndarray) -> list:
    """Per-row packed f32 bytes of a (n, dim) matrix (the GRAPH_SCHEMA
    ``vec`` payload)."""
    buf = np.ascontiguousarray(mat, "<f4").tobytes()
    stride = mat.shape[1] * 4 if mat.ndim == 2 else 0
    return [buf[i * stride : (i + 1) * stride] for i in range(len(mat))]


def _adj_from_bin(col) -> "list[list[int]]":
    """Adjacency lists from a pandas column of packed little-endian
    int32 edge bytes."""
    return [np.frombuffer(b, "<i4").tolist() for b in col]


def _adj_to_bin(adj) -> list:
    """Packed int32 edge bytes per adjacency list (order-preserving)."""
    return [np.asarray(a, np.int32).tobytes() for a in adj]


def _output_dist_leftfold(metric: str, v64: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Output-surface distances with STRICT left-fold accumulation —
    bit-identical to the JVM column fold the former rescore join used
    (functions/distances.py: aggregate over zip_with starting at 0.0)
    and to the DuckDB oracles' left-chained SQL. ``cumsum`` is
    sequential by definition, so ((0+a0)+a1)+... is reproduced exactly;
    every element op (f32→f64 widening, subtract, square, sqrt) is the
    same IEEE double op both engines execute. Emitting these from the
    shard task makes the search answer-identical to the former
    rescore-join plan while removing its second graph scan."""
    if len(v64) == 0:
        return np.zeros(0, np.float64)
    if metric == "l2":
        d = v64 - q
        return np.sqrt((d * d).cumsum(axis=1)[:, -1])
    s = (v64 * q).cumsum(axis=1)[:, -1]
    if metric == "dot":
        return -s
    return 1.0 - s  # cos: stored vectors are normalized; 1 + (-dot)

#: columns the per-shard reader hands to traversal: quantized code
#: columns for frontier scoring + ``vec`` for the reference's
#: exact-rescore-on-pop (the reference likewise reads full vectors of
#: visited vertices, search.rs:34-140; shard routing is what prunes the
#: IO). ``shard`` is the hive directory, not a stored column.
_TRAVERSE_COLS_1BIT = [
    "id", "row_no", "medoid_row", "neighbors", "vec",
    "dis_u_2", "factor_cnt", "factor_ip", "factor_err", "code",
]
_TRAVERSE_COLS_2BIT = [
    "id", "row_no", "medoid_row", "neighbors", "vec",
    "ext_dis_u_2", "ext_nol", "code",
]

def _make_shard_reader(graph_path: str, columns: list, body):
    """mapInPandas runner over a seed frame of probed shard ids: each
    task reads its own shard's hive directory with pyarrow (columns
    pruned to the serve set) and hands the WHOLE shard to ``body``, so
    positional ``row_no`` indexing holds without a hash exchange. Local
    paths here; a distributed deployment points pyarrow at the same
    store through its filesystem layer (HDFS/S3)."""

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import pyarrow.parquet as pq

        for b in batches:
            for s in b["shard"]:
                shard = int(s)
                grp = pq.read_table(
                    os.path.join(graph_path, f"shard={shard}"), columns=columns
                ).to_pandas()
                if len(grp):
                    yield body(grp, shard)

    return run


@dataclass
class VamanaOptions:
    metric: str = "l2"  # l2 | dot | cos
    m: int = 32
    ef_construction: int = 64
    alpha: list[float] = field(default_factory=lambda: [1.0, 1.2])
    n_shards: int | None = None
    #: vertex quantization width (1 or 2); reference `bits` option,
    #: default 2 (crates/vchordg/src/types.rs:43-45)
    bits: int = 2
    #: SPANN-style closure assignment: replicate a vector into up to
    #: `replication` nearest shards when its centroid distance is within
    #: the closure factor of the nearest — boundary vectors stay findable
    #: when routing probes a neighboring shard
    replication: int = 2
    closure_epsilon: float = 0.4
    #: declared vector dimension — required only for empty/all-NULL
    #: builds (reference issue_427 contract), else inferred from data
    dim: int | None = None
    #: "bulk" (default): batch exact-kNN candidates + RobustPrune — the
    #: Spark-first shard build (~10-20x the incremental loop's speed;
    #: all rows are present up front so per-row beam searches are
    #: unnecessary). "incremental": the reference's per-row insert
    #: protocol (insert.rs:34-395), always used by DML insert regardless
    #: of this setting.
    build_mode: str = "bulk"
    seed: int = 42

    def validate(self) -> None:
        assert self.metric in ("l2", "dot", "cos")
        assert self.replication >= 1
        assert self.bits in (1, 2)
        assert self.build_mode in ("bulk", "incremental")
        assert sorted(self.alpha) == list(self.alpha) and self.alpha[0] == 1.0
        assert all(1.0 <= a < 2.0 for a in self.alpha)


def _dists(metric: str, mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    if metric == "l2":
        diff = mat - q
        return np.einsum("ij,ij->i", diff, diff)
    return -(mat @ q)


def _beam_search(
    est_fn,
    adj: "list[list[int]]",
    medoid: int,
    ef: int,
    exact_fn=None,
    prune_frontier: bool = False,
) -> list[tuple[float, int]]:
    """Best-first beam: frontier ordered by ``est_fn`` (the quantized
    estimate — neighbor expansion never touches full vectors), result
    window ordered by ``exact_fn`` applied to each *popped* vertex (the
    reference's exact-rescoring-on-pop, crates/vchordg/src/search.rs:34-140
    — quantized-scored candidate heap, exact rescoring via vector reads,
    window bounded by ef). ``exact_fn=None`` uses the estimate for both
    (build-time, where est IS exact)."""
    from heapq import heappop, heappush, heappushpop

    n = len(adj)
    visited = bytearray(n)
    d0 = float(est_fn(np.array([medoid], np.int64))[0])
    frontier: list[tuple[float, int]] = [(d0, medoid)]
    worst: list[tuple[float, int]] = []  # max-heap of the ef best (negated)
    bound = np.inf
    while frontier:
        d, u = heappop(frontier)
        if visited[u]:
            continue
        visited[u] = 1
        dx = (
            d if exact_fn is None else float(exact_fn(np.array([u], np.int64))[0])
        )
        if len(worst) < ef:
            heappush(worst, (-dx, u))
            if len(worst) == ef:
                bound = -worst[0][0]
        else:
            heappushpop(worst, (-dx, u))
            bound = -worst[0][0]
        # reference termination: stop once the ef-th best *exact* result
        # beats the exact distance of the vertex just popped (estimate
        # noise never prunes frontier entries — neighbors are pushed
        # unconditionally, matching search.rs)
        if len(worst) >= ef and bound < dx:
            break
        nbrs = [v for v in adj[u] if not visited[v]]
        if nbrs:
            nd = est_fn(np.asarray(nbrs, np.int64))
            if prune_frontier and len(worst) >= ef:
                # build-time only (est IS exact there): a neighbor at
                # distance ≥ the current ef-th best can never enter the
                # result window — skipping its push is the classic
                # DiskANN/HNSW greedy bound and cuts frontier pushes ~5x.
                # Search-time keeps unconditional pushes: the estimate is
                # noisy and must not prune (reference search.rs semantics).
                for dv, v in zip(nd.tolist(), nbrs):
                    if dv < bound:
                        heappush(frontier, (dv, v))
            else:
                for dv, v in zip(nd.tolist(), nbrs):
                    heappush(frontier, (dv, v))
    return sorted((-d, u) for d, u in worst)


def _robust_prune(
    v64: np.ndarray,
    metric: str,
    alphas: list[float],
    m: int,
    p: int,
    cand: list[tuple[float, int]],
) -> list[int]:
    """RobustPrune (re-expressed from
    /root/reference/crates/vchordg/src/prune.rs:19-72): keep nearest-first
    candidate u iff ∀ kept v: d(p,u) < α·d(u,v); leftovers retried at the
    next α; backfill nearest pruned up to m."""
    seen: dict[int, float] = {}
    for d, u in cand:
        if u != p and u not in seen:
            seen[u] = d
    if not seen:
        return []
    order = sorted(seen.items(), key=lambda kv: kv[1])
    ids = np.array([u for u, _ in order], np.int64)
    d_p = np.array([d for _, d in order])
    c = len(ids)
    # pairwise candidate distances in one shot
    cm = v64[ids]
    if metric == "l2":
        sq = np.einsum("ij,ij->i", cm, cm)
        pair = sq[:, None] + sq[None, :] - 2.0 * (cm @ cm.T)
    else:
        pair = -(cm @ cm.T)
    kept: list[int] = []
    taken = np.zeros(c, bool)
    for alpha in alphas:
        if len(kept) == m:
            break
        # eligible now = untaken candidates compatible (at this alpha)
        # with everything already kept; greedy pick nearest, then
        # eliminate in one vector op everything the pick invalidates
        if kept:
            elig = ~taken & np.all(
                d_p[:, None] < alpha * pair[:, kept], axis=1
            )
        else:
            elig = ~taken
        while len(kept) < m:
            idxs = np.nonzero(elig)[0]
            if not len(idxs):
                break
            pick = int(idxs[0])
            kept.append(pick)
            taken[pick] = True
            elig &= d_p < alpha * pair[:, pick]
            elig[pick] = False
    for idx in range(c):
        if len(kept) >= m:
            break
        if not taken[idx]:
            kept.append(idx)
            taken[idx] = True
    return [int(ids[i]) for i in kept]


#: byte budget for one pairwise block in the alpha-prune passes. 8 MB
#: (not 64) on purpose: the (B, K, K) pairwise matrix must stay near-L3-
#: resident because builds run ~32 concurrent shard tasks per node —
#: measured at n=10k solo 2.7s -> 1.6s, and it is the difference between
#: DRAM-bandwidth-bound and cache-resident under full concurrency
_PRUNE_BLOCK_BYTES = 8 << 20

#: gram columns precomputed per candidate row in _batch_robust_prune; picks
#: beyond this position (~13% at k=160, measured) compute their row lazily
_PRUNE_FRONT_COLS = 64


def _prune_row_bytes(k: int, d: int) -> int:
    """Per-row working-set bytes of _batch_robust_prune: the (F, k) gram
    slab plus the (k, d) candidate-vector slab — used by callers to cut
    blocks at the _PRUNE_BLOCK_BYTES cache budget."""
    return (min(k, _PRUNE_FRONT_COLS) * k + k * d) * 4


def _batch_robust_prune(
    v32: np.ndarray,
    metric: str,
    alphas: list[float],
    m: int,
    cand_ids: np.ndarray,
    cand_d: np.ndarray,
) -> list[list[int]]:
    """Vectorized RobustPrune over a block of vertices at once.

    Same greedy semantics as :func:`_robust_prune` (keep nearest-first u
    iff ∀ kept v: d(p,u) < α·d(u,v); leftovers retried at the next α;
    backfill nearest pruned up to m), expressed over (B, k) arrays: the
    per-candidate compatibility test ``∀v∈kept: d_p < α·pair[u,v]``
    collapses to ``d_p < α·minD[u]`` with ``minD`` the running min over
    kept candidates, so each greedy step is one argmax + one gather for
    the whole block. Pairwise distances are f32 (the per-vertex path uses
    f64) — a deliberate trade: candidate pruning is a heuristic, search
    distances stay exact.

    ``cand_ids``/``cand_d``: (B, k) candidate ids / distances sorted
    ascending per row, self excluded; pad unused slots with ``d = +inf``.
    Returns kept GLOBAL ids per row (pick order, like _robust_prune).
    """
    B, k = cand_d.shape
    x = v32[np.where(np.isfinite(cand_d), cand_ids, 0)]  # pad slots → row 0 (never picked)
    # Two-tier pairwise distances: the greedy only ever READS the gram rows
    # of PICKED candidates (~26/row measured vs k=160 columns computed), and
    # picks are nearest-first, so ~87% land in the first F=64 positions.
    # Precompute gram rows for the front F columns with one batched matmul
    # (batched BLAS — einsum's 3-D contraction path is ~50x slower here)
    # and compute the rare deep pick's row on demand: ~2.4x fewer flops
    # than the full (B,k,k) gram, and no (B,k,k) P materialization at all.
    F = min(k, _PRUNE_FRONT_COLS)
    Gf = np.matmul(x[:, :F], x.transpose(0, 2, 1))  # (B, F, k)
    n2 = np.einsum("bkd,bkd->bk", x, x) if metric == "l2" else None
    # avail = pickable: not padding, not yet taken, row not closed. Closing
    # a full row (kept_n == m) by zeroing its avail row replaces the
    # per-step kept_n broadcast test; the backfill below only runs for
    # NON-closed rows, where avail still means exactly "never taken".
    avail = np.isfinite(cand_d)
    minD = np.full((B, k), np.inf, np.float32)
    kept_pos = np.full((B, m), -1, np.int64)
    kept_n = np.zeros(B, np.int64)
    rows_all = np.arange(B)
    for a in alphas:
        while True:
            elig = cand_d < a * minD
            elig &= avail
            pick = np.argmax(elig, axis=1)  # first True = nearest eligible
            act = elig[rows_all, pick]
            if not act.any():
                break
            rows = rows_all[act]
            pk = pick[act]
            avail[rows, pk] = False
            kept_pos[rows, kept_n[rows]] = pk
            kept_n[rows] += 1
            closed = rows[kept_n[rows] == m]
            if len(closed):
                avail[closed] = False
            front = pk < F
            if front.all():
                gr = Gf[rows, pk]
                r = rows
                p = pk
                if metric == "l2":
                    minD[r] = np.minimum(
                        minD[r], n2[r] - 2.0 * gr + n2[r, p][:, None]
                    )
                else:
                    minD[r] = np.minimum(minD[r], -gr)
            else:
                for sel in (front, ~front):
                    if not sel.any():
                        continue
                    r, p = rows[sel], pk[sel]
                    if sel is front:
                        gr = Gf[r, p]
                    else:  # deep pick: one gemv on demand
                        gr = np.matmul(x[r], x[r, p][:, :, None])[:, :, 0]
                    if metric == "l2":
                        prow = n2[r] - 2.0 * gr + n2[r, p][:, None]
                    else:
                        prow = -gr
                    minD[r] = np.minimum(minD[r], prow)
    # backfill nearest pruned (index order = distance order) up to m;
    # only rows with kept_n < m need it, and those were never closed, so
    # their avail row still marks exactly the never-taken candidates
    out: list[list[int]] = []
    fill_rows = np.nonzero(kept_n < m)[0]
    fill_order = (
        np.argsort(~avail[fill_rows], axis=1, kind="stable")
        if len(fill_rows)
        else None
    )
    fill_map = {int(b): i for i, b in enumerate(fill_rows)}
    for b in range(B):
        # duplicate candidate ids (a rand draw colliding with a kNN slot)
        # can essentially never both be PICKED — the first pick drives the
        # twin's minD to ~0 — but one numerical corner survives (an exact
        # duplicate VECTOR of p at cand_d=0 against a minD of +2·ulp), and
        # backfill takes nearest-pruned by index order regardless; the
        # seen-set makes both paths id-unique by construction.
        seen: set[int] = set()
        ks: list[int] = []
        for p in kept_pos[b, : kept_n[b]]:
            cid = int(cand_ids[b, p])
            if cid not in seen:
                seen.add(cid)
                ks.append(cid)
        if len(ks) < m:
            if b in fill_map:
                row_order = fill_order[fill_map[b]]
                avail_b = avail[b]
            else:
                # dedup shrank a greedily-FULL row (the numerical corner
                # above). Its avail row was zeroed when the row closed,
                # so reconstruct "never taken" = non-pad minus the
                # picked positions; without this the fallback saw an
                # all-False row and silently returned m-1 edges.
                taken = np.zeros(avail.shape[1], bool)
                taken[kept_pos[b, : kept_n[b]]] = True
                avail_b = np.isfinite(cand_d[b]) & ~taken
                row_order = np.argsort(~avail_b, kind="stable")
            for p in row_order:
                if not avail_b[p]:
                    break  # stable sort: all still-avail come first
                cid = int(cand_ids[b, p])
                if cid in seen:
                    continue
                seen.add(cid)
                ks.append(cid)
                if len(ks) == m:
                    break
        out.append(ks)
    return out


def _build_vamana(
    vecs: np.ndarray, opts: VamanaOptions, rng: np.random.Generator
) -> tuple[list[list[int]], int]:
    """In-memory Vamana build over one shard; returns (adjacency, medoid).

    Single incremental pass (the reference inserts each row once); the
    ascending alpha schedule lives *inside* RobustPrune. Build-time
    distances are exact f32 (executor-local, no IO amplification); the
    quantized codes are an artifact for search-time traversal."""
    n = len(vecs)
    metric = "l2" if opts.metric == "l2" else "dot"
    alphas = opts.alpha if metric == "l2" else [1.0]
    m = opts.m
    v64 = vecs.astype(np.float64)
    medoid = int(np.argmin(_dists("l2", v64, v64.mean(axis=0))))
    adj: list[list[int]] = [[] for _ in range(n)]

    def robust_prune(p: int, cand: list[tuple[float, int]]) -> list[int]:
        return _robust_prune(v64, metric, alphas, m, p, cand)

    # hot path: ~ef_construction small-index scoring calls per insert —
    # precomputing row sq-norms turns each l2 call into one gather + one
    # small matvec instead of a fresh einsum over the gathered rows
    sq = np.einsum("ij,ij->i", v64, v64) if metric == "l2" else None

    def exact_fn(vq: np.ndarray):
        if metric == "l2":
            qq = float(vq @ vq)

            def fn(idx: np.ndarray) -> np.ndarray:
                return np.maximum(sq[idx] - 2.0 * (v64[idx] @ vq) + qq, 0.0)

        else:

            def fn(idx: np.ndarray) -> np.ndarray:
                return -(v64[idx] @ vq)

        return fn

    # deferred back-edge pruning: let adjacency grow to m+slack and prune
    # once, instead of re-pruning on every single overflow (same graph
    # quality, ~slack× fewer prune calls)
    slack = max(4, m // 2)
    for i in rng.permutation(n):
        i = int(i)
        cand = _beam_search(
            exact_fn(v64[i]), adj, medoid, opts.ef_construction,
            prune_frontier=True,
        )
        if adj[i]:
            nd = _dists(metric, v64[adj[i]], v64[i])
            cand = cand + list(zip(nd.tolist(), adj[i]))
        adj[i] = robust_prune(i, cand)
        for j in adj[i]:
            if i not in adj[j]:
                adj[j].append(i)
                if len(adj[j]) > m + slack:
                    nd = _dists(metric, v64[adj[j]], v64[j])
                    adj[j] = robust_prune(j, list(zip(nd.tolist(), adj[j])))
    for j in range(n):
        if len(adj[j]) > m:
            nd = _dists(metric, v64[adj[j]], v64[j])
            adj[j] = robust_prune(j, list(zip(nd.tolist(), adj[j])))
    _repair_connectivity(adj, medoid, v64)
    return adj, medoid


def _repair_connectivity(adj: "list[list[int]]", medoid: int, v64: np.ndarray) -> None:
    """Bridge every vertex unreachable from the medoid.

    Back-edge pruning (especially under the dot metric, where the triangle
    inequality doesn't hold) can leave vertices unreachable; each one is
    attached to its L2-nearest reachable vertex so every vertex is
    searchable (bridge edges may push a degree past m — they are few and
    bounded by the number of stranded vertices)."""
    n = len(adj)
    seen = np.zeros(n, bool)
    seen[medoid] = True
    stack = [medoid]
    while stack:
        u = stack.pop()
        for v in adj[u]:
            if not seen[v]:
                seen[v] = True
                stack.append(v)
    if not seen.all():
        reach = np.nonzero(seen)[0]
        unreach = np.nonzero(~seen)[0]
        rm = v64[reach]
        r2 = np.einsum("ij,ij->i", rm, rm)
        for u in unreach:
            d = r2 - 2.0 * (rm @ v64[u])
            adj[int(reach[int(np.argmin(d))])].append(int(u))


def _build_vamana_bulk(
    vecs: np.ndarray, opts: VamanaOptions, rng: np.random.Generator
) -> tuple[list[list[int]], int]:
    """Bulk (batch) graph build over one shard: exact k-nearest-neighbor
    candidate lists via blocked matrix products, then the SAME RobustPrune
    + bidirectional-edge + connectivity-repair pipeline as the incremental
    build.

    This is the Spark-first default for ``build``/``compact``: a shard's
    rows are all present up front, so candidate generation does not need
    the reference's per-row beam searches (insert.rs's protocol exists
    because Postgres inserts arrive one at a time — that path remains the
    DML ``insert`` implementation). Exact-kNN candidates + alpha-pruned
    diversity edges is the classic batch DiskANN/NSG construction; search
    semantics and the recall contracts are unchanged. ~10-20x faster than
    the incremental loop on a 15k-row shard because candidate generation
    is two GEMMs instead of ~n beam searches.
    """
    n = len(vecs)
    metric = "l2" if opts.metric == "l2" else "dot"
    alphas = opts.alpha if metric == "l2" else [1.0]
    m = opts.m
    if n == 0:
        return [], 0
    v64 = vecs.astype(np.float64)
    medoid = int(np.argmin(_dists("l2", v64, v64.mean(axis=0))))
    if n == 1:
        return [[]], medoid
    # candidate pool = 2·ef_construction nearest + a handful of RANDOM
    # vertices per row. On clustered data a pure-kNN pool lies entirely
    # inside the vertex's own cluster, so the graph has no inter-cluster
    # edges and beam search cannot navigate between clusters (measured:
    # recall@10 0.74 vs 1.0 incremental on 50-cluster data). The random
    # candidates restore the long-range shortcut edges that per-row beam
    # searches provide in the incremental protocol — the alpha prune keeps
    # a far random candidate exactly when it is diverse (not dominated by
    # an already-kept edge), which is the DiskANN edge-selection rule.
    k = min(n - 1, 2 * int(opts.ef_construction))
    nr = min(32, n - 1)
    v32 = np.ascontiguousarray(vecs.astype(np.float32))
    sq32 = np.einsum("ij,ij->i", v32, v32)
    K = k + nr
    knn_idx = np.empty((n, K), np.int64)
    knn_d = np.empty((n, K), np.float32)
    rand_idx = rng.integers(0, n, size=(n, nr))
    # Streaming tiled top-k: the build runs ~32 concurrent shard tasks per
    # node, so the candidate pass must be CACHE-resident, not just
    # blocked — materializing (B, n) distance rows (the previous layout,
    # ~64 MB per block) made 32 workers contend for DRAM bandwidth and
    # degraded per-task speed 3.7x vs solo. With a (256-row, 2048-col)
    # tile and a running top-k merge, the working set is ~2 MB and the
    # same pass measures 10x faster at n=10k / 4.7x at n=30k under
    # 32-way concurrency (solo speed unchanged). Candidate SETS are
    # identical to the one-shot argpartition; only tie order can differ.
    ids_all = np.arange(n, dtype=np.int64)
    B, T = 256, 2048
    # preallocated buffers: dist_buf holds one (B, T) tile's distances;
    # buf_d/buf_i stage the running top-k [0:k) plus the tile's QUALIFYING
    # entries [k:) for the partition merge
    dist_buf = np.empty((min(B, n), T), np.float32)
    buf_d = np.empty((min(B, n), k + T), np.float32)
    buf_i = np.empty((min(B, n), k + T), np.int64)
    for s in range(0, n, B):
        e = min(n, s + B)
        rows = np.arange(s, e)
        cur_d = np.full((e - s, k), np.inf, np.float32)
        cur_i = np.zeros((e - s, k), np.int64)
        for ts in range(0, n, T):
            te = min(n, ts + T)
            w = te - ts
            g = v32[s:e] @ v32[ts:te].T
            d = dist_buf[: e - s, :w]
            if metric == "l2":
                np.multiply(g, -2.0, out=d)
                d += sq32[s:e, None]
                d += sq32[ts:te][None, :]
            else:
                np.negative(g, out=d)
            if ts < e and te > s:  # exclude self where tile overlaps rows
                ov = rows[(rows >= ts) & (rows < te)]
                d[ov - s, ov - ts] = np.inf
            # threshold-filtered merge: only tile entries STRICTLY under
            # the row's current k-th best can enter the top-k, and after
            # the first tile that is a tiny fraction of T — the
            # unfiltered (B, k+T) argpartition was 62% of the whole kNN
            # pass (measured solo at n=12k/d=64: argpart 1.66s of 2.66s
            # vs gemm 0.29s). Dense tiles (≥1/8 qualifying — the first
            # tile always, where thr is +inf) keep the bulk merge: the
            # nonzero+scatter path costs MORE than a plain copy there.
            # Candidate sets are unchanged up to ties at the k-th
            # boundary (now resolved toward the incumbent — the one-shot
            # argpartition never pinned tie order either, so the
            # distance multiset is identical).
            thr = cur_d.max(axis=1)
            mask = d < thr[:, None]
            nq = int(np.count_nonzero(mask))
            if nq == 0:
                continue
            if nq * 8 >= (e - s) * w:  # dense tile: bulk merge
                bd = buf_d[: e - s, : k + w]
                bi = buf_i[: e - s, : k + w]
                bd[:, :k] = cur_d
                bi[:, :k] = cur_i
                bd[:, k:] = d
                bi[:, k:] = ids_all[ts:te]
            else:  # sparse tile: merge only the qualifying entries
                r, c = np.nonzero(mask)
                pos = np.arange(len(r)) - np.searchsorted(r, r)
                q = int(pos.max()) + 1
                bd = buf_d[: e - s, : k + q]
                bi = buf_i[: e - s, : k + q]
                bd[:, :k] = cur_d
                bi[:, :k] = cur_i
                bd[:, k:] = np.inf
                bi[:, k:] = 0  # padding must stay a VALID row id
                bd[r, k + pos] = d[r, c]
                bi[r, k + pos] = c + ts
            sel = np.argpartition(bd, k - 1, axis=1)[:, :k]
            cur_d = np.take_along_axis(bd, sel, axis=1)
            cur_i = np.take_along_axis(bi, sel, axis=1)
        ri = rand_idx[s:e]
        gr = np.einsum("bd,bkd->bk", v32[s:e], v32[ri])
        if metric == "l2":
            rd = (sq32[s:e, None] - 2.0 * gr + sq32[ri]).astype(np.float32)
        else:
            rd = (-gr).astype(np.float32)
        rd[ri == rows[:, None]] = np.inf  # a rand draw of the row itself
        allid = np.concatenate([cur_i, ri], axis=1)
        alld = np.concatenate([cur_d, rd], axis=1)
        order = np.argsort(alld, axis=1, kind="stable")
        knn_idx[s:e] = np.take_along_axis(allid, order, axis=1)
        knn_d[s:e] = np.take_along_axis(alld, order, axis=1)
    # A random candidate may duplicate a kNN slot (a rand draw of the row
    # itself is already masked to ∞ above). No explicit dedup pass is
    # needed (the per-row (n, K) id-argsort it took cost ~150 CPU-s at 1M
    # rows — 9% of the kernel): the greedy prune CANNOT keep both copies
    # of a duplicated candidate — picking one sets the other's running
    # minD to (numerically) its self-distance ≈ 0, failing the strict
    # ``d_p < α·minD`` test for any real d_p — and the stable
    # distance-sort keeps the kNN copy ahead of its rand twin, so the
    # same element survives that the old mask kept. The one path that
    # could re-admit a duplicate, the nearest-pruned BACKFILL, now skips
    # already-kept ids explicitly (see _batch_robust_prune).
    # blockwise vectorized alpha-prune of every vertex's candidates
    adj: list[list[int]] = []
    dim = v32.shape[1]
    PB = max(1, _PRUNE_BLOCK_BYTES // max(1, _prune_row_bytes(K, dim)))
    for s in range(0, n, PB):
        e = min(n, s + PB)
        adj.extend(
            _batch_robust_prune(
                v32, metric, alphas, m, knn_idx[s:e], knn_d[s:e]
            )
        )
    # bidirectional edges, then one vectorized prune pass over oversized
    # adjacencies. Closed form of the sequential scan (append p to adj[j]
    # for every directed edge p→j whose reverse is absent, p ascending):
    # sorted-key membership + one grouped append — replaces n·m Python
    # set operations with array ops.
    lens = np.fromiter((len(a) for a in adj), np.int64, n)
    if lens.sum():
        src = np.repeat(np.arange(n, dtype=np.int64), lens)
        dst = np.fromiter((j for a in adj for j in a), np.int64, int(lens.sum()))
        keys = np.sort(src * n + dst)
        rev = dst * n + src
        pos = np.searchsorted(keys, rev).clip(max=len(keys) - 1)
        missing = keys[pos] != rev
        add_to = dst[missing]
        add_val = src[missing]
        order = np.argsort(add_to, kind="stable")  # stable: src stays ascending
        add_to = add_to[order]
        add_val = add_val[order]
        bounds = np.searchsorted(add_to, np.arange(n + 1, dtype=np.int64))
        for j in np.unique(add_to):
            adj[j].extend(add_val[bounds[j] : bounds[j + 1]].tolist())
    # After bidirectional edge insertion MOST vertices are oversized (the
    # in-degree tail is long: measured 33..348 at n=10k, m=32), and the
    # prune's pairwise matrix costs O(k²) per row — padding every row to
    # the GLOBAL max length did ~48x the needed work and overran the
    # _PRUNE_BLOCK_BYTES budget (sized for the main pass's K) ~5x. Sort by adjacency
    # length and cut blocks at a LOCAL kmax under the same byte budget:
    # padding never exceeds one block's length spread. Measured: the
    # re-prune pass drops 17.3s -> ~1s at n=10k (same output — row order
    # within _batch_robust_prune is independent).
    over = [j for j in range(n) if len(adj[j]) > m]
    if over:
        over.sort(key=lambda j: len(adj[j]))
        dim = v32.shape[1]
        i = 0
        while i < len(over):
            # grow the block while rows x _prune_row_bytes(local_kmax) stays
            # within the _PRUNE_BLOCK_BYTES budget; ascending sort makes the
            # last row's length the block kmax
            e = i + 1
            while e < len(over) and (
                (e + 1 - i) * _prune_row_bytes(len(adj[over[e]]), dim)
                <= _PRUNE_BLOCK_BYTES
            ):
                e += 1
            blk = over[i:e]
            kmax = len(adj[blk[-1]])
            # pad ragged adjacencies into one (B, kmax) block, then compute
            # candidate distances + per-row sorts with BLOCK ops (the
            # per-row gemv/argsort loop was ~n small numpy calls per shard)
            o_ids = np.zeros((len(blk), kmax), np.int64)
            pad = np.ones((len(blk), kmax), bool)
            for r, j in enumerate(blk):
                o_ids[r, : len(adj[j])] = adj[j]
                pad[r, len(adj[j]) :] = False
            xb = v32[o_ids]  # (B, kmax, d); pad slots point at row 0
            pv = v32[np.asarray(blk, np.int64)]
            g = np.matmul(xb, pv[:, :, None])[:, :, 0]
            if metric == "l2":
                o_d = sq32[o_ids] - 2.0 * g + sq32[np.asarray(blk)][:, None]
            else:
                o_d = -g
            o_d[~pad] = np.inf
            o = np.argsort(o_d, axis=1, kind="stable")
            o_ids = np.take_along_axis(o_ids, o, axis=1)
            o_d = np.take_along_axis(o_d, o, axis=1)
            for j, new in zip(
                blk, _batch_robust_prune(v32, metric, alphas, m, o_ids, o_d)
            ):
                adj[j] = new
            i = e
    _repair_connectivity(adj, medoid, v64)
    return adj, medoid


#: above this shard size the bulk builder's O(n²) exact-kNN candidate
#: pass costs more than the incremental insert loop (measured crossover
#: ~70k rows at 64d); auto-sharding keeps shards below this, but a user
#: forcing a small n_shards on a huge input must not quietly go quadratic
_BULK_MAX_ROWS = 100_000

#: post-closure row bound per BUILD TASK: clusters larger than this split
#: into hash-subshards at build (routing still probes whole clusters), so
#: single-task build time/memory is bounded by construction even when
#: k-means masses are skewed (measured 500..51.7k rows/shard at 1M rows)
#: and stays comfortably inside the bulk builder's sweet spot. 20k (was
#: 40k): the bulk candidate pass is quadratic per shard, so the straggler
#: task that bounds build wall-clock costs ~4x per row at 40k vs 20k
#: (measured: the 1M-row build's slowest tasks were all its ~40k shards
#: at 37-77s each); recall is unaffected by construction since probed
#: clusters always expand to ALL their subshards
_MAX_SHARD_ROWS = 20_000


def _build_graph(
    vecs: np.ndarray, opts: VamanaOptions, rng: np.random.Generator
) -> tuple[list[list[int]], int]:
    """Dispatch on ``opts.build_mode`` (bulk default, incremental for
    reference-protocol parity), with a size safety valve: oversized shards
    fall back to the incremental build rather than paying the bulk
    builder's quadratic candidate pass."""
    if opts.build_mode == "incremental" or len(vecs) > _BULK_MAX_ROWS:
        if opts.build_mode != "incremental":
            import logging

            logging.getLogger(__name__).warning(
                "graph shard of %d rows exceeds _BULK_MAX_ROWS=%d; falling "
                "back to the 10-20x slower incremental build — raise "
                "n_shards (or let auto-sharding pick it) to stay on the "
                "bulk path",
                len(vecs),
                _BULK_MAX_ROWS,
            )
        return _build_vamana(vecs, opts, rng)
    return _build_vamana_bulk(vecs, opts, rng)


def _make_dist_fn(metric: str, bits: int, grp: pd.DataFrame, dim: int, q_rot: np.ndarray):
    """Quantized-estimate scoring callback over one shard's code columns
    (the traversal analogue of the reference's quantized vertex scoring)."""
    internal = "l2" if metric == "l2" else "dot"
    if bits == 1:
        bits_mat = K.unpack_bits(list(grp["code"]), dim).astype(np.int64)
        lut = K.binary_lut(q_rot)
        qv = lut["qvector"].astype(np.int64)
        meta = {
            "dis_u_2": grp["dis_u_2"].to_numpy(np.float32),
            "factor_cnt": grp["factor_cnt"].to_numpy(np.float32),
            "factor_ip": grp["factor_ip"].to_numpy(np.float32),
            "factor_err": grp["factor_err"].to_numpy(np.float32),
        }

        def fn(idx: np.ndarray) -> np.ndarray:
            sums = bits_mat[idx] @ qv
            sub = {k: v[idx] for k, v in meta.items()}
            if internal == "l2":
                rough, _ = K.rough_l2(sums, sub, lut)
            else:
                rough, _ = K.rough_dot(sums, sub, lut)
            return rough.astype(np.float64)

        return fn

    # 2-bit extended codes (nibble-packed): dequantized-estimate distance
    code = K.unpack_nibbles(list(grp["code"]), dim).astype(np.float64) - 1.5
    with np.errstate(divide="ignore", invalid="ignore"):
        scale = np.sqrt(grp["ext_dis_u_2"].to_numpy(np.float64)) / grp[
            "ext_nol"
        ].to_numpy(np.float64)
    scale = np.nan_to_num(scale, nan=0.0, posinf=0.0)
    du2 = grp["ext_dis_u_2"].to_numpy(np.float64)
    q64 = np.asarray(q_rot, np.float64)
    qn2 = float(q64 @ q64)

    def fn2(idx: np.ndarray) -> np.ndarray:
        dotq = (code[idx] @ q64) * scale[idx]
        if internal == "l2":
            return du2[idx] + qn2 - 2.0 * dotq
        return -dotq

    return fn2


def _make_assign_fn(bc_cents, metric: str, repl: int, eps: float):
    """Closure-assignment mapInPandas fn (SPANN-style): primary shard =
    argmin centroid distance; replicate into up to ``repl`` nearest shards
    whose distance is within the closure factor of the minimum."""

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc_cents.value
        c2 = np.einsum("ij,ij->i", c, c)
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack([np.asarray(v, np.float32) for v in pdf["vec"]])
            if metric == "dot":
                d = -(mat @ c.T)
            else:
                # squared l2 up to the constant |x|^2 (argmin/closure
                # ratios need the true squared distance, so add it)
                x2 = np.einsum("ij,ij->i", mat, mat)
                d = x2[:, None] + c2[None, :] - 2.0 * (mat @ c.T)
            order = np.argsort(d, axis=1, kind="stable")[:, :repl]
            d_min = d.min(axis=1)
            if metric == "dot":
                thresh = d_min + eps * np.abs(d_min)
            else:
                thresh = (1.0 + eps) ** 2 * np.maximum(d_min, 0.0)
            ids = pdf["id"].to_numpy(np.int64)
            vecs = _f32_row_bytes(mat)
            out_id, out_vec, out_shard, out_prim = [], [], [], []
            for r in range(repl):
                s = order[:, r]
                keep = (
                    np.ones(len(ids), bool)
                    if r == 0
                    else d[np.arange(len(ids)), s] <= thresh
                )
                idxs = np.nonzero(keep)[0]
                out_id.append(ids[idxs])
                out_vec.extend(vecs[i] for i in idxs)
                out_shard.append(s[idxs].astype(np.int32))
                out_prim.append(np.full(len(idxs), r == 0, bool))
            yield pd.DataFrame(
                {
                    "id": np.concatenate(out_id),
                    "vec": out_vec,
                    "shard": np.concatenate(out_shard),
                    "is_primary": np.concatenate(out_prim),
                }
            )

    return assign


def _make_assign_labels_fn(bc_cents, metric: str, repl: int, eps: float):
    """Label-only variant of :func:`_make_assign_fn` for counting passes:
    same closure-replicated assignment, but only the 4-byte shard label
    crosses Arrow back — no vector columns are rebuilt or transferred
    (the same two-pass trade as the IVF distributed k-means counts)."""

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc_cents.value
        c2 = np.einsum("ij,ij->i", c, c)
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack([np.asarray(v, np.float32) for v in pdf["vec"]])
            if metric == "dot":
                d = -(mat @ c.T)
            else:
                x2 = np.einsum("ij,ij->i", mat, mat)
                d = x2[:, None] + c2[None, :] - 2.0 * (mat @ c.T)
            order = np.argsort(d, axis=1, kind="stable")[:, :repl]
            d_min = d.min(axis=1)
            if metric == "dot":
                thresh = d_min + eps * np.abs(d_min)
            else:
                thresh = (1.0 + eps) ** 2 * np.maximum(d_min, 0.0)
            n = len(pdf)
            out = []
            for r in range(repl):
                s = order[:, r]
                keep = (
                    np.ones(n, bool)
                    if r == 0
                    else d[np.arange(n), s] <= thresh
                )
                out.append(s[keep].astype(np.int32))
            yield pd.DataFrame({"shard": np.concatenate(out)})

    return assign


def _vertex_codes(vecs: np.ndarray, bits: int) -> dict:
    """Quantized vertex payload columns for a batch of vectors (the
    reference's 1/2-bit RaBitQ vertex storage, crates/rabitq/src/bits.rs)."""
    rot = K.rotate(vecs)
    n = len(vecs)
    if bits == 1:
        cm = K.bit_code(rot)
        return {
            "dis_u_2": cm["dis_u_2"],
            "factor_cnt": cm["factor_cnt"],
            "factor_ip": cm["factor_ip"],
            "factor_err": cm["factor_err"],
            "ext_dis_u_2": np.zeros(n, np.float32),
            "ext_nol": np.zeros(n, np.float32),
            "code": K.pack_bits(cm["signs"]),
        }
    ext = K.extended_code(rot, 2)
    return {
        "dis_u_2": np.zeros(n, np.float32),
        "factor_cnt": np.zeros(n, np.float32),
        "factor_ip": np.zeros(n, np.float32),
        "factor_err": np.zeros(n, np.float32),
        "ext_dis_u_2": ext["dis_u_2"],
        "ext_nol": ext["norm_of_lattice"],
        "code": K.pack_nibbles(ext["code"]),
    }


class VamanaIndex(QuerySampling):
    def __init__(self, spark: SparkSession, path: str):
        from vectorchord_spark.session import ensure_worker_imports

        ensure_worker_imports(spark)
        self.spark = spark
        self.path = path
        with open(os.path.join(path, "meta.json")) as f:
            self.meta = json.load(f)
        self.centroids = np.asarray(self.meta["centroids"], np.float64)

    @property
    def graph_path(self) -> str:
        v = self.meta.get("graph_version", 0)
        return os.path.join(self.path, "graph" if v == 0 else f"graph_v{v}")

    @property
    def _tombstones_path(self) -> str:
        return os.path.join(self.path, "tombstones")

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        df: DataFrame,
        id_col: str,
        vec_col: str,
        path: str,
        options: VamanaOptions | None = None,
    ) -> "VamanaIndex":
        from vectorchord_spark.session import ensure_worker_imports

        ensure_worker_imports(spark)
        opts = options or VamanaOptions()
        opts.validate()
        os.makedirs(path, exist_ok=True)

        # NULL vectors are skipped (reference null.fail / issue_427 contract)
        src = df.where(F.col(vec_col).isNotNull()).select(
            F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
        )
        if opts.metric == "cos":
            src = src.select("id", D.normalize("vec").cast("array<float>").alias("vec"))
        n_shards = opts.n_shards
        if n_shards is None:
            total = src.count()
            # dense sharding at small scale (one shard per ~5k vectors so
            # local[N] parallelism is used), bounded per-shard size at
            # large scale: past ~320k vectors the count grows one shard
            # per 30k raw rows (~60k per shard after 2x closure
            # replication — deliberately BELOW the _BULK_MAX_ROWS=100k
            # safety valve so an above-average shard still takes the fast
            # bulk build rather than silently tripping the 10-20x-slower
            # incremental fallback). This keeps every single-task build
            # inside the bulk builder's O(n²)-candidate sweet spot
            # (crossover vs the incremental insert loop is ~70k
            # rows/shard) AND bounds per-shard memory; at 100M rows it
            # yields ~3.4k shards, which routing (a rows x n_shards
            # matvec) and the driver shard k-means both absorb easily
            n_shards = max(1, min(total // 5000 + 1, 64 + total // 30_000))

        # --- shard centroids: bounded sample → driver k-means (the same
        # single-pass per-partition sampler as the IVF build — a global
        # orderBy(rand).limit degenerates into sort-everything at scale;
        # shards are spatial clusters so query routing = centroid argmin,
        # the SPANN-style layout) ---
        cap = max(n_shards * 256, 1024)
        sample_pd = bounded_sample_vectors(src, cap, opts.seed)
        if len(sample_pd):
            samples = np.stack(sample_pd["vec"].to_numpy()).astype(np.float32)
            dim = samples.shape[1]
        elif opts.dim:
            # empty/all-NULL input builds an empty-but-searchable graph
            # (reference issue_427 contract)
            samples = np.zeros((0, int(opts.dim)), np.float32)
            dim = int(opts.dim)
        else:
            raise ValueError(
                "cannot infer vector dimension from an empty (or all-NULL) "
                "input; pass VamanaOptions(dim=...)"
            )
        cents = KM.lloyd(samples, n_shards, 10, opts.seed, False).astype(np.float32)
        bc_cents = spark.sparkContext.broadcast(cents)

        metric = opts.metric
        repl = min(int(opts.replication), int(n_shards))
        eps = float(opts.closure_epsilon)

        assigned = src.mapInPandas(
            _make_assign_fn(bc_cents, metric, repl, eps),
            "id long, vec binary, shard int, is_primary boolean",
        )

        # --- deterministic subsharding of oversized clusters: k-means
        # cluster masses are skewed on real data (the 1M-row point
        # measured 500..51.7k rows/shard), so single-task build time is
        # dominated by straggler shards and a hot cluster could outgrow
        # per-task memory at 100x. Clusters whose post-closure row count
        # exceeds _MAX_SHARD_ROWS split into hash-subshards
        # (xxhash64(id) % n_sub — reproducible, so DML insert routes new
        # rows identically). ROUTING stays at cluster level: a query
        # probes clusters by centroid distance and expands to all of a
        # probed cluster's subshards, so probe_shards semantics and
        # recall are unchanged — only the per-task build/beam unit is
        # bounded by construction. The count pass recomputes assignment
        # labels instead of persisting the vector-fat assigned frame
        # (same two-pass trade as the IVF distributed k-means). ---
        cluster_cnt = {
            int(r["shard"]): int(r["cnt"])
            for r in src.mapInPandas(
                _make_assign_labels_fn(bc_cents, metric, repl, eps),
                "shard int",
            )
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        n_sub = [
            max(1, -(-cluster_cnt.get(c, 0) // _MAX_SHARD_ROWS))
            for c in range(n_shards)
        ]
        sub_base = [0] * n_shards
        acc = 0
        for c in range(n_shards):
            sub_base[c] = acc
            acc += n_sub[c]
        total_shards = acc
        if total_shards > n_shards:
            base_arr = F.array(*[F.lit(int(b)) for b in sub_base])
            nsub_arr = F.array(*[F.lit(int(s)) for s in n_sub])
            assigned = assigned.withColumn(
                "shard",
                (
                    F.element_at(base_arr, F.col("shard") + 1)
                    + F.pmod(
                        F.xxhash64("id"),
                        F.element_at(nsub_arr, F.col("shard") + 1),
                    )
                ).cast("int"),
            )

        opts_d = asdict(opts)
        seed = opts.seed
        bits = opts.bits

        def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            o = VamanaOptions(**{**opts_d, "n_shards": n_shards})
            shard = int(pdf["shard"].iloc[0])
            vecs = _f32_matrix(pdf["vec"], dim)
            rng = np.random.default_rng(seed + shard)
            adj, medoid = _build_graph(vecs, o, rng)
            n = len(vecs)
            return pd.DataFrame(
                {
                    "shard": shard,
                    "id": pdf["id"].to_numpy(np.int64),
                    "row_no": np.arange(n, dtype=np.int32),
                    "medoid_row": np.full(n, medoid, np.int32),
                    "is_primary": pdf["is_primary"].to_numpy(bool),
                    "neighbors": _adj_to_bin(adj),
                    # input vec bytes pass through unchanged (already
                    # the packed f32 payload)
                    "vec": pdf["vec"].to_numpy(),
                    **_vertex_codes(vecs, bits),
                }
            )

        # Build-stage task layout: one shard per partition, LAUNCHED IN
        # DESCENDING SIZE ORDER (longest-processing-time-first). The
        # driver already knows every shard's post-closure row count, so
        # each shard's rows get the golden key of its size-rank partition
        # (_lpt_partition_keys) and a plain repartition(total_shards)
        # places shard rank r in partition r exactly. Spark launches
        # tasks in partition-index order, so the quadratic-cost straggler
        # shards start in wave 1 and the small shards pack the tail —
        # measured on the 1M-row point: random hash order wastes ~12s of
        # makespan vs LPT (73.5s vs 61.7s simulated from per-shard task
        # times) and the previous 4x over-partitioning added ~480 empty
        # task slots. The explicit partition count still disables AQE
        # coalescing (which would pack several CPU-bound shards per
        # task). Grouping includes _pkey so HashPartitioning([_pkey])
        # satisfies the group distribution — no second exchange
        # (plan-asserted in tests).
        est = [
            cluster_cnt.get(c, 0) / n_sub[c]
            for c in range(n_shards)
            for _ in range(n_sub[c])
        ]
        order = sorted(range(total_shards), key=lambda s: (-est[s], s))
        keys = _lpt_partition_keys(total_shards)
        key_of_shard = [0] * total_shards
        for rank, s in enumerate(order):
            key_of_shard[s] = keys[rank]
        pkey_arr = F.array(*[F.lit(int(k)) for k in key_of_shard])
        graph = (
            assigned.withColumn(
                "_pkey",
                F.element_at(pkey_arr, F.col("shard") + 1).cast("int"),
            )
            .repartition(total_shards, "_pkey")
            .groupBy("_pkey", "shard")
            .applyInPandas(build_shard, GRAPH_SCHEMA)
        )
        # applyInPandas output already holds whole shards per task, so the
        # partitionBy write needs no repartition — the previous
        # repartition(shard) pushed the FAT built graph (vecs + neighbors
        # + codes, ~1 GB at 1M rows) through a second full shuffle for an
        # identical one-dir-per-shard layout
        graph.write.mode("overwrite").partitionBy("shard").parquet(
            os.path.join(path, "graph")
        )

        # per-shard row counts (replicas included — they are traversal
        # vertices) so serving can auto-scale ef_search with shard size;
        # a count-only scan over the freshly written column-pruned parquet
        shard_rows = {
            str(r["shard"]): int(r["cnt"])
            for r in spark.read.parquet(os.path.join(path, "graph"))
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }

        meta = {
            **opts_d,
            # n_shards = SERVING shard count (subshards included);
            # routing runs over the n_clusters original centroids and
            # expands probed clusters via cluster_subshards
            "n_shards": int(total_shards),
            "n_clusters": int(n_shards),
            "cluster_subshards": [
                [int(sub_base[c]), int(n_sub[c])] for c in range(n_shards)
            ],
            "dim": int(dim),
            "centroids": [[float(x) for x in c] for c in cents],
            "shard_rows": shard_rows,
        }
        with open(os.path.join(path, "meta.json"), "w") as f:
            json.dump(meta, f)
        return cls(spark, path)

    # ------------------------------------------------------------------
    # DML: insert / delete / compact (the vchordg incremental lifecycle,
    # /root/reference/crates/vchordg/src/insert.rs:34-395 + bulkdelete)
    # ------------------------------------------------------------------

    def _write_version(self, updated: DataFrame, affected: list[int]) -> None:
        """Write ``updated`` (the full new content of the affected shards)
        to the next graph version dir; unaffected shard partitions are
        hardlinked from the previous version (locally — on a real
        deployment this is a metastore partition-pointer swap).

        Retention window: only the two newest versions are kept (older
        dirs are rmtree'd below), so a lazy search DataFrame stays
        materializable for exactly ONE subsequent DML operation; a
        DataFrame captured two or more DML operations ago fails at
        materialization when its files are garbage-collected. Mirrors
        IvfIndex.compact's snapshot-ish policy."""
        old_path = self.graph_path
        old_v = self.meta.get("graph_version", 0)
        new_v = old_v + 1
        new_path = os.path.join(self.path, f"graph_v{new_v}")
        (
            updated.repartition(F.col("shard"))
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(new_path)
        )
        aff = {int(s) for s in affected}
        for entry in os.listdir(old_path):
            if not entry.startswith("shard="):
                continue
            if int(entry.split("=", 1)[1]) in aff:
                continue
            src_dir = os.path.join(old_path, entry)
            dst_dir = os.path.join(new_path, entry)
            os.makedirs(dst_dir, exist_ok=True)
            for f_name in os.listdir(src_dir):
                try:
                    os.link(
                        os.path.join(src_dir, f_name),
                        os.path.join(dst_dir, f_name),
                    )
                except OSError:
                    import shutil

                    shutil.copy2(
                        os.path.join(src_dir, f_name),
                        os.path.join(dst_dir, f_name),
                    )
        self.meta["graph_version"] = new_v
        with open(os.path.join(self.path, "meta.json"), "w") as f:
            json.dump(self.meta, f)
        # refresh per-shard counts so ef_search auto-scaling tracks DML
        self._record_shard_rows()
        # reclaim the version *before* the one we just superseded
        if old_v >= 1:
            import shutil

            stale = "graph" if old_v == 1 else f"graph_v{old_v - 1}"
            shutil.rmtree(os.path.join(self.path, stale), ignore_errors=True)

    def insert(self, df: DataFrame, id_col: str = "id", vec_col: str = "vec") -> None:
        """Incremental insert mirroring the reference's per-row protocol
        (crates/vchordg/src/insert.rs:34-395): per new vector — greedy beam
        search for ``ef_construction`` candidate neighbors → RobustPrune
        with the ascending alpha schedule → bidirectional edge insert with
        re-prune of overflowing neighbors. Rows route to shards with the
        same closure assignment as the build, so each affected shard
        performs its inserts independently (executor-local), and only
        affected shard partitions are rewritten."""
        meta = self.meta
        opts_d = {
            k: meta[k]
            for k in (
                "metric", "m", "ef_construction", "alpha", "bits",
                "replication", "closure_epsilon", "seed",
            )
        }
        metric = meta["metric"]
        bits = int(meta.get("bits", 1))
        dim = int(meta["dim"])
        # NULL vectors are skipped (reference null.fail / issue_427 contract)
        src = df.where(F.col(vec_col).isNotNull()).select(
            F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
        )
        if metric == "cos":
            src = src.select("id", D.normalize("vec").cast("array<float>").alias("vec"))
        cents = np.asarray(self.centroids, np.float32)
        bc_cents = self.spark.sparkContext.broadcast(cents)
        n_clusters = int(meta.get("n_clusters", meta["n_shards"]))
        repl = min(int(meta["replication"]), n_clusters)
        assigned = src.mapInPandas(
            _make_assign_fn(bc_cents, metric, repl, float(meta["closure_epsilon"])),
            "id long, vec binary, shard int, is_primary boolean",
        )
        subs = meta.get("cluster_subshards")
        if subs and any(int(n) > 1 for _, n in subs):
            # same deterministic subshard split as the build, so an id
            # always lands in the same physical shard
            base_arr = F.array(*[F.lit(int(b)) for b, _ in subs])
            nsub_arr = F.array(*[F.lit(int(n)) for _, n in subs])
            assigned = assigned.withColumn(
                "shard",
                (
                    F.element_at(base_arr, F.col("shard") + 1)
                    + F.pmod(
                        F.xxhash64("id"),
                        F.element_at(nsub_arr, F.col("shard") + 1),
                    )
                ).cast("int"),
            )
        assigned = assigned.persist()  # pin ONE evaluation: the affected-shard set and the
        # rewrite job must see identical routing, or _write_version would
        # hardlink an old partition over a freshly written one (a
        # nondeterministic source df — rand()/limit() — could otherwise
        # route differently between the two jobs)
        affected = [
            int(r.shard) for r in assigned.select("shard").distinct().collect()
        ]
        if not affected:
            assigned.unpersist()
            return
        old = (
            self.spark.read.parquet(self.graph_path)
            .where(F.col("shard").isin(affected))
            .withColumn("_new", F.lit(False))
        )
        new = assigned.select(
            "shard",
            "id",
            F.lit(-1).cast("int").alias("row_no"),
            F.lit(-1).cast("int").alias("medoid_row"),
            "is_primary",
            F.lit(None).cast("binary").alias("neighbors"),
            "vec",
            *[
                F.lit(None).cast("float").alias(c)
                for c in (
                    "dis_u_2", "factor_cnt", "factor_ip", "factor_err",
                    "ext_dis_u_2", "ext_nol",
                )
            ],
            F.lit(None).cast("binary").alias("code"),
            F.lit(True).alias("_new"),
        )

        def insert_shard(grp: pd.DataFrame) -> pd.DataFrame:
            o = VamanaOptions(**opts_d)
            shard = int(grp["shard"].iloc[0])
            olds = grp[~grp["_new"]].sort_values("row_no")
            news = grp[grp["_new"]].sort_values("id")
            new_vecs = (
                _f32_matrix(news["vec"], dim)
                if len(news)
                else np.zeros((0, 1), np.float32)
            )
            if not len(olds):
                # shard had no rows yet: fresh build over the inserts
                rng = np.random.default_rng(o.seed + shard)
                adj, medoid = _build_graph(new_vecs, o, rng)
                n = len(new_vecs)
                return pd.DataFrame(
                    {
                        "shard": shard,
                        "id": news["id"].to_numpy(np.int64),
                        "row_no": np.arange(n, dtype=np.int32),
                        "medoid_row": np.full(n, medoid, np.int32),
                        "is_primary": news["is_primary"].to_numpy(bool),
                        "neighbors": _adj_to_bin(adj),
                        "vec": news["vec"].to_numpy(),
                        **_vertex_codes(new_vecs, bits),
                    }
                )
            old_vecs = _f32_matrix(olds["vec"], dim)
            v64 = np.concatenate([old_vecs, new_vecs]).astype(np.float64)
            adj = [np.frombuffer(b, "<i4").tolist() for b in olds["neighbors"]]
            medoid = int(olds["medoid_row"].iloc[0])
            internal = "l2" if o.metric == "l2" else "dot"
            alphas = o.alpha if internal == "l2" else [1.0]
            m = o.m
            n_old = len(olds)
            for j, _ in enumerate(news.itertuples()):
                i = n_old + j
                exact_fn = lambda idx: _dists(internal, v64[idx], v64[i])  # noqa: B023,E731
                cand = _beam_search(
                    exact_fn, adj, medoid, o.ef_construction, prune_frontier=True
                )
                adj.append(_robust_prune(v64, internal, alphas, m, i, cand))
                # bidirectional edges with re-prune on overflow
                # (insert.rs:235-395)
                for nb in adj[i]:
                    if i not in adj[nb]:
                        adj[nb].append(i)
                        if len(adj[nb]) > m:
                            nd = _dists(internal, v64[adj[nb]], v64[nb])
                            adj[nb] = _robust_prune(
                                v64, internal, alphas, m, nb,
                                list(zip(nd.tolist(), adj[nb])),
                            )
            n = n_old + len(news)
            all_vecs = v64.astype(np.float32)
            return pd.DataFrame(
                {
                    "shard": shard,
                    "id": np.concatenate(
                        [
                            olds["id"].to_numpy(np.int64),
                            news["id"].to_numpy(np.int64),
                        ]
                    ),
                    "row_no": np.arange(n, dtype=np.int32),
                    "medoid_row": np.full(n, medoid, np.int32),
                    "is_primary": np.concatenate(
                        [
                            olds["is_primary"].to_numpy(bool),
                            news["is_primary"].to_numpy(bool),
                        ]
                    ),
                    "neighbors": _adj_to_bin(adj),
                    "vec": _f32_row_bytes(all_vecs),
                    **_vertex_codes(all_vecs, bits),
                }
            )

        updated = (
            old.unionByName(new)
            .groupBy("shard")
            .applyInPandas(insert_shard, GRAPH_SCHEMA)
        )
        self._write_version(updated, affected)
        assigned.unpersist()

    def delete(self, ids: "list[int] | DataFrame") -> None:
        """Logical delete via tombstones: the vertex stays a traversal
        waypoint but is excluded from results (the reference's
        payload-nulled vertices pending vacuum); compact() rebuilds."""
        if isinstance(ids, DataFrame):
            tomb = ids.select(F.col(ids.columns[0]).cast("long").alias("id"))
        else:
            tomb = self.spark.createDataFrame([(int(i),) for i in ids], "id long")
        tomb.write.mode("append").parquet(self._tombstones_path)
        self._tombstones_cache = None

    def compact(self) -> None:
        """Vacuum: rebuild every shard containing tombstoned vertices
        without them (shard-local Vamana rebuild — adjacency is positional,
        so removal requires a rebuild; the reference's vacuum similarly
        rewrites vertex pages), then drop the tombstones."""
        if not os.path.exists(self._tombstones_path):
            return
        tomb = self.spark.read.parquet(self._tombstones_path)
        g = self.spark.read.parquet(self.graph_path)
        affected = [
            int(r.shard)
            for r in g.join(F.broadcast(tomb), "id", "left_semi")
            .select("shard")
            .distinct()
            .collect()
        ]
        if affected:
            opts_d = {
                k: self.meta[k]
                for k in (
                    "metric", "m", "ef_construction", "alpha", "bits",
                    "replication", "closure_epsilon", "seed",
                )
            }
            bits = int(self.meta.get("bits", 1))
            dim = int(self.meta["dim"])

            def rebuild_shard(pdf: pd.DataFrame) -> pd.DataFrame:
                o = VamanaOptions(**opts_d)
                shard = int(pdf["shard"].iloc[0])
                pdf = pdf.sort_values("id")
                vecs = _f32_matrix(pdf["vec"], dim)
                rng = np.random.default_rng(o.seed + shard)
                adj, medoid = _build_graph(vecs, o, rng)
                n = len(vecs)
                return pd.DataFrame(
                    {
                        "shard": shard,
                        "id": pdf["id"].to_numpy(np.int64),
                        "row_no": np.arange(n, dtype=np.int32),
                        "medoid_row": np.full(n, medoid, np.int32),
                        "is_primary": pdf["is_primary"].to_numpy(bool),
                        "neighbors": _adj_to_bin(adj),
                        "vec": pdf["vec"].to_numpy(),
                        **_vertex_codes(vecs, bits),
                    }
                )

            survivors = (
                g.where(F.col("shard").isin(affected))
                .join(F.broadcast(tomb), "id", "left_anti")
                .select("shard", "id", "is_primary", "vec")
            )
            updated = survivors.groupBy("shard").applyInPandas(
                rebuild_shard, GRAPH_SCHEMA
            )
            self._write_version(updated, affected)
        import shutil

        shutil.rmtree(self._tombstones_path, ignore_errors=True)

    # ------------------------------------------------------------------

    def _record_shard_rows(self) -> dict[str, int]:
        """Count rows per shard in the current graph version and persist
        the counts into ``meta.json``. Serving reads these to auto-scale
        ``ef_search`` with shard size; DML refreshes them per version."""
        shard_rows = {
            str(r["shard"]): int(r["cnt"])
            for r in self.spark.read.parquet(self.graph_path)
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        self.meta["shard_rows"] = shard_rows
        with open(os.path.join(self.path, "meta.json"), "w") as f:
            json.dump(self.meta, f)
        return shard_rows

    #: reference serving default (`/root/reference/src/index/gucs.rs:337-360`)
    #: — tuned for ONE global graph; used here as the FLOOR of the
    #: auto-scaled per-shard beam width
    _EF_SEARCH_FLOOR = 64

    def _auto_ef_search(self, shards: list[int], k: int) -> int:
        """Compute the default beam width from the probed shards' sizes.

        The reference's fixed ``ef_search=64`` default assumes one global
        graph; under cluster sharding the beam explores each probed shard
        independently, and a fixed 64 caps recall at 0.835 on the 1M-row
        scale point (docs/SCALE.md) where shards hold ~24k vertices.
        Measured guidance across two scale points: at 1M, ef=256 ≈
        rows/94 restores recall 1.000; at 10M (~19k-row shards, 10× the
        candidate density, so the 1-bit traversal estimates discriminate
        less between near-identical candidates) rows/100 = 191 lands
        0.905 while rows/50 = 384 restores ≥0.95 with a ~1.3× in-shard
        cost (docs/SCALE.md r10). The default therefore uses
        ceil(rows/50) of the LARGEST probed shard, floored at the
        reference's 64 — recall-first, since an explicitly passed
        ``ef_search`` (never overridden) is the latency-first path and
        `tools/tune_probes.py --graph` finds the cheapest setting for a
        recall target from recorded queries."""
        rows = self.meta.get("shard_rows")
        if rows is None:  # index built before shard_rows existed
            rows = self._record_shard_rows()
        mx = max((int(rows.get(str(s), 0)) for s in shards), default=0)
        return max(self._EF_SEARCH_FLOOR, int(k), -(-mx // 50))

    def _expand_shards(self, clusters: list[int]) -> list[int]:
        """Cluster ids → physical shard ids (a cluster subsharded at
        build expands to ALL its subshards, so probing a cluster scans
        its full contents; pre-subsharding indexes map identity)."""
        subs = self.meta.get("cluster_subshards")
        if not subs:
            return clusters
        out: list[int] = []
        for c in clusters:
            b, n = subs[c]
            out.extend(range(int(b), int(b) + int(n)))
        return out

    def _route(self, q: np.ndarray, probe_shards: int | None) -> list[int]:
        """Driver-side CLUSTER routing: nearest clusters by centroid
        distance (L2 for l2/cos — cos vectors are stored normalized — dot
        for ip). Callers expand to physical shards via _expand_shards."""
        metric = self.meta["metric"]
        if metric == "dot":
            d = -(self.centroids @ q)
        else:
            diff = self.centroids - q
            d = np.einsum("ij,ij->i", diff, diff)
        order = np.argsort(d, kind="stable")
        if probe_shards is not None:
            order = order[: int(probe_shards)]
        return [int(s) for s in order]

    def _tombstones_df(self) -> "DataFrame | None":
        """Tombstones as a cached lazy DataFrame (None when there are
        none). delete() invalidates — an appended tombstone file would be
        invisible to a plan whose file list was already resolved."""
        if not os.path.exists(self._tombstones_path):
            return None
        cached = getattr(self, "_tombstones_cache", None)
        if cached is not None:
            return cached
        tomb = self.spark.read.parquet(self._tombstones_path)
        self._tombstones_cache = tomb
        return tomb

    def _shard_candidates(self, shards: list[int], body, out_schema: str) -> DataFrame:
        """Per-shard candidate generation with NO serve-time exchange.

        The graph table is hive-partitioned by shard, so each probed
        shard is its own directory. A seed frame of the probed shard ids
        (one id per partition) is mapped through a task that reads ITS
        shard's directory with pyarrow and runs the beam search in place
        (guide §8 "co-locate instead of join": the task reads its own
        slice from storage) — one stage, one task per probed shard, and
        only the ≤ef candidate ids ever move. A groupBy("shard")
        .applyInPandas would ship every probed graph row — vec +
        neighbors + codes — through a hash exchange per cold query.
        (A union of per-directory coalesce(1) scans was measured first
        and rejected: the optimizer hoists the Coalesce above the Union,
        collapsing all probed shards into ONE serial task.)

        The task-side read also guarantees the whole-shard invariant
        (positional row_no indexing needs the full shard in one frame),
        with no file-split hazard.

        ``body(grp, shard) -> pdf`` is the per-shard search."""
        bits = self.meta.get("bits", 1)
        cols = _TRAVERSE_COLS_1BIT if bits == 1 else _TRAVERSE_COLS_2BIT
        live = [
            int(s)
            for s in shards
            if os.path.isdir(os.path.join(self.graph_path, f"shard={int(s)}"))
        ]
        if not live:
            return self.spark.createDataFrame([], out_schema)
        sc = self.spark.sparkContext
        seed = self.spark.createDataFrame(
            sc.parallelize([(s,) for s in live], len(live)), "shard int"
        )
        return seed.mapInPandas(
            _make_shard_reader(self.graph_path, cols, body), out_schema
        )

    def _prep_queries(self, Qe: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Query prep shared by ``search`` and ``search_batch``: the
        (nq, dim) f64 query matrix is dimension-checked (mirroring
        crates/vchordg/src/search.rs), normalized for cos, and rotated.
        Returns (normalized f64 queries, rotated f32 queries)."""
        dim = self.meta["dim"]
        if Qe.ndim != 2 or Qe.shape[1] != dim:
            raise ValueError(
                f"query dimension {Qe.shape[1:]} does not match index "
                f"dimension {dim}"
            )
        if self.meta["metric"] == "cos":
            norms = np.linalg.norm(Qe, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            Qe = Qe / norms
        return Qe, K.rotate(Qe.astype(np.float32))

    def _candidates(
        self,
        Qe: np.ndarray,
        Q_rot: np.ndarray,
        k: int,
        ef_search: int | None,
        probe_shards: int | None,
        rescore_factor: int,
    ) -> DataFrame:
        """Route every query, then beam-search each probed shard once for
        all the queries routed to it. Returns (qid, id, dist) candidates
        with tombstoned ids removed; replica rows are exact duplicates
        (identical bytes in, identical fold out) for the caller to
        dedupe. ``ef_search=None`` auto-scales with the largest probed
        shard (see ``_auto_ef_search``)."""
        meta = self.meta
        metric = meta["metric"]
        dim = meta["dim"]
        bits = meta.get("bits", 1)
        shard_qids: dict[int, list[int]] = {}
        for qi in range(len(Qe)):
            for s in self._expand_shards(self._route(Qe[qi], probe_shards)):
                shard_qids.setdefault(int(s), []).append(qi)
        if ef_search is None:
            ef_search = self._auto_ef_search(list(shard_qids), k)
        ef = int(max(ef_search, k)) * max(1, int(rescore_factor))
        internal = "l2" if metric == "l2" else "dot"

        def shard_search(grp: pd.DataFrame, shard: int) -> pd.DataFrame:
            # grp is the WHOLE shard (see _shard_candidates): row_no is
            # the positional vertex index the adjacency lists refer to
            grp = grp.sort_values("row_no")
            adj = _adj_from_bin(grp["neighbors"])
            medoid = int(grp["medoid_row"].iloc[0])
            ids = grp["id"].to_numpy(np.int64)
            v64 = _f32_matrix(grp["vec"], dim).astype(np.float64)
            out_qid, out_id, out_dist = [], [], []
            for qi in shard_qids[shard]:
                est_fn = _make_dist_fn(metric, bits, grp, dim, Q_rot[qi])
                qx = Qe[qi]
                exact_fn = lambda idx: _dists(internal, v64[idx], qx)  # noqa: B023,E731
                best = _beam_search(est_fn, adj, medoid, ef, exact_fn)
                sel = np.asarray([u for _, u in best], np.int64)
                out_qid.append(np.full(len(sel), qi, np.int32))
                out_id.append(ids[sel])
                # output distances with the JVM-fold-exact accumulation
                # (the candidates' exact vectors are already in memory),
                # so no rescore join or second graph scan is needed
                out_dist.append(_output_dist_leftfold(metric, v64[sel], qx))
            return pd.DataFrame(
                {
                    "qid": np.concatenate(out_qid),
                    "id": np.concatenate(out_id),
                    "dist": np.concatenate(out_dist),
                }
            )

        cand = self._shard_candidates(
            sorted(shard_qids), shard_search, "qid int, id long, dist double"
        )
        # tombstoned ids are filtered from the RESULT, not the traversal
        # (the reference keeps the vertex as a waypoint until vacuum)
        tomb = self._tombstones_df()
        if tomb is not None:
            cand = cand.join(F.broadcast(tomb), "id", "left_anti")
        return cand

    def search(
        self,
        query: "np.ndarray | list[float]",
        k: int = 10,
        ef_search: int | None = None,
        probe_shards: int | None = None,
        rescore_factor: int = 4,
    ) -> DataFrame:
        """Routed per-shard quantized-frontier beam search → exact top-k.

        ``probe_shards`` limits the search to the nearest CLUSTERS by
        centroid distance (None = all, the exhaustive-routing
        configuration); a cluster subsharded at build expands to all its
        subshards, so the probed content is the same regardless of how
        build tasks were split. Traversal expands neighbors on quantized estimates
        and rescores each popped vertex exactly (reference
        search.rs:34-140), so the per-shard ef window is already
        exact-ranked; ``rescore_factor`` optionally widens it.

        ``ef_search=None`` (the default) auto-scales the beam width with
        the probed shards' sizes (see ``_auto_ef_search``); pass an int to
        pin it (the reference's fixed GUC behavior)."""
        Qe, Q_rot = self._prep_queries(np.asarray(query, np.float64)[None])
        self._maybe_record_query(Qe[0].astype(np.float32))
        cand = self._candidates(Qe, Q_rot, k, ef_search, probe_shards, rescore_factor)
        return (
            cand.select("id", "dist").distinct().orderBy("dist", "id").limit(int(k))
        )

    def search_batch(
        self,
        queries: "list[list[float]] | np.ndarray",
        k: int = 10,
        ef_search: int | None = None,
        probe_shards: int | None = None,
        rescore_factor: int = 4,
    ) -> DataFrame:
        """Multi-query routed search in ONE pass over the probed shards.

        Every query routes independently; a shard is scanned once and
        beam-searches only the queries routed to it. Returns
        (qid, id, dist, rank) with rank ≤ k per query.
        ``ef_search=None`` auto-scales with probed shard size (one shared
        value over the batch's union of probed shards — see ``search``)."""
        from pyspark.sql import Window

        Qe, Q_rot = self._prep_queries(np.asarray(queries, np.float64))
        cand = self._candidates(Qe, Q_rot, k, ef_search, probe_shards, rescore_factor)
        w = Window.partitionBy("qid").orderBy("dist", "id")
        return (
            cand.distinct()
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .orderBy("qid", "rank")
        )

    def evaluate_query_recall(
        self,
        query: "np.ndarray | list[float]",
        k: int = 10,
        ef_search: int | None = None,
        probe_shards: int | None = None,
        rescore_factor: int = 4,
    ) -> float:
        """recall@k of a routed configuration vs the exhaustive search
        (S13 for the graph index — the vchordg analogue of
        evaluate_query_recall, sql/install/vchord--1.1.1.sql:1021-1092;
        the exhaustive baseline routes to every shard with an unbounded
        beam). Returns NaN when the exhaustive result is empty."""
        ann = self.search(
            query,
            k=k,
            ef_search=ef_search,
            probe_shards=probe_shards,
            rescore_factor=rescore_factor,
        )
        accu = self.search(query, k=k, ef_search=1 << 20, probe_shards=None)
        ann_ids = {r.id for r in ann.collect()}
        accu_ids = {r.id for r in accu.collect()}
        if not accu_ids:
            return float("nan")
        return len(ann_ids & accu_ids) / float(len(accu_ids))

    def prewarm(self) -> int:
        """Warm the serve path (S11/S12 vchordg_prewarm) and return the
        total graph row count: one task per shard reads its directory's
        serve columns through the SAME per-shard reader the search uses,
        pulling the shard bytes into the executors' page cache (the
        zero-exchange serve no longer scans through Spark's block
        cache, so a whole-table ``.cache()`` would warm nothing it
        reads)."""

        def count_body(grp: pd.DataFrame, shard: int) -> pd.DataFrame:
            return pd.DataFrame({"n": [len(grp)]})

        shards = list(range(int(self.meta["n_shards"])))
        rows = self._shard_candidates(shards, count_body, "n long").collect()
        return int(sum(r.n for r in rows))
