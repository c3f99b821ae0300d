"""IVF (vchordrq-style) vector index as Parquet tables + DataFrame jobs.

Spark-first re-expression of the reference's index lifecycle:

- build = sample job → driver k-means over the bounded sample → broadcast
  rotated centroid tree → one ``mapInArrow`` encode pass writing a Parquet
  ``codes`` table range-bucketed and sorted by leaf cluster (replaces
  tapes/pages: /root/reference/crates/vchordrq/src/build.rs:24-146); the
  single Spark write job IS the reference's parallel build
  (am_build.rs:611-789).
- search = driver tree descent over the (small, broadcast) centroid tree →
  ONE read of the probed clusters' codes and rerank payload → per Arrow
  batch, rough scoring with ε lower bounds (search.rs:95-196) and the
  lazy rerank applied to the batch's rows (rerank.rs:53-137: rerank by
  lower bound until no bound can beat the k-th exact distance) →
  ``ORDER BY dist LIMIT k`` over the batches' survivors
  (TakeOrderedAndProject). The plain query's tasks are a ``spark.range``
  seed: each takes a slice of the probed cells from its Python worker's
  cell cache, or reads them once with pyarrow (the reference answers
  from buffer pages it has already pinned). A ``prefilter`` or a
  caller's base table (rerank-in-table, joined to the scan by id) keeps
  a partition-pruned Spark scan of the codes table feeding the same
  kernel.
- insert = encode+append (insert.rs:70-212); delete = tombstones
  (bulkdelete.rs:24-183); compact = partition rewrite (maintain.rs:38-260).

Scale notes (the design point is a 1000-executor cluster, not local[32]):
the centroid tree is ≤ a few hundred MB even at 1M leaves → broadcast;
``codes`` is cluster-range-bucketed and sorted, so the probes'
``cluster_id IN`` filter (pushed to pyarrow or to Spark's Parquet scan)
prunes at Parquet row-group granularity (a directory per cluster would
mean 1M directories at 1M leaves); the read takes the code columns and
the storage's rerank payload once, a cell stays in the worker's
byte-budgeted cache (shared with graph shards) until its files change
or it is evicted, and each batch emits at most its local top-k per
query (top-m under a ``rerank_factor·k``/``max_scan_tuples`` cap), so
the only data movement after the read is the final top-k merge, which
TakeOrderedAndProject does with per-partition heaps (a per-``qid``
window for ``search_batch``).
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectorchord_spark import kernels as K
from vectorchord_spark.operators import graph as G
from vectorchord_spark.operators import kmeans as KM
from vectorchord_spark.operators.sampling import bounded_sample_vectors, source_vectors
from vectorchord_spark.operators.store import StoredIndex, files_fingerprint, write_meta

#: ``vec`` is the f32 rerank payload PACKED AS BINARY (little-endian f32,
#: like the f16/quantized payloads): Spark's parquet LIST<FLOAT> writer
#: emits per-element definition/repetition levels and measured only
#: 0.1-0.3 GB/s, the single largest term of the 768d encode stage
#: (encode stage split at 250k rows, best of 5: parquet 3.98s vs
#: feed+compute 1.63s + shuffle 0.42s; docs/SCALE.md); the binary blob writes ~3x faster
#: and decodes to numpy with one frombuffer per batch at rerank time.
CODES_SCHEMA = (
    "id long, cluster_id int, dis_u_2 float, factor_cnt float, factor_ip float, "
    "factor_err float, delta float, code binary, vec binary, "
    "vec_f16 binary, sq_dis_u_2 float, sq_nol float, sq_code binary"
)

#: Parquet row-group target for the codes table — the probed scan's
#: pruning granularity (see _write_codes).
_CODES_BLOCK_BYTES = 8 << 20

#: the codes columns the scan kernel reads for rough scoring, and the
#: columns of each storage's rerank payload, read after them
_SCAN_COLS = (
    "id", "cluster_id", "dis_u_2", "factor_cnt", "factor_ip", "factor_err", "delta", "code"
)
_PAYLOAD_COLS = {
    "f32": ("vec",),
    "f16": ("vec_f16",),
    "rabitq8": ("sq_dis_u_2", "sq_nol", "sq_code"),
    "rabitq4": ("sq_dis_u_2", "sq_nol", "sq_code"),
}


#: rows per Arrow batch that the cell reader hands the scan kernel: the
#: batch size of the Spark scan (``spark.sql.execution.arrow.
#: maxRecordsPerBatch`` in ``session.get_spark``), which bounds the
#: kernel's per-batch arrays (unpacked bits, sums) the same way
_KERNEL_BATCH_ROWS = 10_000


@dataclass(frozen=True)
class _Cell:
    """One IVF cell's codes rows as the scan kernel reads them. ``batch``
    is a compact copy with its own buffers, not a slice that pins the
    whole read, so ``nbytes`` is what the cell costs the worker cache."""

    batch: "pa.RecordBatch"
    nbytes: int


def _one_batch(table: "pa.Table") -> "pa.RecordBatch":
    """A table's rows as one record batch (a copy where it has several
    chunks), without schema metadata, so batches of the same columns
    concatenate whatever file they were read from."""
    return pa.RecordBatch.from_arrays(
        [col.combine_chunks() for col in table.columns],
        schema=table.schema.remove_metadata(),
    )


def _read_cells(codes_dir: str, names: list, cells, columns: tuple) -> "pa.RecordBatch":
    """The ``columns`` of the codes rows of ``cells`` as one Arrow batch,
    cell by cell in the order given, from the files ``names`` of
    ``codes_dir``. Each cell comes from this Python worker's cache
    (:class:`graph._ShardCache`, keyed on the files' identity, the cell
    and the columns); the cells it lacks are read with ONE pyarrow read
    of those files, filtered to them by ``cluster_id in`` (pruned at
    row-group granularity by the Parquet statistics), and kept. A file
    of ``names`` that is gone raises ``FileNotFoundError``, also when
    every cell is cached. Module-level on purpose: Spark pickles the
    reader closure by value, and only a function it pickles by reference
    reaches the worker's own (persistent) cache."""
    import pyarrow.parquet as pq

    cache = G._SHARD_CACHE
    files = files_fingerprint(codes_dir, names)
    keys = [("ivf", files, int(c), columns) for c in cells]
    got = [cache.get(key) for key in keys]
    miss = [int(c) for c, hit in zip(cells, got) if hit is None]
    if miss:
        read = _one_batch(
            pq.read_table(
                [os.path.join(codes_dir, n) for n in names],
                columns=list(columns),
                filters=[("cluster_id", "in", miss)],
            )
        )
        cids = np.asarray(read.column("cluster_id"), np.int64)
        order = np.argsort(cids, kind="stable")
        lo = np.searchsorted(cids[order], miss, "left")
        hi = np.searchsorted(cids[order], miss, "right")
        fresh = {}
        for c, a, b in zip(miss, lo, hi):
            batch = read.take(pa.array(order[a:b]))
            fresh[c] = _Cell(batch, batch.get_total_buffer_size())
        for i, c in enumerate(cells):
            if got[i] is None:
                got[i] = fresh[int(c)]
                cache.put(keys[i], got[i])
    return _one_batch(pa.Table.from_batches([cell.batch for cell in got]))


def _make_cell_reader(codes_dir: str, names: list, slices: list, columns: tuple, tomb, body):
    """mapInArrow kernel over a ``spark.range(len(slices))`` seed, one
    row per partition: seed row ``i`` stands for the cells ``slices[i]``,
    which the task gets as one Arrow batch through the Python worker's
    cell cache (:func:`_read_cells`): a warm worker reads no Parquet.
    Rows whose id is in ``tomb`` (a sorted id array, or None) are
    dropped, then ``body`` — an ``Iterator[RecordBatch] →
    Iterator[RecordBatch]`` kernel, the scan kernel of
    ``IvfIndex._scan`` or ``prewarm``'s count — runs over the batch, in
    slices of at most ``_KERNEL_BATCH_ROWS`` rows."""

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for b in batches:
            for i in b.column(0).to_pylist():
                rb = _read_cells(codes_dir, names, slices[i], columns)
                if tomb is not None:
                    ids = np.asarray(rb.column("id"), np.int64)
                    rb = rb.filter(pa.array(~np.isin(ids, tomb)))
                step = _KERNEL_BATCH_ROWS
                yield from body(rb.slice(o, step) for o in range(0, rb.num_rows, step))

    return run


def _binary_u8_matrix(rb, col_name: str) -> "np.ndarray":
    """(n, row_bytes) uint8 matrix from an Arrow record batch's binary
    column of fixed-width rows (the CODES_SCHEMA code and payload
    layouts). Zero-copy: the variable-width binary array's data buffer is
    one contiguous run between its first and last offsets."""
    col = rb.column(rb.schema.get_field_index(col_name))
    if col.null_count:  # defensive: codes and payloads are written non-null
        raise ValueError(f"NULL {col_name} payload in codes batch")
    off = np.frombuffer(
        col.buffers()[1], np.int32, len(col) + 1, offset=col.offset * 4
    )
    data = np.frombuffer(col.buffers()[2], np.uint8)
    return data[off[0] : off[-1]].reshape(len(col), -1)


def _sq_code_matrix(rb, sq_bits: int, dim: int) -> "np.ndarray":
    """(n, dim) uint8 lattice codes from the packed sq_code column (8-bit:
    one byte per element; 4-bit: two elements per byte, low nibble first)."""
    raw = _binary_u8_matrix(rb, "sq_code")
    if sq_bits == 8:
        return raw[:, :dim]
    out = np.empty((raw.shape[0], raw.shape[1] * 2), np.uint8)
    out[:, 0::2] = raw & 0x0F
    out[:, 1::2] = raw >> 4
    return out[:, :dim]


def _arrow_np(rb, name: str, dtype) -> "np.ndarray":
    return np.asarray(rb.column(rb.schema.get_field_index(name)), dtype=dtype)


def _internal_dist(d, metric: str):
    """An output-space distance mapped to the internal lb space
    (squared-l2 / negated-dot)."""
    if metric == "l2":
        return d * d
    if metric == "cos":
        return d - 1.0
    return d


def _local_select(
    ids: np.ndarray,
    lb: np.ndarray,
    rough: np.ndarray,
    exact,
    metric: str,
    k: int,
    m: int | None = None,
    guarantee: bool = False,
    refine: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """One query's selection over one Arrow batch of the scan kernel.

    ``ids``/``lb``/``rough`` describe the batch's rows scored for the
    query; ``exact(rows)`` returns the output-space distances of rows
    ``rows`` (indices into them). Returns ``(rows, dist)``: the rows the
    final merge can need and the exact distances of the first
    ``len(dist)`` of them. Every rule keeps a superset of the batch's
    share of the rule applied to all probed rows at once, so merging the
    batches gives that global answer:

    - ``refine`` set (the maxsim pool): the top-k by (rough, id), exact
      for the first ``refine``; the global top-``refine`` is a subset of
      the union of the batches' top-``refine``.
    - ``m`` None: the exact top-k by (dist, id).
    - ``m`` set, no ``guarantee``: the top-m by (lb, id), all exact; the
      merge cuts the global top-m by (lb, id), then the top-k by
      (dist, id).
    - ``m`` set with ``guarantee``: pass 1 reranks the top-m by (lb, id);
      every row whose lb is ≤ the k-th pass-1 distance (in the internal
      space; +inf below k rows) is reranked too, and the exact top-k by
      (dist, id) is kept. Wherever the RaBitQ bound holds (lb ≤ the exact
      internal distance) that is the batch's exact top-k, and the global
      exact top-k is a subset of the union of the batches' top-k.

    Comparisons follow Spark's: NaN sorts last and equals NaN, so a NaN
    threshold admits every row."""
    if refine is not None:
        rows = np.lexsort((ids, rough))[:k]
        return rows, (exact(rows[:refine]) if refine else np.empty(0))
    rows = np.arange(len(ids)) if m is None else np.lexsort((ids, lb))[:m]
    dist = exact(rows)
    if m is not None and not guarantee:
        return rows, dist
    if m is not None:
        top = np.lexsort((ids[rows], dist))
        t = _internal_dist(dist[top[k - 1]], metric) if 0 < k <= len(top) else np.inf
        sweep = np.ones(len(ids), bool) if np.isnan(t) else lb <= t
        sweep[rows] = False
        extra = np.flatnonzero(sweep)
        rows = np.concatenate([rows, extra])
        dist = np.concatenate([dist, exact(extra)])
    top = np.lexsort((ids[rows], dist))[:k]
    return rows[top], dist[top]


#: hard per-cell sample bound for the distributed leaf k-means stage —
#: caps ONE applyInPandas task's input even when coarse-cell skew
#: concentrates most Sainte-Laguë seats into a single cell (200k rows at
#: 768d f32 ≈ 600 MB; with sampling_factor 64 this supports ~3k seats
#: per cell at full sample quality)
_CELL_SAMPLE_CAP = 200_000


def _distributed_leaf_kmeans(
    src: DataFrame, n_leaves: int, opts: "IvfOptions"
) -> np.ndarray:
    """Leaf centroids as a Spark job (the ``distributed_kmeans`` build
    path): the cluster-scale analogue of the two-stage hierarchical build
    (crates/k_means/src/hierarchical.rs:109-199).

    Stage 1 (driver): coarse √c k-means over a √c·256 bounded sample —
    tiny even at lists=1M (√1M·256 = 256k vectors).
    Stage 2 (cluster): every row is assigned to its coarse cell and
    per-cell leaf counts are Sainte-Laguë-allocated from the TRUE cell
    sizes (the driver path only sees sample-estimated sizes); each cell
    then down-samples to seats·sampling_factor rows via a seeded rand
    filter and runs Lloyd inside ONE applyInPandas task. The driver never
    materializes a vector sample larger than the coarse stage's; it
    collects only the final c×dim centroid matrix (which it must hold
    anyway to broadcast the descent tree).
    """
    from vectorchord_spark.session import ensure_worker_imports

    spark = src.sparkSession
    ensure_worker_imports(spark)  # KM runs inside executor closures below
    coarse_k = max(1, int(np.sqrt(n_leaves)))
    sub_pd = bounded_sample_vectors(src, coarse_k * 256, opts.seed)
    if not len(sub_pd):
        if opts.dim:
            return np.zeros((n_leaves, int(opts.dim)), np.float32)
        raise ValueError(
            "cannot infer vector dimension from an empty (or all-NULL) "
            "input; pass IvfOptions(dim=...)"
        )
    sub = np.stack(sub_pd["vec"].to_numpy()).astype(np.float32)
    coarse = KM.lloyd(
        sub, coarse_k, opts.kmeans_iterations, opts.seed, opts.spherical_centroids
    )
    bc = spark.sparkContext.broadcast(coarse.astype(np.float32))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.stack(pdf["vec"].to_numpy()).astype(np.float32)
            labels = KM._assign(vecs, bc.value)
            yield pd.DataFrame(
                {
                    "cell": labels.astype(np.int32),
                    "vec": list(vecs),
                    "_u": pdf["_u"].to_numpy(np.float64),
                }
            )

    assigned = src.select("vec", F.rand(opts.seed + 1).alias("_u")).mapInPandas(
        assign, "cell int, vec array<float>, _u double"
    )

    def assign_cells_only(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # counts pass: same assignment, but only the 4-byte label crosses
        # Arrow (two passes over the data instead of persisting a full
        # vector copy — the scan is the cheap part at scale)
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.stack(pdf["vec"].to_numpy()).astype(np.float32)
            yield pd.DataFrame({"cell": KM._assign(vecs, bc.value).astype(np.int32)})

    counts_pd = (
        src.select("vec")
        .mapInPandas(assign_cells_only, "cell int")
        .groupBy("cell")
        .count()
        .toPandas()
    )
    counts = np.zeros(coarse_k, np.int64)
    counts[counts_pd["cell"].to_numpy(np.int64)] = counts_pd["count"].to_numpy(
        np.int64
    )
    seats = KM.sainte_lague_seats(counts, n_leaves)

    # per-cell bounded sample BEFORE the shuffle: keep fraction =
    # seats·sampling_factor / cell_count, so each applyInPandas group is
    # ≤ ~seats[g]·sampling_factor rows regardless of input size. Under
    # coarse-cell skew one cell can win most of the seats and concentrate
    # ~n_leaves·sampling_factor rows into ONE task — the hard per-cell cap
    # bounds that single-executor memory too (at 768d f32 the cap is
    # ~600 MB of vectors; Lloyd quality holds while seats ≤ cap/factor)
    frac = [
        min(
            1.0,
            min(int(seats[g]) * opts.sampling_factor, _CELL_SAMPLE_CAP)
            / counts[g],
        )
        if counts[g] > 0 and seats[g] > 0
        else 0.0
        for g in range(coarse_k)
    ]
    frac_arr = F.array(*[F.lit(float(x)) for x in frac])
    sampled = assigned.where(
        F.col("_u") < F.element_at(frac_arr, F.col("cell") + 1)
    ).select("cell", "vec")

    seed, iters, spherical = opts.seed, opts.kmeans_iterations, opts.spherical_centroids
    seats_list = [int(s) for s in seats]

    def cell_lloyd(pdf: pd.DataFrame) -> pd.DataFrame:
        g = int(pdf["cell"].iloc[0])
        k_g = seats_list[g]
        vecs = np.stack(pdf["vec"].to_numpy()).astype(np.float32)
        if len(vecs) > _CELL_SAMPLE_CAP:
            # rand-filter overshoot beyond the expectation-level cap:
            # enforce the hard bound on the REALIZED sample too
            import logging

            logging.getLogger(__name__).warning(
                "distributed k-means cell %d sample %d exceeds cap %d; "
                "truncating (quality unaffected while seats*factor <= cap)",
                g,
                len(vecs),
                _CELL_SAMPLE_CAP,
            )
            keep = np.random.default_rng(seed + 7 + g).choice(
                len(vecs), _CELL_SAMPLE_CAP, replace=False
            )
            vecs = vecs[keep]
        cents = KM.lloyd(vecs, k_g, iters, seed + 1 + g, spherical)
        return pd.DataFrame(
            {
                "cell": np.full(k_g, g, np.int32),
                "cid": np.arange(k_g, dtype=np.int32),
                "vec": list(cents),
            }
        )

    parts = sampled.groupBy("cell").applyInPandas(
        cell_lloyd, "cell int, cid int, vec array<float>"
    )
    out_pd = parts.toPandas().sort_values(["cell", "cid"], kind="mergesort")
    leaves = np.stack(out_pd["vec"].to_numpy()).astype(np.float32)
    if len(leaves) < n_leaves:
        # cells whose sampled rows came back empty (tiny inputs): refill
        # deterministically from the coarse sample, mirroring lloyd's
        # empty-cluster refill
        rng = np.random.default_rng(opts.seed)
        pad = sub[rng.integers(0, len(sub), size=n_leaves - len(leaves))]
        leaves = np.concatenate([leaves, pad.astype(np.float32)])
    return leaves[:n_leaves]


@dataclass
class IvfOptions:
    """Build options (mirrors the reference's reloptions,
    /root/reference/src/index/vchordrq/types.rs:40-106)."""

    metric: str = "l2"  # l2 | dot | cos
    lists: list[int] = field(default_factory=lambda: [64])
    sampling_factor: int = 256
    kmeans_iterations: int = 10
    kmeans_dimension: int | None = None
    spherical_centroids: bool = False
    residual_quantization: bool = False
    rerank_in_index: bool = True
    build_hierarchical: bool = False
    #: stored-vector format for rerank: "f32" keeps the full vector (exact
    #: rerank); "f16" stores half-precision-truncated vectors (the halfvec
    #: opclasses — compute still widens to f32, crates/vector/src/vect.rs
    #: with S=f16); "rabitq8"/"rabitq4" store the extended lattice code
    #: instead (4-8x smaller, rerank against the dequantized estimate — the
    #: reference's quantized-column index mode, <1% recall loss at 8 bits
    #: per /root/reference/README.md:45)
    storage: str = "f32"
    #: run the leaf k-means as a Spark job (coarse stage on a small driver
    #: sample, then one Lloyd task per coarse cell) instead of collecting
    #: the full lists[-1]·sampling_factor sample to the driver. The escape
    #: hatch for lists ≥ ~50k, where the driver sample alone is >25M
    #: vectors (the reference shares the driver-bound design,
    #: am_build.rs:1292-1311 — this is the 100x path beyond it).
    #: None = auto: enabled exactly when lists[-1] ≥ 50_000, so a default
    #: build at the 100M-row design point never hits the driver ceiling;
    #: True/False force the path either way.
    distributed_kmeans: bool | None = None
    #: declared vector dimension (the reference's `vector(d)` typmod).
    #: Optional — normally inferred from the data; required only to build
    #: over an empty or all-NULL column (issue_427 contract: such a build
    #: must succeed and produce an empty-but-searchable index)
    dim: int | None = None
    seed: int = 42

    def validate(self) -> None:
        assert self.metric in ("l2", "dot", "cos")
        assert self.storage in ("f32", "f16", "rabitq8", "rabitq4")
        assert 1 <= len(self.lists) <= 8
        assert all(a < b for a, b in zip(self.lists, self.lists[1:])), (
            "lists must be ascending"
        )
        if self.storage != "f32":
            assert not self.residual_quantization, (
                "residual quantization is unsupported for quantized storage "
                "types (matches the reference: am_build.rs:221-227)"
            )


class IvfIndex(StoredIndex):
    def __init__(self, spark: SparkSession, path: str):
        super().__init__(spark, path)
        self._parallelism = int(spark.sparkContext.defaultParallelism)
        cdf = pd.read_parquet(os.path.join(path, "centroids.parquet"))
        self.levels: list[dict] = []
        for lvl in sorted(cdf["level"].unique()):
            sub = cdf[cdf["level"] == lvl].sort_values("cid")
            self.levels.append(
                {
                    "vec": np.stack(sub["vec"].to_numpy()).astype(np.float32),
                    "vec_rot": np.stack(sub["vec_rot"].to_numpy()).astype(np.float32),
                    "parent": sub["parent"].to_numpy(np.int64),
                }
            )

    # ------------------------------------------------------------------
    # Build
    # ------------------------------------------------------------------

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        df: DataFrame,
        id_col: str,
        vec_col: str,
        path: str,
        options: IvfOptions | None = None,
    ) -> "IvfIndex":
        opts = options or IvfOptions()
        opts.validate()
        os.makedirs(path, exist_ok=True)

        src = source_vectors(df, id_col, vec_col, opts.metric)

        n_leaves = opts.lists[-1]
        use_distkm = (
            opts.distributed_kmeans
            if opts.distributed_kmeans is not None
            else n_leaves >= 50_000
        )
        if use_distkm:
            leaves = _distributed_leaf_kmeans(src, n_leaves, opts)
            dim = int(leaves.shape[1])
            return cls._finish_build(spark, src, path, opts, leaves, dim)
        # sample capped at lists[-1]·sampling_factor rows, which must fit
        # the driver anyway for the k-means step (see operators/sampling.py
        # for the single-pass bounded-sample design)
        cap = n_leaves * opts.sampling_factor
        sample_pd = bounded_sample_vectors(src, cap, opts.seed)
        if len(sample_pd):
            samples = np.stack(sample_pd["vec"].to_numpy()).astype(np.float32)
            dim = samples.shape[1]
        elif opts.dim:
            # empty/all-NULL input: zero-sample k-means yields placeholder
            # centroids; the index is empty but searchable (issue_427)
            samples = np.zeros((0, int(opts.dim)), np.float32)
            dim = int(opts.dim)
        else:
            raise ValueError(
                "cannot infer vector dimension from an empty (or all-NULL) "
                "input; pass IvfOptions(dim=...)"
            )

        # --- centroid tree (driver; sample is bounded by construction) ---
        if opts.kmeans_dimension and opts.kmeans_dimension < dim:
            leaves = KM.reduced_dimension_kmeans(
                samples,
                n_leaves,
                opts.kmeans_dimension,
                opts.kmeans_iterations,
                opts.seed,
                opts.spherical_centroids,
                use_hierarchical=opts.build_hierarchical,
            )
        elif opts.build_hierarchical:
            leaves = KM.hierarchical(
                samples, n_leaves, opts.kmeans_iterations, opts.seed, opts.spherical_centroids
            )
        else:
            leaves = KM.lloyd(
                samples, n_leaves, opts.kmeans_iterations, opts.seed, opts.spherical_centroids
            )
        return cls._finish_build(spark, src, path, opts, leaves, dim)

    @classmethod
    def _finish_build(
        cls,
        spark: SparkSession,
        src: DataFrame,
        path: str,
        opts: "IvfOptions",
        leaves: np.ndarray,
        dim: int,
    ) -> "IvfIndex":
        """Upper tree levels + centroid/meta persistence + encode job —
        shared by the driver-sample and distributed leaf k-means paths."""
        n_leaves = opts.lists[-1]
        level_vecs = [leaves]
        for c in reversed(opts.lists[:-1]):
            level_vecs.append(
                KM.lloyd(
                    level_vecs[-1],
                    c,
                    opts.kmeans_iterations,
                    opts.seed,
                    opts.spherical_centroids,
                )
            )
        level_vecs.reverse()  # top → leaves

        rows = []
        for lvl, vecs in enumerate(level_vecs):
            rot = K.rotate(vecs)
            if lvl == 0:
                parents = np.full(len(vecs), -1, np.int64)
            else:
                parents = KM._assign(
                    np.asarray(vecs, np.float64), np.asarray(level_vecs[lvl - 1], np.float64)
                )
            for cid in range(len(vecs)):
                rows.append(
                    {
                        "level": lvl,
                        "cid": cid,
                        "parent": int(parents[cid]),
                        "vec": vecs[cid].astype(np.float32),
                        "vec_rot": rot[cid].astype(np.float32),
                    }
                )
        pd.DataFrame(rows).to_parquet(os.path.join(path, "centroids.parquet"))

        meta = {
            **asdict(opts),
            "dim": int(dim),
            "codes_version": 1,
            "n_leaves": int(n_leaves),
        }
        write_meta(path, meta)

        index = cls(spark, path)
        index._encode_and_write(src, mode="overwrite")
        return index

    #: sub-index width for multi-vector payloads (u16, matching the
    #: reference's packed payload: src/index/vchordrq/opclass.rs:70-141)
    TOKEN_BITS = 16

    @classmethod
    def build_multivector(
        cls,
        spark: SparkSession,
        df: DataFrame,
        doc_col: str,
        vecs_col: str,
        path: str,
        options: IvfOptions | None = None,
    ) -> "IvfIndex":
        """First-class multi-vector column indexing: index an
        ``array<array<float>>`` column directly. Each token vector gets a
        u16 sub-index packed into the row id (``doc_id·2^16 + token_id``,
        the reference's payload scheme for ``vector(d)[]`` opclasses,
        /root/reference/src/index/vchordrq/opclass.rs:70-141), so
        ``maxsim_search`` can recover the document id with a shift — no
        caller-supplied mapping needed."""
        shift = F.lit(1 << cls.TOKEN_BITS)
        ex = (
            df.select(
                F.col(doc_col).cast("long").alias("_doc"),
                F.posexplode(F.col(vecs_col)).alias("_tok", "vec"),
            )
            .select(
                F.when(
                    F.col("_tok") < shift,
                    F.col("_doc") * shift + F.col("_tok"),
                )
                .otherwise(
                    F.raise_error(
                        F.lit("multivector document exceeds 65535 tokens")
                    )
                )
                .cast("long")
                .alias("id"),
                "vec",
            )
        )
        index = cls.build(spark, ex, "id", "vec", path, options)
        index.meta["multivector"] = True
        write_meta(path, index.meta)
        return index

    @classmethod
    def from_centroid_table(
        cls,
        spark: SparkSession,
        df: DataFrame,
        centroids: DataFrame,
        id_col: str,
        vec_col: str,
        path: str,
        options: IvfOptions | None = None,
    ) -> "IvfIndex":
        """External build (B7): take a prebuilt centroid tree from a table
        ``(id, parent, vector)`` with the reference's validation — single
        root, uniform height ≤ 8, acyclic
        (/root/reference/src/index/vchordrq/am/am_build.rs:1589-1752)."""
        opts = options or IvfOptions()
        cpd = centroids.select(
            F.col("id").cast("long"), F.col("parent").cast("long"), F.col("vector")
        ).toPandas()
        by_id = {int(r.id): (None if pd.isna(r.parent) else int(r.parent), np.asarray(r.vector, np.float32)) for r in cpd.itertuples()}
        roots = [i for i, (p, _) in by_id.items() if p is None]
        if len(roots) != 1:
            raise ValueError(f"external build requires exactly one root, got {len(roots)}")

        depths = {}

        def depth(i: int, seen: tuple = ()) -> int:
            if i in seen:
                raise ValueError("cycle detected in external centroid table")
            if i in depths:
                return depths[i]
            p = by_id[i][0]
            d = 0 if p is None else depth(p, seen + (i,)) + 1
            depths[i] = d
            return d

        for i in by_id:
            depth(i)
        height = max(depths.values()) + 1
        if not (1 <= height <= 8):
            raise ValueError(f"external tree height {height} out of range 1..8")
        # all leaf nodes (no children) must be at uniform depth
        childful = {p for p, _ in by_id.values() if p is not None}
        for i in by_id:
            if i not in childful and depths[i] != height - 1:
                raise ValueError("external tree is not height-balanced")

        os.makedirs(path, exist_ok=True)
        # renumber per level
        per_level: list[list[int]] = [[] for _ in range(height)]
        for i, d in depths.items():
            per_level[d].append(i)
        id_to_cid = {}
        rows = []
        for lvl, ids in enumerate(per_level):
            ids.sort()
            for cid, i in enumerate(ids):
                id_to_cid[i] = cid
        for lvl, ids in enumerate(per_level):
            vecs = np.stack([by_id[i][1] for i in ids])
            rot = K.rotate(vecs)
            for cid, i in enumerate(ids):
                p = by_id[i][0]
                rows.append(
                    {
                        "level": lvl,
                        "cid": cid,
                        "parent": -1 if p is None else id_to_cid[p],
                        "vec": vecs[cid].astype(np.float32),
                        "vec_rot": rot[cid].astype(np.float32),
                    }
                )
        pd.DataFrame(rows).to_parquet(os.path.join(path, "centroids.parquet"))
        dim = len(next(iter(by_id.values()))[1])
        meta = {
            **asdict(opts),
            "lists": [len(x) for x in per_level],
            "dim": int(dim),
            "codes_version": 1,
            "n_leaves": len(per_level[-1]),
        }
        write_meta(path, meta)
        index = cls(spark, path)
        src = source_vectors(df, id_col, vec_col, opts.metric)
        index._encode_and_write(src, mode="overwrite")
        return index

    # ------------------------------------------------------------------

    @property
    def codes_path(self) -> str:
        return os.path.join(self.path, f"codes_v{self.meta['codes_version']}")

    def _encode_and_write(self, src: DataFrame, mode: str) -> None:
        meta = self.meta
        leaf_rot = self.levels[-1]["vec_rot"]
        metric = meta["metric"]
        residual = meta["residual_quantization"]
        storage = meta["storage"]
        keep_vec = meta["rerank_in_index"] and storage == "f32"
        # true halfvec storage: 2-byte little-endian f16 packed binary — the
        # rerank payload is half the f32 bytes (reference halfvec semantics,
        # crates/vector/src/vect.rs:22 with S=f16; compute widens to f32)
        keep_f16 = meta["rerank_in_index"] and storage == "f16"
        sq_bits = {"rabitq8": 8, "rabitq4": 4}.get(storage)
        dim = int(meta["dim"])
        bc = self.spark.sparkContext.broadcast(leaf_rot)

        # Arrow-native encode (mapInArrow): the input list<float> column is
        # flattened zero-copy into one contiguous (n, d) matrix and outputs
        # are built as whole Arrow buffers — no per-row Python objects in
        # either direction (the pandas round-trip costs ~30% of encode wall
        # time at 1M rows).
        import pyarrow as pa

        def _fixed_binary(buf: bytes, nbytes: int, n: int) -> "pa.Array":
            return pa.FixedSizeBinaryArray.from_buffers(
                pa.binary(nbytes), n, [None, pa.py_buffer(buf)]
            ).cast(pa.binary())

        def encode(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
            centroids = bc.value  # (L, d) f32, rotated space
            # routing assignment in f32 (BLAS sgemm): at 1M rows x 1k cells
            # the f64 distance matrix is memory-bound and dominates build
            # time; f32 is ample for argmin routing
            c2 = np.einsum("ij,ij->i", centroids, centroids).astype(np.float32)
            for rb in batches:
                n = rb.num_rows
                if not n:
                    continue
                ids = rb.column(rb.schema.get_field_index("id"))
                if ids.type != pa.int64():
                    ids = ids.cast(pa.int64())
                flat = rb.column(rb.schema.get_field_index("vec")).flatten()
                if flat.type != pa.float32():
                    flat = flat.cast(pa.float32())
                mat = np.asarray(flat).reshape(n, dim)
                rot = K.rotate(mat)
                # argmin distance == argmax score; computing the score
                # in-place halves the memory traffic of the (n, L) routing
                # matrix (it dominates encode time at large L)
                s = rot @ centroids.T
                if metric == "l2" or metric == "cos":
                    s -= 0.5 * c2[None, :]
                assign = np.argmax(s, axis=1)
                if residual:
                    target = rot - centroids[assign]
                else:
                    target = rot
                cm = K.bit_code(target)
                if residual:
                    delta = np.empty(n, np.float32)
                    for cid in np.unique(assign):
                        m = assign == cid
                        sub = {k: v[m] for k, v in cm.items()}
                        if metric == "l2":
                            delta[m] = K.residual_delta_l2(
                                cm["signs"][m], sub, centroids[cid]
                            )
                        else:
                            delta[m] = K.residual_delta_dot(
                                cm["signs"][m], sub, target[m], centroids[cid]
                            )
                else:
                    delta = np.zeros(n, np.float32)
                packed = np.packbits(cm["signs"], axis=1, bitorder="little")
                code_arr = _fixed_binary(packed.tobytes(), packed.shape[1], n)
                if keep_vec:
                    vec_arr = _fixed_binary(
                        np.ascontiguousarray(mat, dtype="<f4").tobytes(),
                        4 * dim,
                        n,
                    )
                else:
                    vec_arr = pa.nulls(n, pa.binary())
                if keep_f16:
                    f16_arr = _fixed_binary(
                        np.ascontiguousarray(mat.astype("<f2")).tobytes(), 2 * dim, n
                    )
                else:
                    f16_arr = pa.nulls(n, pa.binary())
                if sq_bits is not None:
                    ext = K.extended_code(rot, sq_bits)
                    if sq_bits == 8:
                        sq_buf = np.ascontiguousarray(ext["code"], np.uint8)
                    else:
                        codes = np.atleast_2d(ext["code"]).astype(np.uint8)
                        if codes.shape[1] % 2:
                            codes = np.concatenate(
                                [codes, np.zeros((n, 1), np.uint8)], axis=1
                            )
                        sq_buf = codes[:, 0::2] | (codes[:, 1::2] << 4)
                    sq_code = _fixed_binary(
                        np.ascontiguousarray(sq_buf).tobytes(), sq_buf.shape[1], n
                    )
                    sq_du2 = pa.array(ext["dis_u_2"])
                    sq_nol = pa.array(ext["norm_of_lattice"])
                else:
                    sq_code = pa.nulls(n, pa.binary())
                    sq_du2 = pa.nulls(n, pa.float32())
                    sq_nol = pa.nulls(n, pa.float32())
                yield pa.record_batch(
                    [
                        ids,
                        pa.array(assign.astype(np.int32)),
                        pa.array(cm["dis_u_2"]),
                        pa.array(cm["factor_cnt"]),
                        pa.array(cm["factor_ip"]),
                        pa.array(cm["factor_err"]),
                        pa.array(delta),
                        code_arr,
                        vec_arr,
                        f16_arr,
                        sq_du2,
                        sq_nol,
                        sq_code,
                    ],
                    names=[
                        "id",
                        "cluster_id",
                        "dis_u_2",
                        "factor_cnt",
                        "factor_ip",
                        "factor_err",
                        "delta",
                        "code",
                        "vec",
                        "vec_f16",
                        "sq_dis_u_2",
                        "sq_nol",
                        "sq_code",
                    ],
                )

        encoded = src.mapInArrow(encode, schema=CODES_SCHEMA)
        self._write_codes(encoded, mode)

    def _write_codes(self, encoded: DataFrame, mode: str) -> None:
        """Posting layout (B10): cluster-RANGE-bucketed, cluster-sorted flat
        Parquet.

        Rows are bucketed by cluster range (bucket = cluster_id·n_out div
        n_leaves — deterministic, no sampling pass) and sorted by
        (cluster_id, id) inside each file, so a probed search prunes via
        Parquet row-group min-max stats on the pushed ``cluster_id IN
        (...)`` filter. Note the bucket→file assignment is HASH
        distribution of the bucket value: distinct buckets can collide into
        one output partition, so a file's cluster ranges may be disjoint
        and FILE-level stats pruning degrades to ROW-GROUP granularity for
        collided files (each bucket is still a contiguous sorted run
        within the file). repartitionByRange would guarantee file-level
        contiguity but its range-boundary sampling job re-executes the
        encode stage — a ~2x build cost for a second-order pruning win, so
        hash bucketing is the deliberate choice. This replaces
        hive-style ``partitionBy(cluster_id)``: same pruning, but the write
        is one shuffle + n_out files instead of a dynamic-partition sort +
        n_leaves directories — at 1M leaves a directory per cluster is a
        metastore/small-files disaster, and locally it was 7x the write
        cost. The reference's frozen tapes per leaf
        (crates/vchordrq/src/build.rs:72-116) are this same
        contiguous-run-per-cluster idea."""
        n_leaves = int(self.meta["n_leaves"])
        try:
            # the conf is 'auto' under AQE-managed deployments — fall back
            # to the cluster's default parallelism instead of failing the
            # build
            n_out = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        except ValueError:
            n_out = int(self.spark.sparkContext.defaultParallelism)
        n_out = max(1, min(n_out, n_leaves))

        (
            # bigint arithmetic: cluster_id is int32 and cluster_id * n_out
            # overflows at ~1M leaves x 4k shuffle partitions (ANSI mode
            # would fail the build; non-ANSI would silently scatter ranges)
            encoded.repartition(
                n_out,
                F.expr(f"cast(cluster_id as bigint) * {n_out} div {n_leaves}"),
            )
            # Tungsten in-partition sort: the earlier mapInArrow regroup
            # did the same (cluster_id, id) ordering in pyarrow but paid a
            # full JVM->Python->JVM Arrow round-trip of every byte of the
            # codes table (vectors included) — at 768d that copy dominated
            # the encode stage
            .sortWithinPartitions("cluster_id", "id")
            .write.mode(mode)
            # default codec (snappy) kept deliberately: an uncompressed
            # A/B at 1M x 768d on tmpfs measured encode 34.5s vs 25.5s —
            # snappy's CPU is cheaper than the extra bytes even on a
            # 2+ GB/s destination, and cheaper still on real disks
            #
            # row-group size: the pruning granularity of the probed scan.
            # With the parquet default (128 MB) a 10M x 64d build packs
            # each 44 MB output file into ONE row group, so the pushed
            # ``cluster_id IN`` min-max pruning cannot skip anything and
            # a 64-probe search read ~the whole 2.8 GB codes table
            # (measured r09: 3.5-16s/query). 8 MB row groups restore
            # cluster-run-granularity pruning (a probed cluster touches
            # ~1 row group) at negligible full-scan/footer cost; indexes
            # smaller than one block are unaffected.
            .option("parquet.block.size", _CODES_BLOCK_BYTES)
            .parquet(self.codes_path)
        )

    # ------------------------------------------------------------------
    # Search
    # ------------------------------------------------------------------

    def _level_bits(self, lvl: int) -> dict:
        """1-bit RaBitQ codes of a centroid level, computed once per index
        object (the analogue of the reference's H1 tapes of packed child
        codes, crates/vchordrq/src/tuples.rs:783)."""
        cache = getattr(self, "_level_bits_cache", None)
        if cache is None:
            cache = self._level_bits_cache = {}
        if lvl not in cache:
            cm = K.bit_code(self.levels[lvl]["vec_rot"])
            cache[lvl] = {"signs": cm["signs"].astype(np.int64), "meta": cm}
        return cache[lvl]

    def _lazy_select(
        self,
        lvl: int,
        cand: np.ndarray,
        q_rot: np.ndarray,
        n_keep: int,
        epsilon: float = 1.9,
    ) -> np.ndarray:
        """Lazy candidate selection for one descent level (re-expressed from
        /root/reference/crates/vchordrq/src/search.rs:95-157): score the
        candidates with the RaBitQ estimate + error bound, then exact-score
        them in ascending lower-bound order, stopping once the n_keep-th
        best exact distance can no longer be beaten by any remaining lower
        bound — deep trees touch exact centroid vectors only for the
        candidates that matter."""
        import heapq

        metric = self.meta["metric"]
        # mirror _descend's exact scoring space per metric: l2 AND cos use
        # squared-l2 over the (for cos: normalized-at-store) rotated
        # vectors — centroid norms vary, so dot-ordering would NOT be
        # selection-equivalent for cos; only pure dot indexes descend in
        # dot space
        internal = "dot" if metric == "dot" else "l2"
        lb_data = self._level_bits(lvl)
        lut = K.binary_lut(q_rot)
        sums = lb_data["signs"][cand] @ lut["qvector"].astype(np.int64)
        sub = {
            k: lb_data["meta"][k][cand]
            for k in ("dis_u_2", "factor_cnt", "factor_ip", "factor_err")
        }
        if internal == "l2":
            rough, err = K.rough_l2(sums, sub, lut)
        else:
            rough, err = K.rough_dot(sums, sub, lut)
        lb = rough - epsilon * err
        order = np.argsort(lb, kind="stable")
        vecs = self.levels[lvl]["vec_rot"].astype(np.float64)
        q64 = q_rot.astype(np.float64)
        heap: list[float] = []  # max-heap (negated) of the n_keep best exact
        selected: list[tuple[float, int]] = []
        for oi in order:
            ci = int(cand[oi])
            if len(heap) >= n_keep and -heap[0] <= lb[oi]:
                break
            if internal == "l2":
                d = float(((vecs[ci] - q64) ** 2).sum())
            else:
                d = float(-(vecs[ci] @ q64))
            selected.append((d, ci))
            if len(heap) < n_keep:
                heapq.heappush(heap, -d)
            else:
                heapq.heappushpop(heap, -d)
        selected.sort()
        return np.array([ci for _, ci in selected[:n_keep]], np.int64)

    def _descend(
        self,
        q_rot: np.ndarray,
        probes: list[int] | int | None,
        lazy: bool = False,
        epsilon: float = 1.9,
    ) -> np.ndarray:
        """Centroid-tree descent on the driver (the tree is small/broadcast;
        mirrors /root/reference/crates/vchordrq/src/search.rs:95-157).
        An int ``probes`` keeps every upper-level centroid and probes that
        many leaf cells. ``lazy=True`` scores each level with RaBitQ
        estimates + error bounds and exact-rescoring on pop (the
        reference's default); the default scores every candidate exactly
        (equivalent selection when the ε bounds hold, cheaper for shallow
        trees)."""
        metric = self.meta["metric"]
        if isinstance(probes, int):
            probes = [len(lv["parent"]) for lv in self.levels[:-1]] + [probes]
        if probes is not None and len(probes) != len(self.levels):
            raise ValueError(
                f"probes must have {len(self.levels)} entries (one per level)"
            )
        keep = np.arange(len(self.levels[0]["vec_rot"]))
        for lvl, level in enumerate(self.levels):
            if lvl > 0:
                mask = np.isin(level["parent"], keep)
                cand = np.where(mask)[0]
            else:
                cand = keep
            if probes is not None and probes[lvl] < len(cand):
                if lazy:
                    keep = self._lazy_select(
                        lvl, cand, q_rot, probes[lvl], epsilon=epsilon
                    )
                    continue
                vecs = level["vec_rot"][cand].astype(np.float64)
                if metric in ("l2", "cos"):
                    dist = ((vecs - q_rot.astype(np.float64)) ** 2).sum(axis=1)
                else:
                    dist = -(vecs @ q_rot.astype(np.float64))
                order = np.argpartition(dist, probes[lvl])[: probes[lvl]]
                keep = cand[order]
            else:
                keep = cand
        return keep

    def _probe(
        self,
        Q_rot: np.ndarray,
        probes: list[int] | int | None,
        lazy: bool = False,
        epsilon: float = 1.9,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Descend every rotated query. Returns (sorted union of the probed
        leaf cells, (n_leaves, nq) mask of the cells each query probed)."""
        mask = np.zeros((self.meta["n_leaves"], len(Q_rot)), bool)
        for qi in range(len(Q_rot)):
            probed = self._descend(Q_rot[qi], probes, lazy=lazy, epsilon=epsilon)
            mask[probed, qi] = True
        return np.flatnonzero(mask.any(axis=1)), mask

    def probed_union(
        self,
        queries: "list[list[float]] | np.ndarray",
        probes: list[int] | int | None,
    ) -> np.ndarray:
        """Union of probed leaf cells across a query batch (the same
        ``K.prep_queries`` prep and descent as ``search_batch``) — lets
        callers prune their own auxiliary scans to the probed cells."""
        _, Q_rot = K.prep_queries(queries, self.meta["metric"], self.meta["dim"])
        return self._probe(Q_rot, probes)[0]

    def _codes_base(self) -> DataFrame:
        """The codes table minus the tombstones as an ANALYZED lazy
        DataFrame, cached until ``_invalidate`` (DataFrames are immutable,
        so sharing one across searches is safe). spark.read.parquet costs
        a JVM file listing + footer read per call, which uncached would be
        plan-construction wall on every call. Read by the Spark scan of
        a ``prefilter`` or ``base_df`` query, ``compact`` and
        ``cluster_sizes``; the plain query reads the cells in its tasks
        (:meth:`_serve_cells`)."""
        tomb = self._tombstones_df()
        key = (self.meta["codes_version"], tomb is not None)
        cached = self._codes_base_cache
        if cached is not None and cached[0] == key:
            return cached[1]
        df = self.spark.read.parquet(self.codes_path)
        if tomb is not None:
            df = df.join(F.broadcast(tomb), "id", "left_anti")
        self._codes_base_cache = (key, df)
        return df

    def _codes_df(self, probed: np.ndarray, columns: list[str]) -> DataFrame:
        df = self._codes_base()
        if len(probed) < self.meta["n_leaves"]:
            # one parsed IN list: Column.isin makes a py4j lit() round
            # trip per probed cell (~5x slower at 48 probes); both push
            # down to Parquet as In(cluster_id, ...)
            cells = ", ".join(str(int(c)) for c in probed)
            df = df.where(F.expr(f"cluster_id IN ({cells})"))
        return df.select(*columns)

    def search(
        self,
        query: "np.ndarray | list[float]",
        k: int = 10,
        probes: list[int] | int | None = None,
        epsilon: float = 1.9,
        rerank_factor: int = 4,
        max_scan_tuples: int | None = None,
        prefilter: DataFrame | None = None,
        base_df: DataFrame | None = None,
        guarantee: bool = True,
        lazy_descent: bool = False,
    ) -> DataFrame:
        """k-NN search returning a DataFrame (id, dist) ordered by distance.

        One query through the same front end as ``search_batch`` (qid 0):
        the shared prep (``K.prep_queries``), the descent and the one scan
        kernel (``_scan``), which reads every probed row's code and rerank
        payload once (from the Python workers' cell caches where they
        hold it) and keeps, per Arrow batch, the rows the answer can need
        with their exact distances. A global ``ORDER BY dist, id LIMIT k``
        merges the batches: one Spark job per query, whatever the probed
        cells hold.

        ``guarantee=True`` reproduces the reference's lazy-rerank contract
        (exact within the probed cells, up to estimator-bound validity):
        after reranking the top ``rerank_factor·k`` candidates by lower
        bound, every remaining candidate whose lower bound is ≤ the k-th
        exact distance is reranked too (the batch analogue of popping the
        candidate heap until no lower bound can improve the result —
        crates/vchordrq/src/rerank.rs:53-101). Each batch
        applies the rule to its own rows; the global top-k is a subset of
        the union of the batches' top-k, so the merge returns the same
        rows as the rule applied to all probed rows at once.

        ``guarantee=False`` or ``max_scan_tuples`` rerank only the top
        ``m`` candidates by (lower bound, id), ``m = rerank_factor·k``
        capped by ``max_scan_tuples``: each batch emits its top-m and the
        merge cuts the global top-m before the top-k by distance.
        ``rerank_factor=None`` reranks every probed row.

        ``prefilter``: optional DataFrame of allowed ``id`` values applied
        BEFORE rerank (the reference's prefilter semantics, Q9); it joins
        a Spark scan of the codes table instead of the cell reader.
        ``base_df``: rerank against this (id, vec) table instead of the
        index-stored vectors (``rerank_in_table`` mode, Q5). Its vectors
        join the one codes scan by id, with the probed codes broadcast:
        NULL vectors are skipped (as at build), a vector whose length is
        not the index dimension fails the query with a ``ValueError``,
        and an index row whose id has no base vector is not a candidate.
        """
        Qe, Q_rot = K.prep_queries(
            np.asarray(query, np.float64)[None], self.meta["metric"], self.meta["dim"]
        )
        self._maybe_record_query(Qe[0].astype(np.float32))
        m = rerank_factor * k if rerank_factor is not None else None
        if max_scan_tuples is not None:
            m = min(m, max_scan_tuples) if m else max_scan_tuples
        guarantee = guarantee and max_scan_tuples is None
        rows = self._selected_rows(
            Qe, Q_rot, probes, epsilon, prefilter, base_df, lazy_descent,
            k=k, m=m, guarantee=guarantee,
        )
        if rows is None:
            return self._empty_result()
        if m is not None and not guarantee:
            rows = rows.orderBy("lb", "id").limit(int(m))
        return rows.select("id", "dist").orderBy("dist", "id").limit(int(k))

    def search_batch(
        self,
        queries: "list[list[float]] | np.ndarray",
        k: int = 10,
        probes: list[int] | int | None = None,
        epsilon: float = 1.9,
        rerank_factor: int | None = 4,
        guarantee: bool = True,
        base_df: DataFrame | None = None,
        prefilter: DataFrame | None = None,
    ) -> DataFrame:
        """Multi-query k-NN in ONE pass over the codes table.

        The Spark-native serving shape, and the same front end as
        ``search``: the queries go through the shared prep
        (``K.prep_queries``) and descend the centroid tree, and the union
        of probed clusters is read once by the scan kernel (``_scan``:
        every query's estimates from a single ``bits @ QQᵀ`` matmul, then
        each query's selection and exact rerank inside the batch). A
        per-``qid`` ``row_number`` merges the batches, with the same
        selection rules as ``search`` (the top-m cut by (lower bound, id)
        comes before the top-k cut when ``guarantee=False``).
        Returns (qid, id, dist, rank) with rank ≤ k per query.

        ``base_df``: rerank against this (id, vec) table instead of the
        index-stored payload (``rerank_in_table``, Q5 — the batch analogue
        of ``search(base_df=...)``, with the same join into the one scan
        and the same NULL, wrong-length and missing-id rules; the
        reference's rerank heap works for every storage,
        crates/vchordrq/src/rerank.rs:113-137). Required when the index
        was built with ``rerank_in_index=False`` and f32/f16 storage;
        quantized storage reranks on its own codes.

        ``prefilter``: optional DataFrame of allowed ``id`` values applied
        BEFORE rerank for every query in the batch (the reference's
        prefilter semantics, Q9 — the batch analogue of
        ``search(prefilter=...)``; one semi-join on the codes scan).
        """
        Qe, Q_rot = K.prep_queries(queries, self.meta["metric"], self.meta["dim"])
        m = rerank_factor * k if rerank_factor is not None else None
        rows = self._selected_rows(
            Qe, Q_rot, probes, epsilon, prefilter, base_df,
            k=k, m=m, guarantee=guarantee,
        )
        if rows is None:
            return self.spark.createDataFrame(
                [], "qid int, id long, dist double, rank int"
            )
        if m is not None and not guarantee:
            rows = self._top_per_query(rows, m, "lb", "id", rank="_rn")
        return (
            self._top_per_query(rows, k, "dist", "id")
            .select("qid", "id", "dist", "rank")
            .orderBy("qid", "rank")
        )

    def _rough_pool(
        self,
        queries: "list[list[float]] | np.ndarray",
        k: int,
        probes: list[int] | int | None,
        epsilon: float,
        refine: int,
        base_df: DataFrame | None = None,
        prefilter: DataFrame | None = None,
    ) -> DataFrame:
        """The maxsim candidate pool: each query's top-k rows by
        (rough, id) as (qid, id, rough, dist, rank). ``dist`` is the exact
        distance of the rows with rank ≤ ``refine`` (the refine head,
        reranked inside the scan on the index payload or on ``base_df``'s
        vectors) and null for the rest."""
        Qe, Q_rot = K.prep_queries(queries, self.meta["metric"], self.meta["dim"])
        rows = self._selected_rows(
            Qe, Q_rot, probes, epsilon, prefilter, base_df, k=k, refine=refine
        )
        if rows is None:
            return self.spark.createDataFrame(
                [], "qid int, id long, rough double, dist double, rank int"
            )
        return self._top_per_query(rows, k, "rough", "id")

    def _selected_rows(
        self,
        Qe: np.ndarray,
        Q_rot: np.ndarray,
        probes: list[int] | int | None,
        epsilon: float,
        prefilter: DataFrame | None,
        base_df: DataFrame | None,
        lazy: bool = False,
        **select,
    ) -> DataFrame | None:
        """(qid, id, lb, rough, dist): the descent's probed rows that
        ``_local_select`` keeps under ``select``, from the scan kernel.
        None when the descent probes no cell."""
        probed, probe_mask = self._probe(Q_rot, probes, lazy=lazy, epsilon=epsilon)
        if not len(probed):
            return None
        return self._scan(
            probed, probe_mask, Qe, Q_rot, epsilon, prefilter, base_df, select
        )

    def _scan(
        self,
        probed: np.ndarray,
        probe_mask: np.ndarray,
        Qe: np.ndarray,
        Q_rot: np.ndarray,
        epsilon: float,
        prefilter: DataFrame | None,
        base_df: DataFrame | None,
        select: dict,
    ) -> DataFrame:
        """The one codes read of every IVF query (``search`` as qid 0,
        ``search_batch``, the maxsim pool): ONE read of the probed cells'
        codes and, when ``select`` reranks, the rerank payload — the
        storage's, or a ``base_df``'s vectors (rerank-in-table).

        Without a ``prefilter`` or ``base_df`` the Python workers read the
        cells themselves (:meth:`_serve_cells`): each task of a
        ``spark.range`` seed takes a slice of the probed cells from its
        worker's cell cache, or reads them once with pyarrow, drops the
        tombstoned rows and runs the kernel over them. Otherwise a Spark
        scan of the codes table, pruned to the probed cells, feeds the
        same kernel: a ``prefilter`` semi-joins it, and a ``base_df``'s
        vectors join the probed codes by id. The probed codes are the
        broadcast side, so the base table never shuffles, and a probed
        row without a base vector is not a candidate.

        Per Arrow batch, each row is scored only for the queries whose
        descent probed its cell (``probe_mask``, (n_leaves, nq)), every
        query's sums from a single ``bits @ QQᵀ`` matmul, giving ``rough``
        and ``lb = rough − ε·err`` in the index's internal distance space
        (squared-l2 / negated-dot). ``_local_select(**select)`` then keeps
        each query's rows of the batch that the merge can need, exact-
        scored by ``_payload_scorer``. Returns (qid, id, lb, rough, dist).

        mapInArrow, not mapInPandas: pandas treats NaN as the null
        sentinel, which would turn a NaN distance (non-finite stored
        vector) into SQL NULL and sort it FIRST instead of last (the
        issue_427 contract)."""
        meta = self.meta
        metric = meta["metric"]
        dim = meta["dim"]
        nq = len(Q_rot)
        internal = "l2" if metric == "l2" else "dot"
        luts = [K.binary_lut(Q_rot[qi]) for qi in range(nq)]
        QQ = np.stack([lut["qvector"] for lut in luts]).astype(np.int64)  # (nq, d)
        residual = meta["residual_quantization"]
        if residual:
            leaf_rot = self.levels[-1]["vec_rot"].astype(np.float64)
            if internal == "l2":
                dis_f_all = np.stack(
                    [
                        ((leaf_rot - Q_rot[qi].astype(np.float64)) ** 2).sum(axis=1)
                        for qi in range(nq)
                    ]
                ).astype(np.float32)  # (nq, L)
                norm_all = None
            else:
                dis_f_all = np.stack(
                    [-(leaf_rot @ Q_rot[qi].astype(np.float64)) for qi in range(nq)]
                ).astype(np.float32)
                norm_all = np.linalg.norm(leaf_rot, axis=1).astype(np.float32)
        else:
            dis_f_all = norm_all = None
        eps = float(epsilon)
        rough_fn = K.rough_l2 if internal == "l2" else K.rough_dot
        factors = ("dis_u_2", "factor_cnt", "factor_ip", "factor_err")
        columns = _SCAN_COLS
        decode = score = None
        if select.get("refine") != 0:
            payload_cols, decode, score = self._payload_scorer(
                Qe, Q_rot, base_df is not None
            )
            columns += payload_cols

        def kernel(batches):
            import pyarrow as pa

            for rb in batches:
                if not rb.num_rows:
                    continue
                bits = K.unpack_bits(_binary_u8_matrix(rb, "code"), dim)
                sums_all = bits.astype(np.int64) @ QQ.T  # (n, nq)
                fac = {c: _arrow_np(rb, c, np.float32) for c in factors}
                cids = _arrow_np(rb, "cluster_id", np.int64)
                ids = _arrow_np(rb, "id", np.int64)
                delta = _arrow_np(rb, "delta", np.float32) if residual else None
                payload = decode(rb) if decode else None
                out = []
                for qi in range(nq):
                    rows = np.flatnonzero(probe_mask[cids, qi])
                    if not len(rows):
                        continue
                    kw = {}
                    if residual:
                        kw = {"dis_f": dis_f_all[qi][cids[rows]], "delta": delta[rows]}
                        if internal == "dot":
                            kw["norm"] = norm_all[cids[rows]]
                    rough, err = rough_fn(
                        sums_all[rows, qi],
                        {c: v[rows] for c, v in fac.items()},
                        luts[qi],
                        **kw,
                    )
                    lb = (rough - eps * err).astype(np.float64)
                    rough = rough.astype(np.float64)

                    def exact(r, rows=rows, qi=qi):
                        return score(payload, rows[r], np.full(len(r), qi))

                    pick, dist = _local_select(
                        ids[rows], lb, rough, exact, metric, **select
                    )
                    n = len(pick)
                    out.append((
                        np.full(n, qi, np.int32),
                        ids[rows[pick]],
                        lb[pick],
                        rough[pick],
                        np.pad(dist, (0, n - len(dist))),
                        np.arange(n) < len(dist),
                    ))
                if not out:
                    continue
                qid, rid, lb, rough, dist, has = map(np.concatenate, zip(*out))
                yield pa.record_batch(
                    [
                        pa.array(qid),
                        pa.array(rid),
                        pa.array(lb),
                        pa.array(rough),
                        pa.array(dist, mask=~has),
                    ],
                    names=["qid", "id", "lb", "rough", "dist"],
                )

        schema = "qid int, id long, lb double, rough double, dist double"
        if prefilter is None and base_df is None:
            return self._serve_cells(probed, columns, kernel, schema)
        df = self._codes_df(probed, columns)
        if prefilter is not None:
            df = df.join(prefilter.select("id"), "id", "left_semi")
        if base_df is not None and decode:
            base = source_vectors(base_df, "id", "vec", metric)
            df = base.select("id", F.col("vec").alias("_base_vec")).join(
                F.broadcast(df), "id"
            )
        return df.mapInArrow(kernel, schema)

    def _codes_snapshot(self) -> "tuple[list[str], np.ndarray | None]":
        """(data file names of the current codes version, tombstoned ids
        or None), captured once per index state: cached until
        ``_invalidate``, as ``_codes_base`` caches its plan. A search
        DataFrame closes over them, so it keeps answering from the files
        and tombstones it was built over across a later ``insert`` or
        ``delete``, and fails if one of its files is gone."""
        if self._codes_snapshot_cache is None:
            names = [f[0] for f in files_fingerprint(self.codes_path)]
            self._codes_snapshot_cache = (names, self._tombstone_ids())
        return self._codes_snapshot_cache

    def _serve_cells(
        self, cells, columns: tuple, body, schema: str, tombstones: bool = True
    ) -> DataFrame:
        """``body`` (an Arrow batch kernel with output ``schema``) over the
        codes rows of ``cells``, read by the Python workers themselves: a
        ``spark.range(n)`` seed with one row per partition,
        ``n = min(defaultParallelism, len(cells))``, each task taking one
        slice of the sorted cells through :func:`_make_cell_reader`, with
        the tombstoned rows dropped unless ``tombstones`` is False. The
        plan has no Parquet scan: the task's cells come from the worker's
        cell cache, or one pyarrow read of the snapshot's files
        (:meth:`_codes_snapshot`). The seed is a JVM ``Range``, as for the
        graph's shard tasks (``VamanaIndex._shard_candidates``)."""
        names, tomb = self._codes_snapshot()
        n = min(self._parallelism, len(cells))
        slices = np.array_split(np.asarray(cells, np.int64), n)
        reader = _make_cell_reader(
            self.codes_path, names, slices, columns,
            tomb if tombstones else None, body,
        )
        return self.spark.range(n, numPartitions=n).mapInArrow(reader, schema)

    def _payload_scorer(self, Qe: np.ndarray, Q_rot: np.ndarray, base: bool):
        """The rerank scorer for the index's storage, or for a ``base_df``
        joined into the scan (``base``, whatever the storage) — the
        analogue of the reference's storage-agnostic rerank, which fetches
        each vector from wherever it lives
        (crates/vchordrq/src/rerank.rs:113-137). Returns
        ``(columns, decode, score)``: the codes columns holding the
        payload (none for ``base``), ``decode(rb)`` → the Arrow batch's
        payload, and ``score(payload, rows, qids)`` → output-space
        distances of batch rows ``rows`` to queries ``qids``: exact for
        f32, f16 and ``base``, against the dequantized estimate for
        rabitq8/rabitq4.

        ``Qe`` and ``Q_rot`` are the shared prep's output
        (``K.prep_queries``: the (nq, dim) f64 queries normalized for cos,
        and their rotated f32 counterpart, used by quantized storage)."""
        meta = self.meta
        metric = meta["metric"]
        dim = meta["dim"]
        storage = meta["storage"]

        # the JVM aggregate(zip_with) left fold, so oracle-gated
        # distances are unchanged by the storage layout
        def fold(vecs, rows, qids):
            return K.fold_distances(metric, vecs[rows], Qe[qids])

        if base:
            # the base table's vectors (``source_vectors``: NULLs skipped,
            # cos normalized), widened to f64 as the JVM fold widens them
            import pyarrow.compute as pc

            def base_decode(rb):
                col = rb.column(rb.schema.get_field_index("_base_vec"))
                lens = np.asarray(pc.list_value_length(col))
                if (lens != dim).any():
                    raise ValueError(
                        f"base_df vector of length {int(lens[lens != dim][0])} "
                        f"in an index of dimension {dim}"
                    )
                return np.asarray(col.flatten(), np.float64).reshape(-1, dim)

            return (), base_decode, fold

        if storage in ("rabitq8", "rabitq4"):
            # rotation-invariant distances in rotated space: one decode per
            # Arrow batch, a row-wise dot per scored row
            sq_bits = {"rabitq8": 8, "rabitq4": 4}[storage]
            Qr64 = np.asarray(Q_rot, np.float64)  # (nq, dim) rotated queries
            base_off = np.float64(-0.5 * ((1 << sq_bits) - 1))
            q_norm2 = np.einsum("ij,ij->i", Qr64, Qr64)

            def sq_decode(rb):
                scale = np.sqrt(_arrow_np(rb, "sq_dis_u_2", np.float64)) / _arrow_np(
                    rb, "sq_nol", np.float64
                )
                return _sq_code_matrix(rb, sq_bits, dim), scale

            def sq_score(payload, rows, qids):
                code, scale = payload
                centered = code[rows].astype(np.float64) + base_off
                sc = scale[rows]
                dotq = np.einsum("ij,ij->i", centered, Qr64[qids]) * sc
                if metric == "l2":
                    deq_n2 = np.einsum("ij,ij->i", centered, centered) * sc * sc
                    return np.sqrt(np.maximum(q_norm2[qids] + deq_n2 - 2.0 * dotq, 0.0))
                return -dotq if metric == "dot" else 1.0 - dotq

            return _PAYLOAD_COLS[storage], sq_decode, sq_score

        if not meta["rerank_in_index"]:
            raise ValueError("index built with rerank_in_index=False: pass base_df")
        # packed little-endian f32 / f16 rows, viewed without a copy;
        # scorers widen only the rows they rerank
        (col,) = _PAYLOAD_COLS[storage]
        fp = "<f4" if storage == "f32" else "<f2"

        def decode(rb):
            return _binary_u8_matrix(rb, col).view(fp)

        if storage == "f32":
            return _PAYLOAD_COLS[storage], decode, fold

        def f16_score(vecs, rows, qids):
            mat = vecs[rows].astype(np.float64)
            qs = Qe[qids]
            if metric == "l2":
                return np.sqrt(((mat - qs) ** 2).sum(axis=1))
            if metric == "dot":
                return -np.einsum("ij,ij->i", mat, qs)
            return 1.0 - np.einsum("ij,ij->i", mat, qs)

        return _PAYLOAD_COLS[storage], decode, f16_score

    def range_search(
        self,
        center: "np.ndarray | list[float]",
        radius: float,
        probes: list[int] | int | None = None,
        epsilon: float = 1.9,
        max_scan_tuples: int | None = None,
    ) -> DataFrame:
        """Sphere search: all ids with output-space distance < radius
        (strategy-2 semantics, threshold on the sqrt'd/+1 distance —
        /root/reference/src/index/vchordrq/scanners/default.rs:104-121)."""
        full = self.search(
            center,
            k=max_scan_tuples or 2**31 - 1,
            probes=probes,
            epsilon=epsilon,
            rerank_factor=None,
            max_scan_tuples=max_scan_tuples,
        )
        return full.where(F.col("dist") < float(radius))

    def _empty_result(self) -> DataFrame:
        return self.spark.createDataFrame([], "id long, dist double")

    # ------------------------------------------------------------------
    # Lifecycle (insert / compact / prewarm / recall; StoredIndex deletes)
    # ------------------------------------------------------------------

    def insert(self, df: DataFrame, id_col: str = "id", vec_col: str = "vec") -> None:
        """Append new rows (encode with the existing centroid tree — the
        batch analogue of the appendable-tape insert path)."""
        src = source_vectors(df, id_col, vec_col, self.meta["metric"])
        self._encode_and_write(src, mode="append")
        self._invalidate()

    def _invalidate(self) -> None:
        super()._invalidate()
        self._cluster_sizes = None
        self._codes_base_cache = None
        self._codes_snapshot_cache = None

    def compact(self) -> None:
        """Rewrite codes without tombstoned rows and re-coalesce files
        (the reference's maintain/vacuum pass as an OPTIMIZE-style job).

        The *previous* codes directory is kept until the next compact so
        that lazy DataFrames returned by earlier ``search()`` calls remain
        collectable (snapshot-ish semantics); only the version before that
        is reclaimed. The cells the Python workers cache are keyed on the
        identity of the files they were read from, so the new version's
        cells miss and the old version's entries age out of the
        byte-budgeted cache; there is no query state to release."""
        old_version = self.meta["codes_version"]
        # read the OLD version before bumping it (read.parquet resolves
        # the path eagerly, so the lazy plan keeps reading v_old while
        # _write_codes targets v_new)
        df = self._codes_base()
        self.meta["codes_version"] = old_version + 1
        self._write_codes(df, "overwrite")
        self._commit(f"codes_v{old_version - 1}", vacuum=True)

    def prewarm(self) -> int:
        """Warm the serve path (S11 vchordrq_prewarm) and return the codes
        row count (tombstoned rows included): every cell of the current
        version is read through the SAME seeded reader the search uses
        (:meth:`_serve_cells`), with the columns a search of this
        storage reads, into the cell cache of the Python worker that ran
        its task (shared with graph shards, :class:`graph._ShardCache`).
        Spark does not pin a cell to a worker, so a later query may still
        land on a worker that has not read it yet."""
        storage = self.meta["storage"]
        payload = storage.startswith("rabitq") or self.meta["rerank_in_index"]
        columns = _SCAN_COLS + (_PAYLOAD_COLS[storage] if payload else ())

        def count(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
            for rb in batches:
                yield pa.record_batch([pa.array([rb.num_rows], pa.int64())], names=["n"])

        cells = np.arange(int(self.meta["n_leaves"]))
        rows = self._serve_cells(cells, columns, count, "n long", tombstones=False).collect()
        return int(sum(r.n for r in rows))

    def cluster_sizes(self) -> dict[int, int]:
        """Tuple count per leaf cell (cached; the analogue of the jump
        tuples' counts used by maxsim threshold estimation). Tombstoned
        rows are excluded — after delete() the estimation counts stay
        accurate without waiting for compact()."""
        if self._cluster_sizes is None:
            rows = self._codes_base().groupBy("cluster_id").count().collect()
            self._cluster_sizes = {int(r.cluster_id): int(r["count"]) for r in rows}
        return self._cluster_sizes

    def estimation_by_threshold(
        self,
        query: "np.ndarray | list[float]",
        probes: list[int] | int | None,
        threshold: int,
    ) -> float:
        """MaxSim ``estimation_by_threshold`` (re-expressed from
        /root/reference/crates/vchordrq/src/search.rs:366-379): after
        counting the probed cells' tuples against ``threshold``, walk the
        *unprobed* cells in ascending centroid distance until the remaining
        budget is exhausted; return the **output-space** centroid distance
        (sqrt'd for l2, +1 for cos) of the last consumed cell (-inf if the
        probed cells already cover the threshold), so it composes directly
        with ``search()`` result distances. A floor for what an unvisited
        document could score."""
        metric = self.meta["metric"]
        _, Q_rot = K.prep_queries(
            np.asarray(query, np.float64)[None], metric, self.meta["dim"]
        )
        probed = set(int(c) for c in self._descend(Q_rot[0], probes))
        q_rot = Q_rot[0].astype(np.float64)
        leaf_rot = self.levels[-1]["vec_rot"].astype(np.float64)
        if metric == "l2":
            dists = ((leaf_rot - q_rot) ** 2).sum(axis=1)
        else:
            dists = -(leaf_rot @ q_rot)
        sizes = self.cluster_sizes()
        t = threshold - sum(sizes.get(c, 0) for c in probed)
        est = float("-inf")
        for cell in np.argsort(dists, kind="stable"):
            cell = int(cell)
            if cell in probed:
                continue
            if t <= 0:
                break
            t -= sizes.get(cell, 0)
            est = float(dists[cell])
        if est == float("-inf"):
            return est
        if metric == "l2":
            return float(np.sqrt(max(est, 0.0)))
        if metric == "cos":
            return est + 1.0
        return est

    def evaluate_query_recall(
        self,
        query: "np.ndarray | list[float]",
        k: int = 10,
        probes: list[int] | int | None = None,
        epsilon: float = 1.9,
        rerank_factor: int = 4,
    ) -> float:
        """recall@k of the ANN configuration vs exhaustive search (S13,
        /root/reference/sql/install/vchord--1.1.1.sql:1021-1092). Returns
        NaN when the exhaustive result is empty (reference edge case)."""
        return self._recall(
            self.search(
                query, k=k, probes=probes, epsilon=epsilon, rerank_factor=rerank_factor
            ),
            self.search(query, k=k, probes=None, epsilon=1.9, rerank_factor=None),
        )
