"""IVF (vchordrq-style) vector index as Parquet tables + DataFrame jobs.

Spark-first re-expression of the reference's index lifecycle:

- build = sample job → driver k-means over the bounded sample → broadcast
  rotated centroid tree → one ``mapInArrow`` encode pass writing a Parquet
  ``codes`` table range-bucketed and sorted by leaf cluster (replaces
  tapes/pages: /root/reference/crates/vchordrq/src/build.rs:24-146); the
  single Spark write job IS the reference's parallel build
  (am_build.rs:611-789).
- search = driver tree descent over the (small, broadcast) centroid tree →
  partition-pruned scan of the probed clusters → Arrow-batched rough
  scoring with ε lower bounds (search.rs:95-196) → bounded candidate top-m
  by lower bound → exact rerank join → ``ORDER BY dist LIMIT k``
  (rerank.rs:53-137 re-expressed as TakeOrderedAndProject).
- insert = encode+append (insert.rs:70-212); delete = tombstones
  (bulkdelete.rs:24-183); compact = partition rewrite (maintain.rs:38-260).

Scale notes (the design point is a 1000-executor cluster, not local[32]):
the centroid tree is ≤ a few hundred MB even at 1M leaves → broadcast;
``codes`` is cluster-range-bucketed and sorted, so the probes' pushed
``cluster_id IN`` filter prunes at Parquet file/row-group granularity
(a directory per cluster would mean 1M directories at 1M leaves);
the rough-score stage reads only (meta, code) columns (column
pruning keeps the full vectors out of the Python exchange); the rerank join
broadcasts the ≤ ``rerank_factor·k`` candidate ids, so the only shuffle in
the whole query is the final top-k, which TakeOrderedAndProject does with
per-partition heaps.
"""

from __future__ import annotations

import json
import os
import shutil
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

#: ``vec`` is the f32 rerank payload PACKED AS BINARY (little-endian f32,
#: like the f16/quantized payloads): Spark's parquet LIST<FLOAT> writer
#: emits per-element definition/repetition levels and measured only
#: 0.1-0.3 GB/s, the single largest term of the 768d encode stage
#: (tools/profile_encode.py: parquet 3.98s vs feed+compute 1.63s +
#: shuffle 0.42s best-of-5 at 250k); the binary blob writes ~3x faster
#: and decodes to numpy with one frombuffer per batch at rerank time.
CODES_SCHEMA = (
    "id long, cluster_id int, dis_u_2 float, factor_cnt float, factor_ip float, "
    "factor_err float, delta float, code binary, vec binary, "
    "vec_f16 binary, sq_dis_u_2 float, sq_nol float, sq_code binary"
)
SCORE_SCHEMA = "id long, cluster_id int, lb double, rough double"

#: Parquet row-group target for the codes table — the probed scan's
#: pruning granularity (see _write_codes).
_CODES_BLOCK_BYTES = 8 << 20


def _binary_fp_matrix(rb, col_name: str, dim: int, fp_dtype: str) -> "np.ndarray":
    """(n, dim) float64 matrix from an Arrow record batch's binary column
    of packed little-endian float rows (the CODES_SCHEMA ``vec``/
    ``vec_f16`` layouts). Zero-copy up to the final f64 widening: rows are
    fixed itemsize*dim bytes, so the variable-width binary array's data
    buffer is one contiguous float run between its first and last
    offsets."""
    col = rb.column(rb.schema.get_field_index(col_name))
    if col.null_count:  # defensive: the rerank payload is written non-null
        raise ValueError(f"NULL {col_name} payload in codes batch")
    off = np.frombuffer(
        col.buffers()[1], np.int32, len(col) + 1, offset=col.offset * 4
    )
    data = np.frombuffer(col.buffers()[2], np.uint8)
    return (
        data[off[0] : off[-1]]
        .view(fp_dtype)
        .reshape(len(col), dim)
        .astype(np.float64)
    )


def _binary_f32_matrix(rb, col_name: str, dim: int) -> "np.ndarray":
    return _binary_fp_matrix(rb, col_name, dim, "<f4")


def _binary_f16_matrix(rb, col_name: str, dim: int) -> "np.ndarray":
    return _binary_fp_matrix(rb, col_name, dim, "<f2")


def _binary_u8_matrix(rb, col_name: str) -> "np.ndarray":
    """(n, row_bytes) uint8 matrix from a fixed-row-width binary column
    (the packed sq_code layout), via the same contiguous-buffer slice."""
    col = rb.column(rb.schema.get_field_index(col_name))
    if col.null_count:
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


def _arrow_i64(rb, name: str):
    import pyarrow as pa

    col = rb.column(rb.schema.get_field_index(name))
    return col if col.type == pa.int64() else col.cast(pa.int64())


def _arrow_i32(rb, name: str):
    import pyarrow as pa

    col = rb.column(rb.schema.get_field_index(name))
    return col if col.type == pa.int32() else col.cast(pa.int32())


def _arrow_f64_np(rb, name: str) -> "np.ndarray":
    return np.asarray(
        rb.column(rb.schema.get_field_index(name)), dtype=np.float64
    )

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


class IvfIndex(QuerySampling):
    def __init__(self, spark: SparkSession, path: str):
        from vectorchord_spark.session import ensure_worker_imports

        ensure_worker_imports(spark)
        self.spark = spark
        self.path = path
        with open(os.path.join(path, "meta.json")) as f:
            self.meta = json.load(f)
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

    def _persist_scored(self, scored: DataFrame) -> DataFrame:
        # bound cached-search memory: at most one outstanding scored DF per
        # index (a long-lived serving session would otherwise accumulate
        # one cached RDD per query)
        prev = getattr(self, "_last_scored", None)
        if prev is not None:
            prev.unpersist()
        self._last_scored = scored.persist()
        return self._last_scored

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

        # NULL vectors are skipped, matching the reference index behavior
        # (tests/fail/null.fail, tests/general/issue_427.slt: NULL rows are
        # absent from index results; NaN/Inf rows index fine and sort after
        # every finite distance)
        src = df.where(F.col(vec_col).isNotNull()).select(
            F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
        )
        if opts.metric == "cos":
            # cosine opclasses L2-normalize at store time and work in dot
            # space (/root/reference/src/index/vchordrq/opclass.rs:49-68)
            src = src.select("id", D.normalize("vec").cast("array<float>").alias("vec"))

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
        with open(os.path.join(path, "meta.json"), "w") as f:
            json.dump(meta, f)

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
        with open(os.path.join(path, "meta.json"), "w") as f:
            json.dump(index.meta, f)
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
        with open(os.path.join(path, "meta.json"), "w") as f:
            json.dump(meta, f)
        index = cls(spark, path)
        src = df.where(F.col(vec_col).isNotNull()).select(
            F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
        )
        if opts.metric == "cos":
            src = src.select("id", D.normalize("vec").cast("array<float>").alias("vec"))
        index._encode_and_write(src, mode="overwrite")
        return index

    # ------------------------------------------------------------------

    @property
    def codes_path(self) -> str:
        return os.path.join(self.path, f"codes_v{self.meta['codes_version']}")

    @property
    def _tombstones_path(self) -> str:
        return os.path.join(self.path, "tombstones")

    def _encode_and_write(self, src: DataFrame, mode: str) -> None:
        meta = self.meta
        leaf_rot = self.levels[-1]["vec_rot"]
        metric = meta["metric"]
        residual = meta["residual_quantization"]
        storage = meta.get("storage", "f32")
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
        probes: list[int] | None,
        lazy: bool = False,
        epsilon: float = 1.9,
    ) -> np.ndarray:
        """Centroid-tree descent on the driver (the tree is small/broadcast;
        mirrors /root/reference/crates/vchordrq/src/search.rs:95-157).
        ``lazy=True`` scores each level with RaBitQ estimates + error
        bounds and exact-rescoring on pop (the reference's default); the
        default scores every candidate exactly (equivalent selection when
        the ε bounds hold, cheaper for shallow trees)."""
        metric = self.meta["metric"]
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

    def probed_union(
        self,
        queries: "list[list[float]] | np.ndarray",
        probes: list[int] | int | None,
    ) -> np.ndarray:
        """Union of probed leaf cells across a query batch (the same
        normalization + descent search_batch performs) — lets callers prune
        auxiliary scans (e.g. the maxsim refine join) to the probed cells."""
        meta = self.meta
        Qe = np.asarray(queries, np.float64)
        if meta["metric"] == "cos":
            norms = np.linalg.norm(Qe, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            Qe = Qe / norms
        Q_rot = K.rotate(Qe.astype(np.float32))
        if isinstance(probes, int):
            probes = [len(lv["parent"]) for lv in self.levels[:-1]] + [probes]
        union: set[int] = set()
        for qi in range(len(Q_rot)):
            union.update(int(c) for c in self._descend(Q_rot[qi], probes))
        return np.array(sorted(union))

    def _codes_base(self) -> DataFrame:
        """The codes table as an ANALYZED lazy DataFrame, cached per codes
        version (DataFrames are immutable, so sharing one across searches
        is safe). spark.read.parquet costs a driver→JVM file listing +
        footer read per call; a single search builds 2-3 codes scans, so
        uncached reads added ~0.5-0.9s of pure plan-construction wall to
        every serving call at sf0.1. Invalidated by insert/delete/compact
        (they bump the version or change the tombstone set — the cached
        plan's file list is resolved at analysis time and would go stale)."""
        key = (self.meta["codes_version"], os.path.exists(self._tombstones_path))
        cached = getattr(self, "_codes_base_cache", None)
        if cached is not None and cached[0] == key:
            return cached[1]
        df = self.spark.read.parquet(self.codes_path)
        if key[1]:
            tomb = self.spark.read.parquet(self._tombstones_path)
            df = df.join(F.broadcast(tomb), "id", "left_anti")
        self._codes_base_cache = (key, df)
        return df

    def _codes_df(self, probed: np.ndarray, columns: list[str]) -> DataFrame:
        df = self._codes_base()
        if len(probed) < self.meta["n_leaves"]:
            df = df.where(F.col("cluster_id").isin([int(c) for c in probed]))
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
        cheap_threshold: int = 8192,
    ) -> DataFrame:
        """k-NN search returning a DataFrame (id, dist) ordered by distance.

        ``cheap_threshold``: when the probed cells hold at most this many
        rows, skip the RaBitQ rough-scoring + guarantee machinery and
        exact-rerank every probed row directly — the answer is the same
        contract (exact top-k within the probed cells) computed in ONE
        Spark job instead of three. At small scale the fixed machinery
        dominates (sf0.1: probed search ~2× the exhaustive scan); at
        scale the 1-bit codes are 32× less I/O than the f32 vectors, so
        the rough path wins — the default (8192 rows) sits well under
        the measured crossover (probed sets ≥~30k rows at 1M×64d favor
        rough scoring). 0 disables the short circuit.

        ``guarantee=True`` reproduces the reference's lazy-rerank contract
        (exact within the probed cells, up to estimator-bound validity): after
        reranking the top ``rerank_factor·k`` candidates by lower bound, every
        remaining candidate whose lower bound is ≤ the k-th exact distance is
        reranked too (the batch analogue of popping the candidate heap until
        no lower bound can improve the result —
        /root/reference/crates/vchordrq/src/rerank.rs:53-101).

        ``prefilter``: optional DataFrame of allowed ``id`` values applied
        BEFORE rerank (the reference's prefilter semantics, Q9).
        ``base_df``: rerank against this (id, vec) table instead of the
        index-stored vectors (``rerank_in_table`` mode, Q5).
        """
        meta = self.meta
        metric = meta["metric"]
        # keep the query in full double precision for the exact rerank
        # expression; the f32 copy is only for rotation / LUT quantization
        q_exact = np.asarray(query, np.float64)
        if q_exact.shape != (meta["dim"],):
            # explicit dim check, mirroring crates/vchordrq/src/search.rs:58
            raise ValueError(
                f"query dimension {q_exact.shape} does not match index "
                f"dimension {meta['dim']}"
            )
        if metric == "cos":
            n = float(np.linalg.norm(q_exact))
            if n > 0:
                q_exact = q_exact / n
        q = q_exact.astype(np.float32)
        self._maybe_record_query(q)
        q_rot = K.rotate(q)
        if isinstance(probes, int):
            probes = [len(lv["parent"]) for lv in self.levels[:-1]] + [probes]
        probed = self._descend(q_rot, probes, lazy=lazy_descent, epsilon=epsilon)
        if len(probed) == 0:
            return self._empty_result()

        internal = "l2" if metric == "l2" else "dot"
        lut = K.binary_lut(q_rot)
        residual = meta["residual_quantization"]
        dim = meta["dim"]
        if residual:
            leaf_rot = self.levels[-1]["vec_rot"].astype(np.float64)
            if internal == "l2":
                dis_f_all = (
                    ((leaf_rot - q_rot.astype(np.float64)) ** 2).sum(axis=1)
                ).astype(np.float32)
                norm_all = None
            else:
                dis_f_all = (-(leaf_rot @ q_rot.astype(np.float64))).astype(np.float32)
                norm_all = np.linalg.norm(leaf_rot, axis=1).astype(np.float32)
        else:
            dis_f_all = None
            norm_all = None
        eps = float(epsilon)

        def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                bits = K.unpack_bits(list(pdf["code"]), dim)
                sums = bits.astype(np.int64) @ lut["qvector"].astype(np.int64)
                m = {
                    "dis_u_2": pdf["dis_u_2"].to_numpy(np.float32),
                    "factor_cnt": pdf["factor_cnt"].to_numpy(np.float32),
                    "factor_ip": pdf["factor_ip"].to_numpy(np.float32),
                    "factor_err": pdf["factor_err"].to_numpy(np.float32),
                }
                cids = pdf["cluster_id"].to_numpy(np.int64)
                if residual:
                    delta = pdf["delta"].to_numpy(np.float32)
                    if internal == "l2":
                        rough, err = K.rough_l2(
                            sums, m, lut, dis_f=dis_f_all[cids], delta=delta
                        )
                    else:
                        rough, err = K.rough_dot(
                            sums,
                            m,
                            lut,
                            dis_f=dis_f_all[cids],
                            delta=delta,
                            norm=norm_all[cids],
                        )
                else:
                    if internal == "l2":
                        rough, err = K.rough_l2(sums, m, lut)
                    else:
                        rough, err = K.rough_dot(sums, m, lut)
                yield pd.DataFrame(
                    {
                        "id": pdf["id"].to_numpy(np.int64),
                        "cluster_id": cids.astype(np.int32),
                        "lb": (rough - eps * err).astype(np.float64),
                        "rough": rough.astype(np.float64),
                    }
                )

        meta_cols = [
            "id",
            "cluster_id",
            "dis_u_2",
            "factor_cnt",
            "factor_ip",
            "factor_err",
            "delta",
            "code",
        ]
        scored = self._codes_df(probed, meta_cols).mapInPandas(score, SCORE_SCHEMA)
        if prefilter is not None:
            scored = scored.join(prefilter.select("id"), "id", "left_semi")

        # exact (or, for quantized storage, dequantized-estimate) rerank
        # through the same storage-dispatched scorer as search_batch, on a
        # one-query (qid=0, id) candidate frame
        exact_dist = self._batch_exact_dist(probed, q_exact[None], q_rot[None], base_df)

        def rerank(cand: DataFrame) -> DataFrame:
            return (
                exact_dist(cand.select(F.lit(0).alias("qid"), "id"))
                .select("id", "dist")
                .orderBy("dist", "id")
            )

        m_cand = rerank_factor * k if rerank_factor is not None else None
        if max_scan_tuples is not None:
            m_cand = min(m_cand, max_scan_tuples) if m_cand else max_scan_tuples

        # Small-probed-set short circuit: exact-reranking EVERY probed row
        # returns the guarantee contract's answer (exact top-k within the
        # probed cells — crates/vchordrq/src/rerank.rs:53-101 restricted
        # brute force) unconditionally, so when the probed cells are small
        # the descent result feeds the rerank directly and the rough-score
        # stage, the persist, and the two-pass lb sweep never run. Not
        # taken under max_scan_tuples (that contract truncates by lb order)
        # or guarantee=False with a cap (explicitly top-m-by-lb).
        if (
            cheap_threshold
            and max_scan_tuples is None
            and (m_cand is None or guarantee)
            and sum(self.cluster_sizes().get(int(c), 0) for c in probed)
            <= cheap_threshold
        ):
            cand = self._codes_df(probed, ["id"])
            if prefilter is not None:
                cand = cand.join(prefilter.select("id"), "id", "left_semi")
            return rerank(cand).limit(int(k))

        if m_cand is None:
            # exhaustive: rerank everything that was scored
            return rerank(scored).limit(int(k))

        if not guarantee or max_scan_tuples is not None:
            # single-consumer plan: persisting here would only add cache
            # churn (the scored scan is read exactly once)
            return rerank(scored.orderBy("lb").limit(int(m_cand))).limit(int(k))
        # the guarantee pass reads `scored` twice (pass-1 top-m and the
        # lb ≤ D_k sweep) — persist so the python scoring stage runs once
        scored = self._persist_scored(scored)
        pass1 = scored.orderBy("lb").limit(int(m_cand))
        # guarantee pass as ONE lazy plan (no mid-plan driver collect — the
        # k-th pass-1 distance reaches the lb filter as a broadcast 1-row
        # join, so the whole search is a single Spark action): rerank
        # everything with lb ≤ D_k (internal space: squared-l2/negated-dot),
        # falling back to "rerank all scored" (threshold = +inf) when pass 1
        # produced fewer than k rows
        p1_top = rerank(pass1).limit(int(k))
        if metric == "l2":
            t = F.col("d_k") * F.col("d_k")
        elif metric == "cos":
            t = F.col("d_k") - F.lit(1.0)
        else:
            t = F.col("d_k")
        thresh_df = (
            p1_top.agg(
                F.count(F.lit(1)).alias("n_top"), F.max("dist").alias("d_k")
            )
            .select(
                F.when(F.col("n_top") < int(k), F.lit(float("inf")))
                .otherwise(t.cast("double"))
                .alias("_thresh")
            )
        )
        # union pass-1: a pass-1 winner whose lb exceeds thresh (the ε bound
        # is probabilistic) must not be dropped from the final rerank
        final_cand = (
            scored.crossJoin(F.broadcast(thresh_df))
            .where(F.col("lb") <= F.col("_thresh"))
            .select("id")
            .unionAll(pass1.select("id"))
            .distinct()
        )
        return rerank(final_cand).limit(int(k))

    def _batch_exact_dist(
        self,
        probed_arr: np.ndarray,
        Qe: np.ndarray,
        Q_rot: np.ndarray,
        base_df: DataFrame | None = None,
    ):
        """Storage-dispatched rerank: returns a function mapping a
        candidate DataFrame (qid, id) to exact (or dequantized-estimate)
        distances (qid, id, dist) — the analogue of the reference's
        storage-agnostic rerank heap (crates/vchordrq/src/rerank.rs:113-137).
        The one rerank of ``search`` (a single query as qid 0),
        ``search_batch`` and the maxsim refine stage.

        ``Qe`` is the (nq, dim) f64 query matrix ALREADY normalized for cos
        metrics; ``Q_rot`` its rotated f32 counterpart (used by quantized
        storage). ``base_df`` switches to rerank-in-table mode (Q5).

        The numpy scorers run under mapInArrow, not mapInPandas: pandas
        treats NaN as the null sentinel, which would turn a NaN distance
        (non-finite stored vector) into SQL NULL and sort it FIRST instead
        of last (the issue_427 contract)."""
        meta = self.meta
        metric = meta["metric"]
        dim = meta["dim"]
        storage = meta.get("storage", "f32")
        nq = len(Qe)

        if base_df is not None:
            # rerank-in-table: exact distances against the caller's base
            # table — same broadcast-candidate join shape as the in-index
            # f32 branch, just a different vector source
            base_src = base_df.select("id", "vec")
            if metric == "cos":
                base_src = base_df.select(
                    "id", D.normalize("vec").cast("array<float>").alias("vec")
                )
            bq_arr = F.array(
                *[D.vec_lit([float(x) for x in Qe[qi]]) for qi in range(nq)]
            )
            bqv = F.element_at(bq_arr, F.col("qid") + 1)
            if metric == "l2":
                b_dist = D.l2("vec", bqv)
            elif metric == "dot":
                b_dist = D.ip("vec", bqv)
            else:
                b_dist = F.lit(1.0) + D.ip("vec", bqv)

            def exact_dist(cand: DataFrame) -> DataFrame:
                return (
                    base_src.join(F.broadcast(cand), "id")
                    .select("qid", "id", b_dist.alias("dist"))
                )

            return exact_dist

        if storage in ("rabitq8", "rabitq4"):
            # quantized storage: the reference's rabitq8/rabitq4 rerank
            # against the dequantized estimate (rotation-invariant distances
            # in rotated space; one decode + row-wise dot per Arrow batch)
            sq_bits = {"rabitq8": 8, "rabitq4": 4}[storage]
            Qr64 = np.asarray(Q_rot, np.float64)  # (nq, dim) rotated queries
            base_off = np.float64(-0.5 * ((1 << sq_bits) - 1))
            q_norm2 = np.einsum("ij,ij->i", Qr64, Qr64)

            def sq_score(batches):
                import pyarrow as pa

                for rb in batches:
                    if not rb.num_rows:
                        continue
                    code = _sq_code_matrix(rb, sq_bits, dim)
                    scale = np.sqrt(_arrow_f64_np(rb, "sq_dis_u_2")) / _arrow_f64_np(
                        rb, "sq_nol"
                    )
                    centered = code.astype(np.float64) + base_off
                    qid_arr = _arrow_i32(rb, "qid")
                    qids = np.asarray(qid_arr, dtype=np.int64)
                    dotq = (
                        np.einsum("ij,ij->i", centered, Qr64[qids]) * scale
                    )
                    if metric == "l2":
                        deq_n2 = (
                            np.einsum("ij,ij->i", centered, centered)
                            * scale
                            * scale
                        )
                        d = np.sqrt(
                            np.maximum(q_norm2[qids] + deq_n2 - 2.0 * dotq, 0.0)
                        )
                    elif metric == "dot":
                        d = -dotq
                    else:
                        d = 1.0 - dotq
                    yield pa.record_batch(
                        [qid_arr, _arrow_i64(rb, "id"), pa.array(d)],
                        names=["qid", "id", "dist"],
                    )

            sq_src = self._codes_df(
                probed_arr, ["id", "sq_dis_u_2", "sq_nol", "sq_code"]
            )

            def exact_dist(cand: DataFrame) -> DataFrame:
                return (
                    sq_src.join(F.broadcast(cand), "id")
                    .mapInArrow(sq_score, "qid int, id long, dist double")
                )

            return exact_dist

        if storage == "f32":
            if not meta["rerank_in_index"]:
                raise ValueError(
                    "index built with rerank_in_index=False: pass base_df"
                )
            vec_src = self._codes_df(probed_arr, ["id", "vec"])
            # binary-packed payload (CODES_SCHEMA): decode per batch and
            # replicate the JVM aggregate(zip_with) left fold exactly —
            # per-dimension f64 accumulation in index order (same IEEE
            # ops, same order, same dtypes as D.l2/D.ip), so oracle-gated
            # distances are unchanged by the storage layout
            Q64 = np.asarray(Qe, np.float64)

            def f32_fold_batch(batches):
                import pyarrow as pa

                for rb in batches:
                    if not rb.num_rows:
                        continue
                    mat = _binary_f32_matrix(rb, "vec", dim)
                    qid_arr = _arrow_i32(rb, "qid")
                    qs = Q64[np.asarray(qid_arr, np.int64)]
                    acc = np.zeros(rb.num_rows, np.float64)
                    if metric == "l2":
                        for j in range(dim):
                            t = mat[:, j] - qs[:, j]
                            acc += t * t
                        d = np.sqrt(acc)
                    else:
                        for j in range(dim):
                            acc += mat[:, j] * qs[:, j]
                        d = -acc if metric == "dot" else 1.0 + (-acc)
                    yield pa.record_batch(
                        [qid_arr, _arrow_i64(rb, "id"), pa.array(d)],
                        names=["qid", "id", "dist"],
                    )

            def exact_dist(cand: DataFrame) -> DataFrame:
                return (
                    vec_src.join(F.broadcast(cand), "id")
                    .mapInArrow(f32_fold_batch, "qid int, id long, dist double")
                )

            return exact_dist

        # f16 packed binary: decode + vectorized numpy distances
        if not meta["rerank_in_index"]:
            raise ValueError(
                "index built with rerank_in_index=False: pass base_df"
            )
        f16_src = self._codes_df(probed_arr, ["id", "vec_f16"])
        Qmat = Qe  # (nq, dim) f64, closure-captured (tiny)

        def f16_score(batches):
            import pyarrow as pa

            for rb in batches:
                if not rb.num_rows:
                    continue
                mat = _binary_f16_matrix(rb, "vec_f16", dim)
                qid_arr = _arrow_i32(rb, "qid")
                qs = Qmat[np.asarray(qid_arr, dtype=np.int64)]
                if metric == "l2":
                    d = np.sqrt(((mat - qs) ** 2).sum(axis=1))
                elif metric == "dot":
                    d = -np.einsum("ij,ij->i", mat, qs)
                else:
                    d = 1.0 - np.einsum("ij,ij->i", mat, qs)
                yield pa.record_batch(
                    [qid_arr, _arrow_i64(rb, "id"), pa.array(d)],
                    names=["qid", "id", "dist"],
                )

        def exact_dist(cand: DataFrame) -> DataFrame:
            return (
                f16_src.join(F.broadcast(cand), "id")
                .mapInArrow(f16_score, "qid int, id long, dist double")
            )

        return exact_dist

    def search_batch(
        self,
        queries: "list[list[float]] | np.ndarray",
        k: int = 10,
        probes: list[int] | int | None = None,
        epsilon: float = 1.9,
        rerank_factor: int | None = 4,
        guarantee: bool = True,
        return_rough: bool = False,
        base_df: DataFrame | None = None,
        prefilter: DataFrame | None = None,
    ) -> DataFrame:
        """Multi-query k-NN in ONE pass over the codes table.

        The Spark-native serving shape: all queries descend on the driver
        (one vectorized matmul), the union of probed clusters is scanned
        once, the Python scoring stage computes every query's rough
        estimates from a single ``bits @ QQᵀ`` matmul, and the rerank is a
        JVM expression indexing a broadcast literal array of query vectors.
        Returns (qid, id, dist, rank) with rank ≤ k per query.

        ``base_df``: rerank against this (id, vec) table instead of the
        index-stored payload (``rerank_in_table``, Q5 — the batch analogue
        of ``search(base_df=...)``; the reference's rerank heap works for
        every storage, crates/vchordrq/src/rerank.rs:113-137). Required
        when the index was built with ``rerank_in_index=False`` and
        f32/f16 storage; quantized storage reranks on its own codes.

        ``prefilter``: optional DataFrame of allowed ``id`` values applied
        BEFORE rerank for every query in the batch (the reference's
        prefilter semantics, Q9 — the batch analogue of
        ``search(prefilter=...)``; one broadcast semi-join on the shared
        scored scan).
        """
        meta = self.meta
        metric = meta["metric"]
        dim = meta["dim"]
        Qe = np.asarray(queries, np.float64)
        if Qe.ndim != 2 or Qe.shape[1] != dim:
            raise ValueError(
                f"query batch shape {Qe.shape} does not match index dimension {dim}"
            )
        if metric == "cos":
            norms = np.linalg.norm(Qe, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            Qe = Qe / norms
        Q32 = Qe.astype(np.float32)
        Q_rot = K.rotate(Q32)
        nq = len(Q32)
        if isinstance(probes, int):
            probes = [len(lv["parent"]) for lv in self.levels[:-1]] + [probes]

        n_leaves = self.meta["n_leaves"]
        probe_mask = np.zeros((n_leaves, nq), bool)
        union_probed: set[int] = set()
        for qi in range(nq):
            probed = self._descend(Q_rot[qi], probes)
            probe_mask[probed, qi] = True
            union_probed.update(int(c) for c in probed)
        if not union_probed:
            return self.spark.createDataFrame([], "qid int, id long, dist double, rank int")

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
            dis_f_all = None
            norm_all = None
        eps = float(epsilon)

        def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                bits = K.unpack_bits(list(pdf["code"]), dim)
                sums_all = bits.astype(np.int64) @ QQ.T  # (m, nq)
                m = {
                    "dis_u_2": pdf["dis_u_2"].to_numpy(np.float32),
                    "factor_cnt": pdf["factor_cnt"].to_numpy(np.float32),
                    "factor_ip": pdf["factor_ip"].to_numpy(np.float32),
                    "factor_err": pdf["factor_err"].to_numpy(np.float32),
                }
                cids = pdf["cluster_id"].to_numpy(np.int64)
                ids = pdf["id"].to_numpy(np.int64)
                delta = pdf["delta"].to_numpy(np.float32) if residual else None
                out_id, out_qid, out_lb, out_rough = [], [], [], []
                for qi in range(nq):
                    mask = probe_mask[cids, qi]
                    if not mask.any():
                        continue
                    mm = {kk: vv[mask] for kk, vv in m.items()}
                    sums = sums_all[mask, qi]
                    if residual:
                        if internal == "l2":
                            rough, err = K.rough_l2(
                                sums, mm, luts[qi],
                                dis_f=dis_f_all[qi][cids[mask]],
                                delta=delta[mask],
                            )
                        else:
                            rough, err = K.rough_dot(
                                sums, mm, luts[qi],
                                dis_f=dis_f_all[qi][cids[mask]],
                                delta=delta[mask],
                                norm=norm_all[cids[mask]],
                            )
                    else:
                        if internal == "l2":
                            rough, err = K.rough_l2(sums, mm, luts[qi])
                        else:
                            rough, err = K.rough_dot(sums, mm, luts[qi])
                    out_id.append(ids[mask])
                    out_qid.append(np.full(mask.sum(), qi, np.int32))
                    out_lb.append((rough - eps * err).astype(np.float64))
                    out_rough.append(rough.astype(np.float64))
                if not out_id:
                    continue
                yield pd.DataFrame(
                    {
                        "qid": np.concatenate(out_qid),
                        "id": np.concatenate(out_id),
                        "lb": np.concatenate(out_lb),
                        "rough": np.concatenate(out_rough),
                    }
                )

        meta_cols = [
            "id", "cluster_id", "dis_u_2", "factor_cnt",
            "factor_ip", "factor_err", "delta", "code",
        ]
        probed_arr = np.array(sorted(union_probed))
        scored = self._codes_df(probed_arr, meta_cols).mapInPandas(
            score, "qid int, id long, lb double, rough double"
        )
        if prefilter is not None:
            scored = scored.join(prefilter.select("id"), "id", "left_semi")
        from pyspark.sql import Window

        if return_rough:
            # rough-score mode (the reference's maxsim candidate pool keeps
            # ROUGH distances, scanners/maxsim.rs — exact rerank is the
            # separate `maxsim_refine` stage): top-k per query by the
            # estimator value, in the index's INTERNAL distance space
            # (squared-l2 / negated-dot)
            w0 = Window.partitionBy("qid").orderBy("rough", "id")
            return (
                scored.withColumn("rank", F.row_number().over(w0))
                .where(F.col("rank") <= k)
                .select("qid", "id", "rough")
            )

        w2 = Window.partitionBy("qid").orderBy("dist", "id")
        exact_dist = self._batch_exact_dist(probed_arr, Qe, Q_rot, base_df=base_df)

        def rerank(cand: DataFrame) -> DataFrame:
            return (
                exact_dist(cand)
                .withColumn("rank", F.row_number().over(w2))
                .where(F.col("rank") <= k)
                .orderBy("qid", "rank")
            )

        if rerank_factor is None:
            return rerank(scored.select("qid", "id"))

        scored = self._persist_scored(scored)
        w = Window.partitionBy("qid").orderBy("lb", "id")
        pass1 = (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= rerank_factor * k)
            .select("qid", "id")
        )
        if not guarantee:
            return rerank(pass1)
        # per-query guarantee pass (the batch analogue of the single-query
        # lazy-rerank contract) as ONE lazy plan: each query's k-th pass-1
        # exact distance reaches the lb filter as a broadcast nq-row join —
        # the same no-mid-plan-collect shape as the single-query path
        if metric == "l2":
            t = F.col("d_k") * F.col("d_k")
        elif metric == "cos":
            t = F.col("d_k") - F.lit(1.0)
        else:
            t = F.col("d_k")
        thresh_df = (
            rerank(pass1)
            .groupBy("qid")
            .agg(F.count(F.lit(1)).alias("n_top"), F.max("dist").alias("d_k"))
            .select(
                "qid",
                F.when(F.col("n_top") < int(k), F.lit(float("inf")))
                .otherwise(t.cast("double"))
                .alias("_thresh"),
            )
        )
        final_cand = (
            # left join: a query with NO pass-1 rows at all has no threshold
            # row — treat as +inf (rerank everything it scored)
            scored.join(F.broadcast(thresh_df), "qid", "left")
            .where(F.col("lb") <= F.coalesce(F.col("_thresh"), F.lit(float("inf"))))
            .select("qid", "id")
            .unionAll(pass1)
            .distinct()
        )
        return rerank(final_cand)

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
    # Lifecycle (insert / delete / compact / prewarm / recall)
    # ------------------------------------------------------------------

    def insert(self, df: DataFrame, id_col: str = "id", vec_col: str = "vec") -> None:
        """Append new rows (encode with the existing centroid tree — the
        batch analogue of the appendable-tape insert path)."""
        src = df.where(F.col(vec_col).isNotNull()).select(
            F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
        )
        if self.meta["metric"] == "cos":
            src = src.select("id", D.normalize("vec").cast("array<float>").alias("vec"))
        self._encode_and_write(src, mode="append")
        self._cluster_sizes = None
        self._codes_base_cache = None

    def delete(self, ids: "list[int] | DataFrame") -> None:
        """Logical delete via tombstones (vacuum happens in compact())."""
        if isinstance(ids, DataFrame):
            tomb = ids.select(F.col(ids.columns[0]).cast("long").alias("id"))
        else:
            tomb = self.spark.createDataFrame([(int(i),) for i in ids], "id long")
        tomb.write.mode("append").parquet(self._tombstones_path)
        self._cluster_sizes = None
        self._codes_base_cache = None

    def compact(self) -> None:
        """Rewrite codes without tombstoned rows and re-coalesce files
        (the reference's maintain/vacuum pass as an OPTIMIZE-style job).

        The *previous* codes directory is kept until the next compact so
        that lazy DataFrames returned by earlier ``search()`` calls remain
        collectable (snapshot-ish semantics); only the version before that
        is reclaimed. The cached scored DF is unpersisted since it
        references the old files."""
        old_version = self.meta["codes_version"]
        # capture the OLD path before bumping the version (read.parquet
        # resolves the path eagerly, so the lazy plan keeps reading v_old
        # while _write_codes targets v_new)
        df = self.spark.read.parquet(self.codes_path)
        if os.path.exists(self._tombstones_path):
            tomb = self.spark.read.parquet(self._tombstones_path)
            df = df.join(F.broadcast(tomb), "id", "left_anti")
        self.meta["codes_version"] = old_version + 1
        self._write_codes(df, "overwrite")
        with open(os.path.join(self.path, "meta.json"), "w") as f:
            json.dump(self.meta, f)
        prev = getattr(self, "_last_scored", None)
        if prev is not None:
            prev.unpersist()
            self._last_scored = None
        # reclaim the version *before* the one we just superseded
        shutil.rmtree(
            os.path.join(self.path, f"codes_v{old_version - 1}"), ignore_errors=True
        )
        shutil.rmtree(self._tombstones_path, ignore_errors=True)
        self._cluster_sizes = None
        self._codes_base_cache = None

    def prewarm(self) -> int:
        """Cache the codes table in executor memory (S11)."""
        df = self.spark.read.parquet(self.codes_path)
        df.cache()
        return df.count()

    def cluster_sizes(self) -> dict[int, int]:
        """Tuple count per leaf cell (cached; the analogue of the jump
        tuples' counts used by maxsim threshold estimation). Tombstoned
        rows are excluded — after delete() the estimation counts stay
        accurate without waiting for compact()."""
        if getattr(self, "_cluster_sizes", None) is None:
            df = self.spark.read.parquet(self.codes_path)
            if os.path.exists(self._tombstones_path):
                tomb = self.spark.read.parquet(self._tombstones_path)
                df = df.join(F.broadcast(tomb), "id", "left_anti")
            rows = df.groupBy("cluster_id").count().collect()
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
        meta = self.meta
        metric = meta["metric"]
        q = np.asarray(query, np.float64)
        if metric == "cos":
            n = np.linalg.norm(q)
            if n > 0:
                q = q / n
        q_rot = K.rotate(q.astype(np.float32)).astype(np.float64)
        if isinstance(probes, int):
            probes = [len(lv["parent"]) for lv in self.levels[:-1]] + [probes]
        probed = set(int(c) for c in self._descend(q_rot.astype(np.float32), probes))
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

    # ------------------------------------------------------------------
    # Query sampling / monitoring (S14): enable_query_sampling /
    # _maybe_record_query / sampled_queries come from the shared
    # QuerySampling mixin (operators/sampling.py) — one implementation
    # for the IVF and graph indexes
    # ------------------------------------------------------------------

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
        ann = self.search(
            query, k=k, probes=probes, epsilon=epsilon, rerank_factor=rerank_factor
        )
        accu = self.search(query, k=k, probes=None, epsilon=1.9, rerank_factor=None)
        ann_ids = {r.id for r in ann.collect()}
        accu_ids = {r.id for r in accu.collect()}
        if not accu_ids:
            return float("nan")
        return len(ann_ids & accu_ids) / float(len(accu_ids))
