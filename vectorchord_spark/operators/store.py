"""The index directory layout, and the base class of the indexes stored
in one. Every file-system call on an index directory is made here
(``tests/test_store_lint.py``), so another file system is a change here.

- ``meta.json``: options, current version and the version's own records
  (graph ``shard_rows``), committed whole by :func:`write_meta`.
- versioned data, ``codes_v{n}`` (IVF) or ``graph``/``graph_v{n}`` (one
  ``shard=`` directory per shard). A commit keeps the version it
  supersedes, so a lazy DataFrame survives one DML operation, and
  deletes the one before.
- ``tombstones/``: ids deleted since the last ``compact``.
- ``sampled_queries/``: the query log (S14); ``_stream_epochs/``:
  streaming-insert epoch markers; IVF ``centroids.parquet``.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def write_meta(path: str, meta: dict) -> None:
    """Commit ``meta`` as the index's ``meta.json``: write a temp file,
    then rename it over the old one, so a failed write leaves the
    previous meta in place."""
    final = os.path.join(path, "meta.json")
    tmp = final + ".tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, final)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


def link_shards(old: str, new: str, skip: set[int]) -> None:
    """Carry the ``shard=`` directories of version ``old`` that are not in
    ``skip`` into version ``new`` by hardlinking their files (copying
    where the file system cannot link) — locally, the analogue of a
    metastore partition-pointer swap."""
    for entry in os.listdir(old):
        if not entry.startswith("shard="):
            continue
        if int(entry.split("=", 1)[1]) in skip:
            continue
        src_dir = os.path.join(old, entry)
        dst_dir = os.path.join(new, entry)
        os.makedirs(dst_dir, exist_ok=True)
        for f_name in os.listdir(src_dir):
            src, dst = os.path.join(src_dir, f_name), os.path.join(dst_dir, f_name)
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)


def files_fingerprint(data_dir: str, names: "list[str] | None" = None) -> tuple:
    """The identity of a data directory's files: ``(name, device, inode,
    size, mtime_ns)`` per file. ``names`` None lists the directory's data
    files, sorted by name (hidden ``.`` and ``_`` files, which Parquet
    readers skip, are left out); a list of names stats exactly those, so
    a reader can check that the files it captured are still there. A
    rewrite changes the fingerprint; a hardlinked carry-over into a later
    version keeps it. A missing directory or named file raises
    ``FileNotFoundError``."""
    if names is None:
        names = sorted(n for n in os.listdir(data_dir) if not n.startswith((".", "_")))
    out = []
    for name in names:
        st = os.stat(os.path.join(data_dir, name))
        out.append((name, st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns))
    return tuple(out)


class StoredIndex:
    """An index opened from its directory: meta, version commits,
    tombstones, the query log and streaming epoch markers, shared by
    ``IvfIndex`` and ``VamanaIndex``.

    Query sampling and replay follow S14 — vchordrq_sampled_queries,
    the reference's sql/install/vchord--1.1.1.sql:936-1013, with the
    Bernoulli rate and ``max_records`` cap of src/index/gucs.rs:30-34.
    Each single-query ``search`` calls ``_maybe_record_query``; the log
    feeds recall evaluation and probe/beam tuning (tools/tune_probes.py)."""

    def __init__(self, spark: SparkSession, path: str):
        from vectorchord_spark.session import ensure_worker_imports

        ensure_worker_imports(spark)
        self.spark = spark
        self.path = path
        with open(os.path.join(path, "meta.json")) as f:
            self.meta = json.load(f)
        self._sampled_count: int | None = None
        self._invalidate()

    def _commit(self, stale: str | None, vacuum: bool = False) -> None:
        """Commit ``self.meta`` (one atomic write), then delete the
        directory ``stale`` — the version before the one just superseded
        — and, for a compaction (``vacuum``), the tombstones it applied."""
        write_meta(self.path, self.meta)
        if stale is not None:
            shutil.rmtree(os.path.join(self.path, stale), ignore_errors=True)
        if vacuum:
            shutil.rmtree(self._tombstones_path, ignore_errors=True)
        self._invalidate()

    def _invalidate(self) -> None:
        """Forget plans built over files a DML operation has changed: a
        cached plan's file list is resolved at analysis time and goes
        stale."""
        self._tombstones_cache = None
        self._tombstone_ids_cache = None

    @property
    def _tombstones_path(self) -> str:
        return os.path.join(self.path, "tombstones")

    def delete(self, ids: "list[int] | DataFrame") -> None:
        """Logical delete via tombstones: the rows stay in the index
        (graph vertices stay traversal waypoints) but leave every result;
        ``compact()`` vacuums them."""
        if isinstance(ids, DataFrame):
            tomb = ids.select(F.col(ids.columns[0]).cast("long").alias("id"))
        else:
            tomb = self.spark.createDataFrame([(int(i),) for i in ids], "id long")
        tomb.write.mode("append").parquet(self._tombstones_path)
        self._invalidate()

    def _tombstones_df(self) -> DataFrame | None:
        """The tombstoned ids as a cached lazy DataFrame, None when there
        are none."""
        if not os.path.exists(self._tombstones_path):
            return None
        if self._tombstones_cache is None:
            self._tombstones_cache = self.spark.read.parquet(self._tombstones_path)
        return self._tombstones_cache

    def _tombstone_ids(self) -> np.ndarray | None:
        """The tombstoned ids as a sorted int64 array read with pyarrow
        (NULL ids, which match nothing, left out), cached until
        ``_invalidate``; None when there are none."""
        if not os.path.exists(self._tombstones_path):
            return None
        if self._tombstone_ids_cache is None:
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            col = pq.read_table(self._tombstones_path, columns=["id"]).column("id")
            ids = pc.drop_null(col).to_numpy().astype(np.int64)
            self._tombstone_ids_cache = np.unique(ids)
        return self._tombstone_ids_cache if len(self._tombstone_ids_cache) else None

    def enable_query_sampling(self, rate: float = 1.0, max_records: int = 1000) -> None:
        meta = dict(
            self.meta, sampling_rate=float(rate), sampling_max_records=int(max_records)
        )
        write_meta(self.path, meta)
        self.meta = meta

    @property
    def _queries_log_path(self) -> str:
        return os.path.join(self.path, "sampled_queries")

    def _maybe_record_query(self, q: np.ndarray) -> None:
        rate = self.meta.get("sampling_rate")
        if not rate:
            return
        # per-execution Bernoulli draw (matches the reference's sampling
        # semantics; a hot repeated query is sampled at the same rate as
        # any other execution)
        if np.random.random() >= rate:
            return
        if self._sampled_count is None:
            self._sampled_count = self.sampled_queries().count()
        if self._sampled_count >= self.meta["sampling_max_records"]:
            return
        row = [([float(x) for x in q],)]
        self.spark.createDataFrame(row, "query array<float>").write.mode(
            "append"
        ).parquet(self._queries_log_path)
        self._sampled_count += 1

    def sampled_queries(self) -> DataFrame:
        """The recorded query vectors (empty DataFrame when none logged)."""
        if not os.path.exists(self._queries_log_path):
            return self.spark.createDataFrame([], "query array<float>")
        return self.spark.read.parquet(self._queries_log_path)

    @staticmethod
    def _top_per_query(df: DataFrame, n: int, *order: str, rank: str = "rank") -> DataFrame:
        """Each qid's first ``n`` rows by ``order``, numbered in column
        ``rank``: the per-query merge of every ``search_batch``."""
        w = Window.partitionBy("qid").orderBy(*order)
        return df.withColumn(rank, F.row_number().over(w)).where(F.col(rank) <= int(n))

    @staticmethod
    def _recall(ann: DataFrame, exact: DataFrame) -> float:
        """recall@k of an ANN result against the exhaustive one, by id
        (S13, the reference's sql/install/vchord--1.1.1.sql:1021-1092).
        NaN when the exhaustive result is empty (reference edge case)."""
        ann_ids = {r.id for r in ann.collect()}
        exact_ids = {r.id for r in exact.collect()}
        if not exact_ids:
            return float("nan")
        return len(ann_ids & exact_ids) / float(len(exact_ids))

    def _epoch_done(self, marker: str) -> bool:
        return os.path.exists(os.path.join(self.path, "_stream_epochs", marker))

    def _mark_epoch_done(self, marker: str) -> None:
        marker_dir = os.path.join(self.path, "_stream_epochs")
        os.makedirs(marker_dir, exist_ok=True)
        with open(os.path.join(marker_dir, marker), "w") as f:
            f.write("done")
