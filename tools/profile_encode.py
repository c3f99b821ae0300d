"""Decompose the IVF encode STAGE into its data-motion terms (r06 verdict
next-round #2: the stage runs ~44k rows/s while its kernels aggregate
~444k — find where the other 10x goes).

Runs the same synthetic workload as profile_build.py (ROWS x DIM, default
1M x 768), builds the index once, then re-times the encode pipeline with
progressively more of the sink enabled:

  A  src -> noop               JVM scan of the cached source (feed floor)
  B  encode -> noop            + Arrow feed both ways + worker compute
  C  encode -> shuffle -> noop + the cluster-range repartition / sort
  D  encode -> full write      + parquet encode to disk (the real sink)

(B - A) is the Python crossing + compute, (C - B) the shuffle+sort,
(D - C) the parquet term. Prints a bytes/s figure per term against the codes payload
size. Diagnostic only."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import time
from typing import Iterator

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd


def _cleanup_tmpdir(path: str) -> None:
    """Delete a profiling index dir at exit unless VC_KEEP_TMP=1.

    These runs write multi-GB codes dirs; a round of repeated profiling
    filled the disk to 99% (which itself degrades every write-heavy
    measurement) before this existed."""
    import atexit
    import os as _os
    import shutil

    if _os.environ.get("VC_KEEP_TMP") != "1":
        root = (
            _os.path.dirname(path)
            if _os.path.basename(path) in ("idx", "gidx")
            else path
        )
        atexit.register(shutil.rmtree, root, ignore_errors=True)


def main() -> None:
    from pyspark.sql import functions as F

    from vectorchord_spark import IvfIndex, IvfOptions
    from vectorchord_spark.session import get_spark

    n_rows = int(os.environ.get("ROWS", "1000000"))
    dim = int(os.environ.get("DIM", "768"))
    reps = int(os.environ.get("REPS", "2"))
    spark = get_spark(app_name="vc-encode-profile")

    n_centers = 2000
    centers = np.random.default_rng(77).standard_normal((n_centers, dim)) * 2.0

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy(np.int64)
            rng = np.random.default_rng(ids[0] if len(ids) else 0)
            noise = 0.25 * rng.standard_normal((len(ids), dim))
            vecs = (centers[ids % n_centers] + noise).astype(np.float32)
            yield pd.DataFrame({"id": ids, "vec": list(vecs)})

    df = (
        spark.range(n_rows, numPartitions=32)
        .mapInPandas(gen, "id long, vec array<float>")
        .persist()
    )
    df.count()
    src = df.where(F.col("vec").isNotNull()).select(
        F.col("id").cast("long").alias("id"), F.col("vec").alias("vec")
    )

    n_lists = max(16, int(n_rows**0.5))
    opts = IvfOptions(
        metric="l2", lists=[n_lists], build_hierarchical=True, sampling_factor=64
    )
    path = tempfile.mkdtemp(prefix="vc_encprof_") + "/idx"
    _cleanup_tmpdir(path)
    t0 = time.perf_counter()
    idx = IvfIndex.build(spark, df, "id", "vec", path, opts)
    t_build = time.perf_counter() - t0
    codes_bytes = int(
        subprocess.check_output(["du", "-sb", idx.codes_path]).split()[0]
    )
    print(
        f"build total {t_build:.1f}s ({n_rows / t_build:,.0f} rows/s); "
        f"codes payload {codes_bytes / 1e9:.2f} GB"
    )

    orig_write = IvfIndex._write_codes

    def run(label: str, write_fn) -> float:
        best = float("inf")
        for _ in range(reps):
            IvfIndex._write_codes = write_fn
            t0 = time.perf_counter()
            try:
                idx._encode_and_write(src, mode="overwrite")
            finally:
                IvfIndex._write_codes = orig_write
            best = min(best, time.perf_counter() - t0)
        print(f"{label}: {best:.2f}s  ({n_rows / best:,.0f} rows/s)")
        return best

    # A: JVM-only source pass (no Python) — monkeypatch not needed
    best_a = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        src.write.format("noop").mode("overwrite").save()
        best_a = min(best_a, time.perf_counter() - t0)
    print(f"A src->noop          : {best_a:.2f}s")

    def write_noop(self, encoded, mode):
        encoded.write.format("noop").mode("overwrite").save()

    def write_shuffle_noop(self, encoded, mode):
        n_leaves = int(self.meta["n_leaves"])
        n_out = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        n_out = max(1, min(n_out, n_leaves))
        (
            encoded.repartition(
                n_out,
                F.expr(f"cast(cluster_id as bigint) * {n_out} div {n_leaves}"),
            )
            .sortWithinPartitions("cluster_id", "id")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    b = run("B encode->noop      ", write_noop)
    c = run("C encode->shuf->noop", write_shuffle_noop)
    d = run("D encode->full write", orig_write)

    gb = codes_bytes / 1e9
    print(
        f"\nterms: feed+compute {b - best_a:.2f}s | shuffle+sort {c - b:.2f}s "
        f"({gb / max(c - b, 1e-9):.2f} GB/s) | parquet {d - c:.2f}s "
        f"({gb / max(d - c, 1e-9):.2f} GB/s)"
    )
    spark.stop()


if __name__ == "__main__":
    main()
