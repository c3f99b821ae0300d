"""Profile the IVF build phases (sample / k-means / encode+write) on the
bench's synthetic 250k x 64d workload to locate the throughput bottleneck.
Diagnostic only."""

from __future__ import annotations

import os
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
    from pyspark.sql import functions as F  # noqa: F401

    from vectorchord_spark import IvfIndex, IvfOptions
    from vectorchord_spark.session import get_spark

    n_rows = int(os.environ.get("ROWS", "250000"))
    dim = int(os.environ.get("DIM", "64"))

    # window-quality canary: single-thread rotate throughput. The shared
    # host's CPU allocation swings 1.5-4x between minutes (docs/SCALE.md
    # host-variance protocol), so every recorded build number should
    # carry the canary that contextualizes it.
    from vectorchord_spark import kernels as K

    prev = K.set_blas_threads(1)
    cm = np.random.default_rng(0).standard_normal((20000, dim)).astype(np.float32)
    best = min(
        (lambda t0: (K.rotate(cm), time.perf_counter() - t0)[1])(time.perf_counter())
        for _ in range(3)
    )
    if prev is not None and prev > 1:
        K.set_blas_threads(prev)
    print(f"canary: rotate 20k x {dim}d 1-thread best {best:.3f}s "
          f"({20000 / best:,.0f} rows/s)")

    # disk-window canary: fsync'd write throughput to the index tempdir's
    # filesystem. The virtio disk swings 0.04-0.2 GB/s between windows
    # independently of the CPU canary (a 74k-rows/s CPU window measured a
    # 44s encode against a 0.06 GB/s disk), so both axes must be recorded.
    buf = os.urandom(128 * 1024 * 1024)
    cpath = os.path.join(tempfile.gettempdir(), "_vc_disk_canary.bin")
    t0 = time.perf_counter()
    with open(cpath, "wb") as f:
        f.write(buf)
        f.flush()
        os.fsync(f.fileno())
    dt = time.perf_counter() - t0
    os.remove(cpath)
    print(f"canary: write+fsync 128MB {dt:.2f}s ({0.125 / dt:.2f} GB/s) "
          f"to {tempfile.gettempdir()}")

    # UI on: the post-build stage-metrics dump needs the REST endpoint
    spark = get_spark(
        app_name="vc-build-profile",
        extra_conf={"spark.ui.enabled": "true"},
    )

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

    n_lists = max(16, int(n_rows**0.5))
    opts = IvfOptions(
        metric="l2", lists=[n_lists], build_hierarchical=True, sampling_factor=64
    )

    # instrument build phases by monkeypatching
    import vectorchord_spark.operators.ivf as ivf_mod
    import vectorchord_spark.operators.kmeans as km_mod

    t_marks = {}
    orig_hier = km_mod.hierarchical
    orig_encode = IvfIndex._encode_and_write
    orig_sample = ivf_mod.bounded_sample_vectors

    def timed_sample(*a, **kw):
        t0 = time.perf_counter()
        r = orig_sample(*a, **kw)
        t_marks["sample"] = time.perf_counter() - t0
        return r

    ivf_mod.bounded_sample_vectors = timed_sample

    def timed_hier(*a, **kw):
        t0 = time.perf_counter()
        r = orig_hier(*a, **kw)
        t_marks["kmeans"] = time.perf_counter() - t0
        return r

    def timed_encode(self, src, mode):
        t0 = time.perf_counter()
        r = orig_encode(self, src, mode)
        t_marks["encode"] = time.perf_counter() - t0
        return r

    km_mod.hierarchical = timed_hier
    ivf_mod.KM.hierarchical = timed_hier
    IvfIndex._encode_and_write = timed_encode

    path = tempfile.mkdtemp(prefix="vc_profile_") + "/idx"
    _cleanup_tmpdir(path)
    t0 = time.perf_counter()
    IvfIndex.build(spark, df, "id", "vec", path, opts)
    total = time.perf_counter() - t0
    sample_etc = total - t_marks.get("kmeans", 0) - t_marks.get("encode", 0)
    print(
        f"rows={n_rows} total={total:.1f}s ({n_rows / total:,.0f} rows/s) | "
        f"sample+misc={sample_etc:.1f}s (sample={t_marks.get('sample', 0):.1f}s) "
        f"kmeans={t_marks.get('kmeans', 0):.1f}s "
        f"encode={t_marks.get('encode', 0):.1f}s"
    )

    # per-stage CPU accounting (shuffle serialization, the Tungsten sort
    # and parquet encoding are JVM task-thread work, next to the Python
    # worker's encode): pull per-stage
    # executorCpuTime/executorRunTime from the local UI REST API so the
    # CPU-sum floor table covers BOTH sides.
    try:
        import json as _json
        import urllib.request as _rq

        base = "http://localhost:4040/api/v1"
        apps = _json.load(_rq.urlopen(f"{base}/applications", timeout=5))
        app = apps[0]["id"]
        stages = _json.load(
            _rq.urlopen(f"{base}/applications/{app}/stages?status=complete", timeout=5)
        )
        rows = sorted(
            (
                (
                    s["stageId"],
                    s.get("executorCpuTime", 0) / 1e9,
                    s.get("executorRunTime", 0) / 1e3,
                    s["name"].split("\n")[0][:48],
                )
                for s in stages
            ),
            key=lambda r: -r[1],
        )
        tot_cpu = sum(r[1] for r in rows)
        tot_run = sum(r[2] for r in rows)
        print(
            f"jvm-stage-metrics: total executorCpuTime {tot_cpu:.1f} CPU-s, "
            f"executorRunTime {tot_run:.1f} task-s; top stages:"
        )
        for sid, cpu, run, name in rows[:6]:
            print(f"  stage {sid}: cpu {cpu:.1f}s run {run:.1f}s  {name}")
    except Exception as e:  # REST UI disabled or port taken — diagnostic only
        print(f"jvm-stage-metrics: unavailable ({e})")
    spark.stop()


if __name__ == "__main__":
    main()
