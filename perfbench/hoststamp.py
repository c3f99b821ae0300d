"""Host diagnostics printed beside each run's results (not metrics).

A slow or shared host shows here first: core count, load average, and a
short single-thread and all-thread f32 GEMM rate taken before and after
the run.
"""

from __future__ import annotations

import os
import time

import numpy as np


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def gemm_gflops(threads: int, seconds: float = 0.1, n: int = 384) -> float:
    """f32 n×n matmul rate over ~``seconds`` with BLAS at ``threads``."""
    from vectorchord_spark import kernels

    a = np.random.default_rng(0).standard_normal((n, n)).astype(np.float32)
    prev = kernels.set_blas_threads(threads)
    try:
        a @ a
        reps, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            a @ a
            reps += 1
        wall = time.perf_counter() - t0
    finally:
        if prev is not None:
            kernels.set_blas_threads(prev)
    return 2.0 * n**3 * reps / wall / 1e9


def cpu_jiffies() -> dict:
    """Host-wide CPU time by kind from /proc/stat; ``steal`` is time the
    hypervisor ran something else while this machine's vCPUs waited."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return dict(zip(names, fields))


def steal_share(before: dict, after: dict) -> float:
    """Share of CPU time stolen by the hypervisor between two readings."""
    delta = {k: after[k] - before[k] for k in before}
    total = sum(delta.values())
    return delta["steal"] / total if total else 0.0


def stamp() -> dict:
    cores = nproc()
    return {
        "nproc": cores,
        "loadavg": list(os.getloadavg()),
        "jiffies": cpu_jiffies(),
        "gemm_gflops_1t": round(gemm_gflops(1), 2),
        f"gemm_gflops_{cores}t": round(gemm_gflops(cores), 2),
    }
