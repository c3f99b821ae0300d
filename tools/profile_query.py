"""Isolated steady-state timing for catalog entries (r05 verdict #6).

Runs each named headline entry N consecutive times (bench serving shape,
nothing else on the machine) and prints per-run times plus min/median.
Absolute bench medians on
this container swing up to 4x same-day (docs/SCALE.md), so apparent
regressions are confirmed or cleared HERE, not from two rounds' bench
lines.

Usage:
  python tools/profile_query.py sessionize q1_pricing asof_join
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/profile_query.py ...
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    from vectorchord_spark.queries import catalog, serving_overrides
    from vectorchord_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n = int(os.environ.get("RUNS", "6"))
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    if not names:
        sys.exit("usage: profile_query.py <entry> [entry...]")

    from window_probe import probe  # same dir; sys.path set below

    spark = get_spark(app_name="vc-query-profile")
    spark.sparkContext.setLogLevel("ERROR")
    p = probe()
    print(
        f"window: solo={p['solo_rotate_rows_per_s']:,} "
        f"parallel_scale_24t={p['parallel_scale_24t']} (clean ~18-22)",
        flush=True,
    )
    cat = catalog()
    serving = serving_overrides()
    unknown = [x for x in names if x not in cat]
    if unknown:
        sys.exit(f"unknown catalog entries: {unknown}")

    # one cheap action to warm parquet footers / JVM
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    for name in names:
        fn = serving.get(name, cat[name].fn)
        fn(spark, sf_dir).count()  # cold run pays codegen/worker spawn
        times = []
        for _ in range(n):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            times.append(time.perf_counter() - t0)
        print(
            f"{name:24s} runs=" + " ".join(f"{t:.3f}" for t in times)
            + f"  min={min(times):.3f} median={statistics.median(times):.3f}",
            flush=True,
        )
    p = probe()
    print(
        f"window(end): solo={p['solo_rotate_rows_per_s']:,} "
        f"parallel_scale_24t={p['parallel_scale_24t']}",
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
