"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload ivf_serve --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` installs span wrappers and Spark counters and prints
the per-layer metrics instead (see README.md). Everything the run writes
goes under ``.perfbench_work/`` in the checkout: scratch data, Spark's
local and temp directories (deleted at exit), and each run's results and
spans (kept, so a traced run can report its overhead against the untraced
run of the same workload and seed).
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def main() -> int:
    args = parse_args()
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("vectorchord_spark") is None:
        print(f"vectorchord_spark not found under {ROOT}", file=sys.stderr)
        return 2

    import hoststamp
    import workloads
    from tracing import NullTracer, Tracer, install_wrappers

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(base, f"{tag}-{os.getpid()}")
    results = os.path.join(base, "results")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(results, exist_ok=True)
    # keep every file Spark, the JVM and Python write inside the checkout
    os.environ["TMPDIR"] = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's launcher JVM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    nproc = hoststamp.nproc()
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)

    host_before = hoststamp.stamp()
    tracer = Tracer() if args.trace else NullTracer()
    from vectorchord_spark.session import get_spark

    with tracer.span("session.get_spark", request="setup"):
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{nproc}]",
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.driver.extraJavaOptions": java_opts,
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    jvm = sc._gateway.proc
    try:
        if args.trace:
            tracer.sc = sc
            install_wrappers(tracer)
        run = workloads.Run(spark, tracer, args.seed, args.seconds, work, T0)
        metrics, attempted, failed, ok, info = workloads.WORKLOADS[args.workload](run)
    finally:
        spark.stop()
        sc._gateway.shutdown()
        jvm.stdin.close()
        jvm.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)
    host_after = hoststamp.stamp()

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "end_to_end": metrics,
        "attempted": attempted,
        "failed": failed,
        "info": info,
        "host": {
            "before": host_before,
            "after": host_after,
            "steal_share": hoststamp.steal_share(host_before["jiffies"], host_after["jiffies"]),
        },
    }
    if args.trace:
        layers = workloads.layer_metrics(tracer)
        record["per_layer"] = layers
        record["self_s"] = tracer.self_times()
        untraced = os.path.join(results, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            plain = json.load(open(untraced))["end_to_end"]
            record["tracing_overhead"] = {k: metrics[k] - plain[k] for k in metrics}
        tracer.write(os.path.join(results, f"{tag}.spans.jsonl"))
        units = dict(workloads.LAYER_METRICS)
        reported = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
    else:
        units = workloads.END_TO_END_UNITS
        reported = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)

    print("# host " + json.dumps(record["host"]))
    print("# info " + json.dumps(info))
    if args.trace:
        print("# self_s " + json.dumps(record["self_s"]))
        if "tracing_overhead" in record:
            print("# tracing_overhead " + json.dumps(record["tracing_overhead"]))
    print(
        json.dumps(
            {
                "correct": bool(ok and failed == 0),
                "attempted": attempted,
                "failed": failed,
                "metrics": reported,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
