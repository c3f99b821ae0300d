"""The benchmark's workloads: seeded inputs, set-up, a timed closed loop,
and an oracle check of every timed result outside the timed region.

Every workload returns ``(metrics, attempted, failed, ok, info)`` with the
same end-to-end metric set (README.md says what each metric means on each
workload); a traced run's per-layer numbers come from its spans through
:func:`layer_metrics`.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import checks
from tracing import COUNTERS

K = 10  # neighbours per query
MIN_RECALL = 0.9  # a run below this is reported as incorrect

END_TO_END_UNITS = {
    "setup_s": "s",
    "build_rows_per_s": "rows/s",
    "query_p50_ms": "ms",
    "throughput": "1/s",
    "recall": "fraction",
    "bytes_per_input_byte": "ratio",
}


class Run:
    """What one invocation needs: its Spark session, tracer, seed, run
    length and a scratch directory inside the checkout."""

    def __init__(self, spark, tracer, seed: int, seconds: float, work: str, t0: float):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.t0 = t0  # epoch seconds at process start
        self.nproc = len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------


def clustered(rng, centres: np.ndarray, labels: np.ndarray, spread: float) -> np.ndarray:
    """Points around planted centres. The package's ``sf*`` embeddings are
    uniform, which makes probing meaningless; clustered data is what an
    IVF or graph index is built for."""
    noise = rng.standard_normal((len(labels), centres.shape[1]), dtype=np.float32)
    return (centres[labels] + spread * noise).astype(np.float32)


def write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray, files: int) -> None:
    """(id long, vec array<float>) Parquet, split into ``files`` files so
    the scan runs in parallel."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    d = vecs.shape[1]
    for f, part in enumerate(np.array_split(np.arange(len(ids)), files)):
        flat = pa.array(vecs[part].reshape(-1), pa.float32())
        offsets = pa.array(np.arange(0, len(part) * d + 1, d, dtype=np.int32))
        table = pa.table(
            {
                "id": pa.array(ids[part], pa.int64()),
                "vec": pa.ListArray.from_arrays(offsets, flat),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# ---------------------------------------------------------------------------
# Closed-loop ANN serving shared by ivf_serve and graph_serve
# ---------------------------------------------------------------------------


def serve(run: Run, layer: str, search, pool: np.ndarray) -> dict:
    """One closed-loop client: the next query is sent only after the last
    one returned, until ``run.seconds`` have passed. Returns latencies and
    the answers, which are checked after the loop."""
    answers: list = []  # (query index, latency s, ids, dists)
    errors: list = []  # (query index, message)
    start = time.perf_counter()
    i = 0
    while time.perf_counter() < start + run.seconds:
        try:
            with run.tracer.span(layer, request=f"q{i}"):
                t0 = time.perf_counter()
                with run.tracer.span(f"{layer}.call"):
                    df = search(pool[i % len(pool)])
                with run.tracer.span(f"{layer}.collect"):
                    rows = df.collect()
                lat = time.perf_counter() - t0
        except Exception as e:  # a failed query is counted, not fatal
            errors.append((i, repr(e)))
        else:
            answers.append((i, lat, [r["id"] for r in rows], [r["dist"] for r in rows]))
        i += 1
    return {"answers": answers, "errors": errors, "wall": time.perf_counter() - start}


def score_serving(served: dict, pool, live, build_s, n_rows, index_path, setup_s):
    """Oracle-check every answer and turn the loop into end-to-end metrics.
    The exact top-k is computed here, after the loop, and only for the
    queries that were sent."""
    failures = [msg for _, msg in served["errors"]]
    lat, recalls = [], []
    truth: dict[int, np.ndarray] = {}
    for i, seconds, ids, dists in served["answers"]:
        j = i % len(pool)
        why = checks.check_knn(ids, dists, pool[j], K, live)
        if why is not None:
            failures.append(f"query {i}: {why}")
            continue
        if j not in truth:
            truth[j] = live.top_k(pool[j], K)
        lat.append(seconds)
        recalls.append(checks.recall_at_k(ids, truth[j], K))
    attempted = len(served["answers"]) + len(served["errors"])
    recall = statistics.fmean(recalls) if recalls else 0.0
    metrics = {
        "setup_s": setup_s,
        "build_rows_per_s": n_rows / build_s,
        "query_p50_ms": 1e3 * statistics.median(lat) if lat else float("nan"),
        "throughput": len(lat) / served["wall"],
        "recall": recall,
        "bytes_per_input_byte": dir_bytes(index_path) / (len(live) * live.vecs.shape[1] * 4),
    }
    tail = checks.tail_percentile(lat)
    info = {
        "samples": len(lat),
        "latencies_ms": [round(1e3 * x) for x in lat],
        "tail": None if tail is None else {"percentile": tail[0], "ms": 1e3 * tail[1]},
        "failures": failures[:5],
    }
    return metrics, attempted, len(failures), recall >= MIN_RECALL, info


def warm_up(search, queries: np.ndarray, tracer) -> None:
    """Untimed queries: Python workers, JIT and the index's lazily loaded
    state are ready before the clock starts."""
    for j, q in enumerate(queries):
        with tracer.span("warmup", request=f"warmup{j}"):
            search(q).collect()


# ---------------------------------------------------------------------------
# ivf_serve
# ---------------------------------------------------------------------------

#: 40k × 64d around 400 centres: a 300k corpus takes ~40 s to generate and
#: build on a 4-core host, which would not fit the run budget of three
#: workloads. With lists = √n = 200, the 48 probed cells hold ~9.6k rows,
#: over search()'s 8,192-row cheap_threshold, so the RaBitQ rough-scoring
#: path runs rather than the short circuit. One client: a rough-path query
#: is 1–2 s here, and two clients sharing 4 cores doubled each latency and
#: its run-to-run spread.
IVF_ROWS, IVF_DIM, IVF_CENTRES, IVF_SPREAD = 40_000, 64, 400, 1.0
IVF_PROBES = 48


def ivf_serve(run: Run) -> tuple:
    """Main user path: single top-k queries from one closed-loop client.
    Queries are held-out points drawn Zipf-skewed over the centres, so
    probed cells repeat across queries."""
    from vectorchord_spark.operators.ivf import IvfIndex, IvfOptions

    rng = np.random.default_rng(run.seed)
    centres = rng.standard_normal((IVF_CENTRES, IVF_DIM), dtype=np.float32)
    labels = rng.integers(0, IVF_CENTRES, IVF_ROWS)
    ids = np.arange(IVF_ROWS, dtype=np.int64)
    vecs = clustered(rng, centres, labels, IVF_SPREAD)
    weights = 1.0 / np.arange(1, IVF_CENTRES + 1) ** 1.1
    zipf = rng.permutation(IVF_CENTRES)[
        rng.choice(IVF_CENTRES, size=300, p=weights / weights.sum())
    ]
    pool = clustered(rng, centres, zipf, IVF_SPREAD)
    src = os.path.join(run.work, "corpus")
    write_vectors(src, ids, vecs, run.nproc)
    path = os.path.join(run.work, "ivf_index")
    spark, tr = run.spark, run.tracer

    opts = IvfOptions(lists=[int(round(IVF_ROWS**0.5))], seed=run.seed)
    with tr.span("ivf.build", request="build"):
        t0 = time.perf_counter()
        index = IvfIndex.build(spark, spark.read.parquet(src), "id", "vec", path, opts)
        build_s = time.perf_counter() - t0
    live = checks.LiveSet(ids, vecs)

    def search(q):
        return index.search(q, k=K, probes=IVF_PROBES)

    # two warm-up queries: after one, the first timed query still ran
    # ~15% slower than the rest
    warm_up(search, pool[-2:], tr)
    setup_s = time.time() - run.t0
    served = serve(run, "ivf.search", search, pool)
    return score_serving(served, pool, live, build_s, IVF_ROWS, path, setup_s)


# ---------------------------------------------------------------------------
# graph_serve
# ---------------------------------------------------------------------------

#: 5k × 64d: on a 4-core host a 60k bulk Vamana build alone takes ~30 s of
#: set-up; at 5k the build is 8–13 s, almost all fixed cost (8k took ~2 s
#: more), and auto-sharding still makes two shards
GRAPH_ROWS, GRAPH_DIM, GRAPH_CENTRES, GRAPH_SPREAD = 5_000, 64, 100, 1.2
GRAPH_PROBE_SHARDS = 2


def graph_serve(run: Run) -> tuple:
    """The second index family, one closed-loop client, queries uniform over
    the centres. It does no work in ``operators.ivf`` and shares nothing
    between queries, so an IVF- or cache-only change should not move it."""
    from vectorchord_spark.operators.graph import VamanaIndex, VamanaOptions

    rng = np.random.default_rng(run.seed)
    centres = rng.standard_normal((GRAPH_CENTRES, GRAPH_DIM), dtype=np.float32)
    ids = np.arange(GRAPH_ROWS, dtype=np.int64)
    vecs = clustered(rng, centres, rng.integers(0, GRAPH_CENTRES, GRAPH_ROWS), GRAPH_SPREAD)
    pool = clustered(rng, centres, rng.integers(0, GRAPH_CENTRES, 300), GRAPH_SPREAD)

    src = os.path.join(run.work, "corpus")
    write_vectors(src, ids, vecs, run.nproc)
    path = os.path.join(run.work, "graph_index")
    spark, tr = run.spark, run.tracer

    with tr.span("graph.build", request="build"):
        t0 = time.perf_counter()
        index = VamanaIndex.build(
            spark, spark.read.parquet(src), "id", "vec", path, VamanaOptions(seed=run.seed)
        )
        build_s = time.perf_counter() - t0
    live = checks.LiveSet(ids, vecs)

    def search(q):
        return index.search(q, k=K, probe_shards=GRAPH_PROBE_SHARDS)

    # two warm-up queries: after one, the first timed queries still ran
    # ~20% slower than the rest
    warm_up(search, pool[-2:], tr)
    setup_s = time.time() - run.t0
    served = serve(run, "graph.search", search, pool)
    return score_serving(served, pool, live, build_s, GRAPH_ROWS, path, setup_s)


# ---------------------------------------------------------------------------
# curate_batch
# ---------------------------------------------------------------------------

CURATE_DOCS = 1_000
CURATE_VOCAB = np.array([f"w{i:04d}" for i in range(4000)])


def planted_docs(rng, n: int) -> tuple[list[str], dict[str, int]]:
    """``n`` docs with planted failures, and the audit count each stage of
    the default ``CurateConfig`` must report for them:

    - short docs (4 words) fail ``length``;
    - two words tiled 40× fail ``repetition``;
    - groups of 3 identical docs: 2 per group are ``exact_dup``;
    - groups of 3 copies of a 200-word doc, each with one other word
      replaced (Jaccard ≈ 0.94 on 3-shingles, so the MinHash bands pair
      them with probability > 0.999): 2 per group are ``near_dup``;
    - the rest are 80 random words, which pass every stage.
    """
    V = CURATE_VOCAB
    n_short = n_rep = n // 20
    n_exact = n_near = n // 40  # groups of 3
    docs: list[str] = []
    docs += [" ".join(V[rng.integers(0, len(V), 4)]) for _ in range(n_short)]
    docs += [" ".join(np.tile(V[rng.integers(0, len(V), 2)], 40)) for _ in range(n_rep)]
    for _ in range(n_exact):
        docs += [" ".join(V[rng.integers(0, len(V), 80)])] * 3
    for _ in range(n_near):
        base = rng.integers(0, len(V), 200)
        for pos in rng.choice(200, size=3, replace=False):
            w = base.copy()
            w[pos] = (w[pos] + rng.integers(1, len(V))) % len(V)  # another word
            docs.append(" ".join(V[w]))
    docs += [
        " ".join(V[rng.integers(0, len(V), 80)]) for _ in range(n - len(docs))
    ]
    planted = {
        "length": n_short,
        "repetition": n_rep,
        "exact_dup": 2 * n_exact,
        "near_dup": 2 * n_near,
    }
    return docs, planted


def curate_batch(run: Run) -> tuple:
    """The data pipeline: default ``curate()`` over a planted corpus, forcing
    both ``kept`` and ``audit``. Its cost is shuffle-bound throughput in
    ``pipeline.*``, about half the package, which no ANN workload touches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from vectorchord_spark.pipeline.curate import curate

    rng = np.random.default_rng(run.seed)
    texts, planted = planted_docs(rng, CURATE_DOCS)
    order = rng.permutation(CURATE_DOCS)  # planted kinds are spread over ids
    doc_ids = np.arange(CURATE_DOCS, dtype=np.int64)
    src = os.path.join(run.work, "docs")
    os.makedirs(src)
    for f, part in enumerate(np.array_split(doc_ids, run.nproc)):
        pq.write_table(
            pa.table({"doc_id": pa.array(part), "text": [texts[order[i]] for i in part]}),
            os.path.join(src, f"part-{f:03d}.parquet"),
        )
    text_bytes = sum(len(t.encode()) for t in texts)
    spark, tr = run.spark, run.tracer
    jsc = spark.sparkContext._jsc.sc()

    def one_pass(request: str):
        with tr.span("curate", request=request):
            t0 = time.perf_counter()
            with tr.span("curate.call"):
                res = curate(spark.read.parquet(src))
            with tr.span("curate.kept"):
                kept = [r[0] for r in res.kept.select("doc_id").collect()]
            with tr.span("curate.audit"):
                audit = [(r[0], r[1]) for r in res.audit.select("id", "stage").collect()]
            return time.perf_counter() - t0, kept, audit

    # the cold first pass is the set-up's build step: plan compilation,
    # codegen and Python worker start-up are paid here
    cold_s = one_pass("warmup0")[0]
    # a second untimed pass: the first timed pass otherwise still runs
    # ~20% slower than the rest (JIT), which two or three samples a run
    # cannot average out
    one_pass("warmup1")
    setup_s = time.time() - run.t0

    errors, results = [], []
    deadline = time.perf_counter() + run.seconds
    start = time.perf_counter()
    while time.perf_counter() < deadline:
        try:
            results.append(one_pass(f"pass{len(results) + len(errors)}"))
        except Exception as e:  # a failed pass is counted, not fatal
            errors.append(repr(e))
    wall = time.perf_counter() - start
    storage = sum(r.memSize() + r.diskSize() for r in jsc.getRDDStorageInfo())

    failures, lat = list(errors), []
    for seconds, kept, audit in results:
        why = checks.check_curate(doc_ids, kept, audit, planted)
        if why is not None:
            failures.append(why)
            continue
        lat.append(seconds)
    metrics = {
        "setup_s": setup_s,
        "build_rows_per_s": CURATE_DOCS / cold_s,
        "query_p50_ms": 1e3 * statistics.median(lat) if lat else float("nan"),
        "throughput": CURATE_DOCS * len(lat) / wall,
        # every planted drop-doc dropped: the oracle demands exact counts
        "recall": 1.0 if lat else 0.0,
        "bytes_per_input_byte": storage / text_bytes,
    }
    info = {
        "samples": len(lat),
        "latencies_ms": [round(1e3 * x) for x in lat],
        "failures": failures[:5],
    }
    attempted = len(results) + len(errors)
    return metrics, attempted, len(failures), True, info


WORKLOADS = {
    "ivf_serve": ivf_serve,
    "graph_serve": graph_serve,
    "curate_batch": curate_batch,
}


# ---------------------------------------------------------------------------
# Per-layer metrics from a traced run's spans
# ---------------------------------------------------------------------------

_COUNTER_UNITS = {
    "jobs": "count",
    "tasks": "count",
    "rows_read": "count",
    "bytes_read": "bytes",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
    "bytes_written": "bytes",
    "executor_run_ms": "ms",
    "executor_cpu_ms": "ms",
    "gc_ms": "ms",
    "driver_ms": "ms",
}


def _counters(prefix: str) -> list[tuple[str, str]]:
    return [(f"{prefix}.{c}", _COUNTER_UNITS[c]) for c in COUNTERS]


#: every per-layer metric, reported on every workload (0 where the workload
#: does not call the layer)
LAYER_METRICS: list[tuple[str, str]] = [
    ("session.get_spark_s", "s"),
    ("sampling.bounded_sample_vectors_s", "s"),
    ("kmeans.lloyd_s", "s"),
    ("kmeans.hierarchical_s", "s"),
    ("ivf.build_s", "s"),
    ("ivf.build.encode_s", "s"),
    *_counters("ivf.build"),
    ("ivf.search.call_ms", "ms"),
    ("ivf.search.collect_ms", "ms"),
    *_counters("ivf.search"),
    ("ivf.search.rows_read_per_result", "count"),
    ("kernels.rotate_ms", "ms"),
    ("kernels.rotate.calls", "count"),
    ("kernels.binary_lut_ms", "ms"),
    ("graph.build_s", "s"),
    *_counters("graph.build"),
    ("graph.search.call_ms", "ms"),
    ("graph.search.collect_ms", "ms"),
    *_counters("graph.search"),
    ("curate.call_s", "s"),
    ("curate.kept_s", "s"),
    ("curate.audit_s", "s"),
    *_counters("curate"),
]


def layer_metrics(tracer) -> dict[str, float]:
    """Per-layer numbers from the spans. Per-request figures are medians
    over the timed requests (``q*`` queries, ``pass*`` curate passes)."""
    out = dict.fromkeys((n for n, _ in LAYER_METRICS), 0.0)
    kids = tracer.children()
    by_id = {s.id: s for s in tracer.spans}

    def timed(sp) -> bool:
        return sp.request is not None and sp.request.startswith(("q", "pass"))

    def total(name: str) -> float:
        return sum(s.seconds for s in tracer.spans if s.name == name)

    def ancestors(sp):
        while sp.parent is not None:
            sp = by_id[sp.parent]
            yield sp

    out["session.get_spark_s"] = total("session.get_spark")
    out["sampling.bounded_sample_vectors_s"] = total("sampling.bounded_sample_vectors")
    out["kmeans.lloyd_s"] = total("kmeans.lloyd")
    out["kmeans.hierarchical_s"] = total("kmeans.hierarchical")

    for layer in ("ivf.build", "graph.build"):
        spans = [s for s in tracer.spans if s.name == layer]
        if not spans:
            continue
        sp = spans[0]
        out[f"{layer}_s"] = sp.seconds
        for c, v in tracer.subtree_counters(sp, kids).items():
            out[f"{layer}.{c}"] = v
        if layer == "ivf.build":
            inner = sum(
                s.seconds
                for s in tracer.spans
                if s.name in ("sampling.bounded_sample_vectors", "kmeans.lloyd", "kmeans.hierarchical")
                and sp.id in {a.id for a in ancestors(s)}
            )
            out["ivf.build.encode_s"] = sp.seconds - inner

    def med(values: list[float]) -> float:
        return statistics.median(values) if values else 0.0

    for layer in ("ivf.search", "graph.search", "curate"):
        roots = [s for s in tracer.spans if s.name == layer and timed(s)]
        if not roots:
            continue
        scale, unit = (1e3, "_ms") if layer != "curate" else (1.0, "_s")
        for part in ("call", "collect", "kept", "audit"):
            key = f"{layer}.{part}{unit}"
            if key in out:
                out[key] = med(
                    [scale * s.seconds for s in tracer.spans if s.name == f"{layer}.{part}" and timed(s)]
                )
        per = [tracer.subtree_counters(s, kids) for s in roots]
        for c in COUNTERS:
            out[f"{layer}.{c}"] = med([p[c] for p in per])
        if layer == "ivf.search":
            out["ivf.search.rows_read_per_result"] = out["ivf.search.rows_read"] / K

    for fn in ("rotate", "binary_lut"):
        per_req: dict[str, list[float]] = {}
        for s in tracer.spans:
            if s.name == f"kernels.{fn}" and timed(s):
                per_req.setdefault(s.request, []).append(s.seconds)
        if per_req:
            out[f"kernels.{fn}_ms"] = med([1e3 * sum(v) for v in per_req.values()])
            if fn == "rotate":
                out["kernels.rotate.calls"] = med([len(v) for v in per_req.values()])
    return out
