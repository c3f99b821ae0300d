"""Structured Streaming surface of the engine.

Two streaming shapes re-expressed from the reference's online paths:

- **streaming index insert** (the DML insert path, Q12 —
  /root/reference/crates/vchordrq/src/insert.rs:70-212): a ``readStream`` of
  new vector rows is encoded with the existing (broadcast) centroid tree and
  appended to the codes table per micro-batch via ``foreachBatch``; the
  appendable-tape/compaction split maps onto append files + ``compact()``.
- **watermarked windowed aggregation** over the events stream (the standard
  late-data-tolerant rollup; batch twin is the ``events_hourly`` catalog
  query).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from vectorchord_spark.operators.ivf import IvfIndex

EVENTS_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)

# the nanos-vs-µs magnitude guard is centralized in sources/events.py
# (shared with batch queries and tests); these aliases keep the streaming
# module's historical names working
from vectorchord_spark.sources.events import (  # noqa: E402
    NANO_CUTOFF as _NANO_CUTOFF,
)
from vectorchord_spark.sources.events import normalize_epoch_py  # noqa: E402
from vectorchord_spark.sources.events import ts_us_expr as _ts_us_expr  # noqa: E402


def streaming_index_insert(
    index: IvfIndex,
    source_path: str,
    checkpoint_path: str,
    schema: str,
    id_col: str = "id",
    vec_col: str = "vec",
    available_now: bool = True,
) -> StreamingQuery:
    """Continuously index new vector rows landing as parquet files.

    Each micro-batch is one encode+append job (same code path as batch
    insert), made idempotent across ``foreachBatch`` retries with an
    epoch marker committed AFTER the append succeeds: a replayed epoch
    whose marker exists is skipped, and a failed job leaves no committed
    parquet files (job-commit protocol), so a retry starts clean. Without
    the marker this path would be at-least-once — a retry after a
    partially-committed failure could duplicate rows."""
    stream = index.spark.readStream.schema(schema).parquet(source_path)
    # epoch ids are only unique within one checkpointed query, so the
    # marker is scoped by the checkpoint path
    stream_key = hashlib.sha1(checkpoint_path.encode()).hexdigest()[:16]

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        marker = f"{stream_key}-epoch-{int(epoch_id)}"
        if index._epoch_done(marker):
            return  # this epoch already appended fully; replay is a no-op
        index.insert(batch_df, id_col, vec_col)
        index._mark_epoch_done(marker)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_sessionize(
    spark: SparkSession,
    source_path: str,
    checkpoint_path: str,
    gap_minutes: int = 30,
    query_name: str = "sessions",
    available_now: bool = True,
) -> StreamingQuery:
    """Custom stateful streaming operator: gap-based sessionization with
    ``applyInPandasWithState`` (arbitrary per-key state + event-time
    timeout). The state per user is the open session (start, last-seen,
    count, value sum); a session closes — and emits one row — when a new
    event arrives more than ``gap_minutes`` after the last one, or when the
    watermark times the key out. The batch twin is the ``sessionize``
    catalog query."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(source_path)
    ev = stream.withColumn(
        "t", F.timestamp_micros(_ts_us_expr())
    ).withWatermark("t", f"{gap_minutes * 2} minutes")

    out_schema = (
        "user_id long, session_start long, session_end long, "
        "n_events long, total_value double"
    )
    state_schema = "start long, last long, n long, total double"

    def update(key, pdfs, state: GroupState):
        import pandas as pd  # noqa: PLC0415

        (user_id,) = key
        if state.hasTimedOut:
            start, last, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "user_id": user_id,
                        "session_start": start,
                        "session_end": last,
                        "n_events": n,
                        "total_value": total,
                    }
                ]
            )
            return
        rows = []
        events = []
        for pdf in pdfs:
            # the state-protocol Arrow transfer can pad chunks with all-null
            # rows (and a NaN key); drop them before processing
            pdf = pdf.dropna(subset=["ts"])
            for ts_v, val in zip(pdf["ts"].to_numpy(), pdf["value"].to_numpy()):
                events.append((normalize_epoch_py(int(ts_v)), float(val)))
        events.sort()
        if state.exists:
            start, last, n, total = state.get
        else:
            start = last = None
            n, total = 0, 0.0
        for ts_us, val in events:
            if start is None:
                start, last, n, total = ts_us, ts_us, 1, val
            elif ts_us - last > gap_us:
                rows.append(
                    {
                        "user_id": user_id,
                        "session_start": start,
                        "session_end": last,
                        "n_events": n,
                        "total_value": total,
                    }
                )
                start, last, n, total = ts_us, ts_us, 1, val
            else:
                last = ts_us
                n += 1
                total += val
        if start is not None:
            state.update((start, last, n, total))
            state.setTimeoutTimestamp(last // 1000 + gap_minutes * 60 * 1000)
        yield pd.DataFrame(rows)

    import pandas as pd  # noqa: F401

    sessions = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    writer = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def hourly_event_counts_stream(
    spark: SparkSession,
    source_path: str,
    checkpoint_path: str,
    watermark: str = "1 hour",
    query_name: str = "hourly_event_counts",
    available_now: bool = True,
) -> StreamingQuery:
    """Watermarked hourly rollup of the events stream into a memory sink.

    Late events beyond ``watermark`` are dropped (state is bounded — the
    property that makes this run forever on an unbounded stream)."""
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(source_path)
    t = F.timestamp_micros(_ts_us_expr())
    agg = (
        stream.withColumn("t", t)
        .withWatermark("t", watermark)
        .groupBy(F.window("t", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("hour"),
            "event_type",
            "n",
            "total_value",
        )
    )
    writer = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_dedup(
    spark: SparkSession,
    source_path: str,
    checkpoint_path: str,
    sink_path: str,
    schema: str,
    key_cols: "list[str] | tuple[str, ...]",
    ts_col: str | None = None,
    delay: str = "1 hour",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming exact deduplication: only the first row per ``key_cols``
    value survives, across micro-batches (the online twin of the batch
    ``dedup_exact`` pipeline — a training-data ingest keeps one copy of
    each document as files land).

    With ``ts_col``, state is bounded by the watermark
    (``dropDuplicatesWithinWatermark``): a duplicate arriving more than
    ``delay`` after the original may survive, but state can be evicted —
    the trade that lets this run forever. Without ``ts_col`` the dedup is
    exact over the whole stream but state grows with the number of
    distinct keys (acceptable for availableNow backfills)."""
    stream = spark.readStream.schema(schema).parquet(source_path)
    if ts_col is not None:
        stream = stream.withWatermark(ts_col, delay)
        deduped = stream.dropDuplicatesWithinWatermark(list(key_cols))
    else:
        deduped = stream.dropDuplicates(list(key_cols))
    writer = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def minhash_band_keys(
    text: "F.Column | str",
    n: int = 3,
    num_hashes: int = 8,
    band_rows: int = 2,
) -> "F.Column":
    """Per-ROW banded MinHash keys: array of ``num_hashes // band_rows``
    md5 band keys, equal to the batch ``minhash_signatures`` +
    ``minhash_lsh_pairs`` banding for the same document (string-min over
    the same distinct-shingle md5 family, same band concat) — but computed
    as one row-local expression (``array_min`` over a bound ``transform``)
    with NO aggregation, which is what makes it usable inside a streaming
    query where a groupBy signature aggregation would need watermark
    semantics. The shingle array is bound per the repo's lambda-binding
    rule (never reference a computed array inside a HOF lambda)."""
    from vectorchord_spark.pipeline.dedup import shingles

    sh = shingles(text, n)

    def _hash_j(j: int):
        # NB: a `lambda s, j=j:` would have arity 2 and pyspark's transform
        # would bind the ARRAY INDEX to j, shadowing the closure — the
        # lambda must be unary
        pref = f"{j}|"
        return lambda s: F.md5(F.concat(F.lit(pref), s))

    def per_sh(shc: "F.Column") -> "F.Column":
        mins = [
            F.array_min(F.transform(shc, _hash_j(j)))
            for j in range(num_hashes)
        ]
        n_bands = num_hashes // band_rows
        return F.array(
            *[
                F.md5(
                    F.concat(*[mins[b * band_rows + r] for r in range(band_rows)])
                )
                for b in range(n_bands)
            ]
        )

    return F.element_at(F.transform(F.array(sh), per_sh), 1)


def streaming_neardup_pairs(
    spark: SparkSession,
    source_path: str,
    checkpoint_path: str,
    sink_path: str,
    schema: str = "doc_id long, text string",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    band_rows: int = 2,
    available_now: bool = True,
    state_ttl_seconds: float | None = None,
    event_time_col: str | None = None,
    watermark_delay: str = "10 seconds",
) -> StreamingQuery:
    """Streaming near-duplicate detection: the online twin of the batch
    ``minhash_lsh_pairs`` catalog op. As documents land, each one's banded
    MinHash keys are computed row-locally and a stateful operator keyed by
    ``(band, key)`` remembers the FIRST document seen under each band key;
    every later document colliding on that key emits a candidate pair
    ``(ida, idb)`` with ``ida`` the canonical (first-seen) doc.

    Contract vs the batch op: the batch all-pairs band join emits the full
    clique per band bucket; this emits the STAR to the bucket's canonical
    doc. Both induce the same connected components (what dedup group
    assembly consumes), while the star keeps per-key state O(1) — the
    property that lets the stream run forever. A pair colliding in several
    bands is emitted once per band (at-least-once; ``distinct`` downstream
    if exact-once pairs matter). State is one long per distinct band key.

    **Bounded state for continuous ingest** (``state_ttl_seconds``): with
    the default ``None`` the state grows with the number of DISTINCT band
    keys ever seen — fine for bounded backfills, unbounded for a forever
    stream. Setting a TTL switches to a processing-time timeout: a band
    key idle for the TTL is EVICTED at the next micro-batch, so state size
    tracks the distinct keys of the active window only. The trade is
    bounded staleness: a duplicate arriving more than the TTL after its
    band key was last seen starts a NEW canonical hub, so cross-TTL pairs
    are missed — exactly the contract of windowed streaming dedup. Size
    the TTL to the dedup horizon you need, and run the batch op
    periodically for full-corpus compaction (the lambda shape).

    **Event-time vs processing-time eviction**: the default TTL clock is
    processing time (wall-clock idleness) — right for continuous ingest
    where retention is an operational budget, but a stream that STALLS
    and resumes evicts state an event-time reader would have kept, and
    replaying old data re-ages it by arrival time, not by content time.
    Passing ``event_time_col`` (a timestamp column in ``schema``, watermarked
    by ``watermark_delay``) switches to an EVENT-time TTL: a band key is
    evicted when the stream's watermark passes the key's MAX event time
    ever seen + TTL (monotonic: a late out-of-order row can never pull an
    already-promised deadline earlier). That makes eviction a pure
    function of the DATA (replay-
    safe, stall-safe, deterministic across reruns of the same input), and
    it composes with ``available_now=True`` — event-time timeouts fire off
    the watermark, which only advances with data, so backfills terminate.

    Processing-time TTL requires ``available_now=False``: processing-time
    timeouts make the engine keep scheduling (empty) micro-batches to
    fire evictions, so an availableNow backfill would never terminate
    (measured: 40+ empty batches after the data was exhausted). Backfills
    have bounded input — they don't need a wall-clock TTL in the first
    place."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    event_mode = event_time_col is not None
    if state_ttl_seconds is not None and available_now and not event_mode:
        raise ValueError(
            "state_ttl_seconds requires available_now=False (continuous "
            "trigger): processing-time timeouts keep scheduling batches, so "
            "an availableNow backfill never terminates. Bounded backfills "
            "don't need a TTL; for continuous ingest pass "
            "available_now=False."
        )

    stream = spark.readStream.schema(schema).parquet(source_path)
    if event_mode:
        stream = stream.withWatermark(event_time_col, watermark_delay)
    sel = [
        F.col(id_col).alias("_id"),
        F.posexplode(
            minhash_band_keys(F.col(text_col), n, num_hashes, band_rows)
        ).alias("band", "key"),
    ]
    if event_mode:
        sel.append(F.col(event_time_col).alias("_ts"))
    banded = stream.select(*sel)

    out_schema = "ida long, idb long, band int"
    # last_ms: running max event-time epoch ms seen by this key (0 when
    # not in event mode) — the timeout must be re-armed from the MAX ever
    # seen, not the current batch's max, or a late-but-valid out-of-order
    # row would pull the eviction deadline EARLIER than already promised
    state_schema = "first long, last_ms long"
    ttl_ms = None if state_ttl_seconds is None else max(1, int(state_ttl_seconds * 1000))
    # applyInPandasWithState delivers timestamp columns tz-NAIVE in the
    # session timezone, while GroupState timeouts are true UTC epoch ms —
    # capture the session tz here (driver) so the worker can localize;
    # interpreting local wall-clock as UTC shifts eviction by the UTC
    # offset (and west of UTC collapses the TTL to ~0)
    session_tz = spark.conf.get("spark.sql.session.timeZone")

    def update(key, pdfs, state: GroupState):
        import pandas as pd  # noqa: PLC0415

        empty = pd.DataFrame(columns=["ida", "idb", "band"])
        if state.hasTimedOut:
            # TTL eviction: drop the canonical-doc state for this idle
            # band key; the next collision on it starts a new hub
            state.remove()
            yield empty
            return
        band, _k = key
        ids: list[int] = []
        ts_max = None
        for pdf in pdfs:
            pdf = pdf.dropna(subset=["_id"])
            ids.extend(int(v) for v in pdf["_id"].to_numpy())
            if event_mode and len(pdf):
                m = pdf["_ts"].max()
                if not pd.isna(m):
                    ts_max = m if ts_max is None else max(ts_max, m)
        ids.sort()
        if not ids:
            # must carry the declared output columns: the Arrow
            # serializer selects (ida, idb, band) by name and a
            # zero-column frame would raise at runtime.
            yield empty
            return
        prev_ms = 0
        if state.exists:
            (first, prev_ms) = state.get
        else:
            first = ids[0]
        evt_ms = prev_ms
        if event_mode and ts_max is not None:
            ts = pd.Timestamp(ts_max)
            if ts.tzinfo is None:
                ts = ts.tz_localize(
                    session_tz, ambiguous=False, nonexistent="shift_forward"
                )
            evt_ms = max(evt_ms, int(ts.value // 10**6))
        if not state.exists or evt_ms != prev_ms:
            state.update((first, evt_ms))
        if ttl_ms is not None:
            # re-arm on every batch that touches the key: TTL measures
            # idleness, not age
            if event_mode:
                # evict when the WATERMARK passes the max event time this
                # key has EVER seen + TTL (replay-safe, monotonic); if the
                # batch carried only null timestamps and none were stored,
                # fall back to arming from the current watermark. The
                # engine requires the timestamp to sit beyond the current
                # watermark.
                wm = state.getCurrentWatermarkMs()
                base_ms = evt_ms if evt_ms > 0 else wm
                state.setTimeoutTimestamp(max(base_ms + ttl_ms, wm + 1))
            else:
                state.setTimeoutDuration(ttl_ms)
        rows = [
            {"ida": min(first, i), "idb": max(first, i), "band": int(band)}
            for i in ids
            if i != first
        ]
        yield pd.DataFrame(rows, columns=["ida", "idb", "band"])

    pairs = banded.groupBy("band", "key").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if ttl_ms is None
            else (
                GroupStateTimeout.EventTimeTimeout
                if event_mode
                else GroupStateTimeout.ProcessingTimeTimeout
            )
        ),
    )
    writer = (
        pairs.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_knn_serve(
    index: IvfIndex,
    queries_path: str,
    checkpoint_path: str,
    output_path: str,
    schema: str = "qid long, query array<float>",
    k: int = 10,
    probes: "list[int] | int | None" = None,
    rerank_factor: "int | None" = 4,
    available_now: bool = True,
    max_files_per_trigger: int | None = 8,
    chunk_size: int = 4096,
    search_kwargs: dict | None = None,
) -> StreamingQuery:
    """Continuous ANN serving: each micro-batch of query vectors landing as
    parquet files is answered with ONE ``search_batch`` pass over the index
    (the amortized serving shape — one codes scan for the whole batch) and
    the per-query top-k rows are appended to ``output_path`` keyed by the
    caller's ``qid``.

    This is the streaming face of the engine's query path: the reference
    serves one query per executor call inside Postgres; the Spark-native
    equivalent of a query *stream* is micro-batched search_batch, which
    amortizes the scan/python fixed costs across every query in the batch
    (docs/SCALE.md: batch serving is ~5x the single-query throughput).

    ``search_kwargs`` overrides the per-batch search configuration and
    makes the job index-family-agnostic: any index exposing
    ``search_batch(queries, k, ...) -> (qid, id, dist, rank)`` serves —
    pass e.g. ``{"probe_shards": 3}`` to serve from a VamanaIndex
    (``probes``/``rerank_factor`` are the IVF defaults, ignored when
    ``search_kwargs`` is given)."""
    spark = index.spark
    kw = (
        dict(search_kwargs)
        if search_kwargs is not None
        else {"probes": probes, "rerank_factor": rerank_factor}
    )

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        # the driver materializes only query VECTORS (k·dim floats each),
        # never result rows — and in bounded chunks, so an availableNow
        # backlog of many files cannot OOM the driver or blow up the
        # rerank expression tree (one broadcast query matrix per chunk)
        rows = batch_df.select("qid", "query").collect()
        if not rows:
            return
        for j in range(0, len(rows), chunk_size):
            chunk = rows[j : j + chunk_size]
            queries = [list(map(float, r.query)) for r in chunk]
            res = index.search_batch(queries, k=k, **kw)
            # caller-qid mapping as a broadcast join (not a literal array:
            # a chunk-sized expression literal would be re-serialized into
            # every task binary)
            qmap = spark.createDataFrame(
                [(i, int(r.qid)) for i, r in enumerate(chunk)],
                "qid long, caller_qid long",
            )
            out = res.join(F.broadcast(qmap), "qid").select(
                F.col("caller_qid").alias("qid"), "id", "dist", "rank"
            )
            # epoch/chunk-keyed overwrite makes foreachBatch replays
            # idempotent: a re-fired epoch rewrites its own subdirectories
            # instead of appending duplicate result rows (readers
            # partition-discover the epoch/chunk columns from output_path)
            out.write.mode("overwrite").parquet(
                os.path.join(output_path, f"epoch={int(epoch_id)}", f"chunk={j}")
            )

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    stream = (
        reader.parquet(queries_path)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        stream = stream.trigger(availableNow=True)
    return stream.start()
