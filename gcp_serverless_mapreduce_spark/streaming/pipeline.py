"""Structured Streaming surface — the reference's event-driven topology
re-expressed as readStream → transform → writeStream.

The reference is "streaming" only in transport: Pub/Sub pushes batches
through 7 functions with a Redis barrier deciding when the reduce phase
may start (controller/controller.go:19-89).  Spark's analog of that
barrier is the watermark + trigger: a window closes (its "barrier"
lifts) when the watermark passes its end.  ``trigger(availableNow=True)``
reproduces the reference's bounded-batch-with-completion semantics
exactly — process everything that exists, then stop.

The transforms below take a DataFrame and work UNCHANGED on a static or a
streaming frame (the DataFrame API is the unified surface); tests assert
stream-vs-batch equality on that same function.
"""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table


def _checkpoint_dir(name: str) -> str | None:
    """Per-run checkpoint directory for the bounded-replay harness.

    Structured Streaming commits offsets/WAL/state-store deltas through
    rename-based atomic files every micro-batch; on the default
    ``java.io.tmpdir`` (a disk-backed /tmp here) that file traffic is a
    measurable fixed cost per batch (A/B at sf0.1, inner stream-stream
    join, warm min-of-3: 2.42 s on /tmp vs 2.26 s on tmpfs; the state
    commit is the dominant term).  ``SPARK_GRAFT_STREAM_CKPT`` overrides
    the root (empty string = use Spark's default temp checkpoint); the
    local default is tmpfs when available.  A production deployment
    points this at durable shared storage — checkpoint durability is a
    deployment property, not a plan property; the bounded replay
    deletes its checkpoint after the run either way.

    Every call returns a FRESH directory (uuid suffix): attempt 2 of a
    bench pair must re-process the fixture, never resume attempt 1's
    committed offsets."""
    root = os.environ.get("SPARK_GRAFT_STREAM_CKPT", "/dev/shm")
    if root and os.path.isdir(root) and os.access(root, os.W_OK):
        return os.path.join(root, f"sgm-ckpt-{name}-{uuid.uuid4().hex}")
    return None


@contextmanager
def stream_state_partitions(spark: SparkSession, n: int | None = None):
    """Scope ``spark.sql.shuffle.partitions`` for a stateful streaming
    query start.

    Every stateful streaming partition carries a state store (+ its
    checkpoint files), so the shuffle-partition count is a *state-store*
    count here — 32 stores for a bounded fixture stream is pure overhead
    (measured 6.1 s -> 2.3 s on the stream-stream join at sf0.1 going
    32 -> 8; r15 verdict task 5's A/B then took 8 -> 4: the
    stream-stream joins gain another 0.3-0.5 s warm min-of-3 each —
    inner 1.81 -> 1.32 s, left 2.45 -> 2.11 s — with aggregations
    neutral, and a RocksDB-provider leg measured consistently SLOWER
    at this state size, e.g. inner join 1.86/2.00 s vs HDFS 1.81/1.32,
    retiring the 'heavier at this size' assumption with numbers; full
    table in TUNING.md).  A production deployment sizes this to
    keyspace x executor count instead — env
    ``SPARK_GRAFT_STREAM_STATE_PARTITIONS`` parameterizes the local
    default; the conf is captured at stream START, so scoping it to
    the ``.start()`` call leaves the batch suite's 32 untouched."""
    if n is None:
        n = int(os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "4"))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture.  Schema comes from the
    batch reader (a stream source cannot infer), including the
    nanos→timestamp normalization load_table applies."""
    static = load_table(spark, sf_dir, "events")
    # The fixture is a single file; the file stream source wants a
    # directory, so stream the directory with a glob filter.
    raw = (spark.readStream
           .schema(spark.read.parquet(f"{sf_dir}/events.parquet").schema)
           .option("pathGlobFilter", "events.parquet")
           .parquet(sf_dir))
    if dict(raw.dtypes).get("ts") == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for col, dtype in raw.dtypes:
        # Same normalization as load_table: watermarks refuse TIMESTAMP_NTZ
        # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE); the cast is exact under the
        # pinned UTC session TZ.
        if dtype == "timestamp_ntz":
            raw = raw.withColumn(col, F.col(col).cast("timestamp"))
    return raw.select(*static.columns)


def stream_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the embeddings fixture — the arriving
    vector batch of an ANN index at steady state (the streaming face of
    the incremental-ingest contract; see similarity_q's
    ``stream_ivf_cell_routing``).  Schema from the batch reader, same
    single-file glob discipline as :func:`stream_events`."""
    static = load_table(spark, sf_dir, "embeddings")
    raw = (spark.readStream
           .schema(spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema)
           .option("pathGlobFilter", "embeddings.parquet")
           .parquet(sf_dir))
    return raw.select(*static.columns)


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents fixture — the arriving
    crawl batch of a steady-state ingest pipeline (the streaming face of
    the incremental-dedup contract; see dedup_q's
    ``stream_dedup_new_docs``).  Schema from the batch reader, same
    single-file glob discipline as :func:`stream_events`."""
    static = load_table(spark, sf_dir, "documents")
    raw = (spark.readStream
           .schema(spark.read.parquet(f"{sf_dir}/documents.parquet").schema)
           .option("pathGlobFilter", "documents.parquet")
           .parquet(sf_dir))
    return raw.select(*static.columns)


def stream_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the orders fixture — the CDC feed of new
    orders arriving after a stored snapshot (the streaming face of the
    snapshot-diff contract; see relational_q's
    ``stream_snapshot_diff_customers``).  Schema from the batch reader,
    same single-file glob discipline as :func:`stream_events`."""
    static = load_table(spark, sf_dir, "orders")
    raw = (spark.readStream
           .schema(spark.read.parquet(f"{sf_dir}/orders.parquet").schema)
           .option("pathGlobFilter", "orders.parquet")
           .parquet(sf_dir))
    for col, dtype in raw.dtypes:
        if dtype == "timestamp_ntz":
            raw = raw.withColumn(col, F.col(col).cast("timestamp"))
    return raw.select(*static.columns)


def stream_events_redelivered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events stream with every row delivered TWICE — two independent
    file-stream sources over the same fixture, unioned.

    Models at-least-once transport (the reference's Pub/Sub push retries
    deliver duplicates; deploy-*.sh's retry blocks): the consumer must
    de-duplicate on the message id to get exactly-once effects.  Both
    sources list the same single fixture file, so one availableNow
    micro-batch carries both copies and a watermark-bounded dedup state
    provably sees every duplicate pair."""
    return stream_events(spark, sf_dir).unionAll(
        stream_events(spark, sf_dir))


def stream_events_rate(spark: SparkSession, sf_dir: str,
                       rows_per_batch: int = 2500) -> DataFrame:
    """Rate-source replay of the events fixture — the push/queue transport
    analog (the reference's Pub/Sub push is "rows arrive in batches over
    time", pubsub-style; ``rate-micro-batch`` provides exactly that tick
    stream, and a stream-static join stamps each tick with a fixture row).

    Delivery is in event-time order (ticks map to ts-sorted rows), so
    watermarked aggregations see the same effective input as a file-source
    stream; ticks past the fixture size join to nothing and the stream
    just idles.  The global sort behind ``row_number`` is a replay-adapter
    cost, not a production-path one — a real deployment's Kafka/Pub/Sub
    source delivers rows directly.
    """
    from pyspark.sql import Window

    static = load_table(spark, sf_dir, "events")
    # localCheckpoint: a stream-static join re-executes the static side
    # EVERY micro-batch, and this side carries a global sort — materialize
    # the indexed frame once instead of re-sorting per batch (measured
    # 4.3 -> 3.0 s warm on the rate-replay windowed agg at sf0.1)
    with timed_batch_side():  # replay-adapter sort: batch-side compute
        indexed = static.withColumn(
            "_idx",
            F.row_number().over(Window.orderBy("ts", "event_id")) - 1
        ).localCheckpoint()
    ticks = (spark.readStream.format("rate-micro-batch")
             .option("rowsPerBatch", rows_per_batch)
             .option("startTimestamp", 0)
             .load()
             .select(F.col("value").alias("_idx")))
    return ticks.join(indexed, "_idx").select(*static.columns)


def windowed_event_stats(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windows per event_type: count + exact value sum.

    Works on static and streaming input alike.  The watermark bounds state
    at scale (late rows beyond 1 h are dropped, closed windows evicted);
    value sums accumulate in DECIMAL so the result is independent of
    partition/arrival order.
    """
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.col("value").cast("decimal(14,2)")).alias("_total"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss")
            .alias("window_start"),
            "event_type", "n_events",
            F.col("_total").cast("double").alias("total_value"))
    )


def click_purchase_join(events: DataFrame) -> DataFrame:
    """Stream-stream inner join: each click matched to the same user's
    purchases within the following hour.

    Both sides carry a 1-hour watermark and the join condition bounds
    purchase_ts to [click_ts, click_ts + 1h] — the time-interval condition
    is what lets Spark evict join state (a click older than watermark - 1h
    can never match again), so state stays bounded no matter how long the
    streams run.  Inner-join matches emit immediately (no watermark wait).
    Works unchanged on a static frame, where the same condition is just a
    range-join predicate.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour"))
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour"))
    return (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")))
        .select(
            F.col("c_user").alias("user_id"), "click_id", "purchase_id",
            F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
            F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"))
    )


def distinct_user_event_pairs(events: DataFrame) -> DataFrame:
    """Streaming deduplication: the distinct (user_id, event_type) pairs
    seen so far.  ``dropDuplicates`` on a stream keeps per-key state and
    emits each key once, on first sight — the streaming form of the
    reference's set-based dedup (SURVEY P4/A5).  Projecting only the key
    columns before the dedup makes the result order-independent (no
    arbitrary "first row wins" payload)."""
    return events.select("user_id", "event_type").dropDuplicates()


def click_purchase_left_join(events: DataFrame) -> DataFrame:
    """LEFT-OUTER stream-stream join: every click, matched or not.

    Matches emit immediately (like the inner join); an UNMATCHED click
    emits its null row only when the global watermark proves no purchase
    can still arrive for it — i.e. watermark > click_ts + 1h, where the
    multiple-watermark policy (default "min") sets watermark =
    min(max click_ts, max purchase_ts) - 1h.  This eviction-driven null
    emission is the semantic that makes outer stream joins safe at scale:
    state for a click is dropped at the same moment its null row emits,
    so neither grows unboundedly.  The DuckDB oracle reproduces exactly
    this set: all matches plus unmatched clicks older than the terminal
    watermark (rule pinned by probe at sf0.001: 204 of 205 batch-unmatched
    clicks emit; the one younger than watermark - 1h stays in state).
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour"))
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour"))
    return (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
            "leftOuter")
        .select(
            F.col("c_user").alias("user_id"), "click_id", "purchase_id",
            F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
            F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"))
    )


def click_purchase_full_join(events: DataFrame) -> DataFrame:
    """FULL-OUTER stream-stream join — both sides' state evicts into null
    rows: an unmatched click emits once the watermark passes click_ts + 1h
    (no purchase can still arrive for its window), an unmatched purchase
    once the watermark passes purchase_ts (no older click can still turn
    up).  Both rules pinned by probe at sf0.001 (204 unmatched clicks,
    195 of 197 unmatched purchases emit against the terminal watermark
    min(max click_ts, max purchase_ts) - 1h).
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour"))
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour"))
    return (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
            "fullOuter")
        .select(
            F.coalesce("c_user", "p_user").alias("user_id"),
            "click_id", "purchase_id",
            F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
            F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"))
    )


# Append-only log of per-execution micro-batch progress, one entry per
# run_available_now / run_rate_replay call: how much of the wall time
# was actual batch execution (triggerExecution / addBatch sums from
# StreamingQueryProgress) vs harness overhead (query start/stop,
# availableNow termination latency, the rate-replay poll).  bench.py
# snapshots the list length around each timed query and attaches the
# delta to BENCH_DETAIL.json, so streaming rows stop polluting
# round-over-round wall-clock comparisons (round-10 verdict item 7:
# the 1.3-1.6x streaming "movers" were trigger-wait, not compute).
RUN_STATS: list[dict] = []

# Driver-timed BATCH-side compute of hybrid stream+batch queries (static
# probe-index builds, rate-replay row indexing, centroid training) — real
# work the streaming trigger stats don't see, so without this it vanished
# from bench.py's compute-adjusted total and showed up as unexplained
# "overhead" (ADVICE r12; round-13 verdict task 5).  Call sites wrap the
# build in :func:`timed_batch_side`; ``_record_progress`` folds the
# pending total into the query's stats entry as ``batch_side_ms``.
_PENDING_BATCH_SIDE_MS: list[float] = []


@contextmanager
def timed_batch_side():
    """Time a batch-side build inside a hybrid streaming query; the wall
    is attributed to the NEXT recorded streaming run.  The body must
    materialize the work (localCheckpoint / a driver-side fit), else
    this times only plan construction."""
    import time
    t0 = time.perf_counter()
    try:
        yield
    finally:
        _PENDING_BATCH_SIDE_MS.append((time.perf_counter() - t0) * 1000)


def _record_progress(name: str, q) -> None:
    prog = q.recentProgress

    def ms(field: str) -> int:
        return int(sum((p.durationMs or {}).get(field, 0) for p in prog))

    RUN_STATS.append({
        "sink": name,
        "batches": len(prog),
        "input_rows": int(sum(p.numInputRows for p in prog)),
        "trigger_exec_ms": ms("triggerExecution"),
        "add_batch_ms": ms("addBatch"),
        "batch_side_ms": int(sum(_PENDING_BATCH_SIDE_MS)),
    })
    _PENDING_BATCH_SIDE_MS.clear()


def run_available_now(result: DataFrame, name: str,
                      mode: str = "complete",
                      no_data_batch: bool = True) -> DataFrame:
    """Execute a streaming query to completion (availableNow) into a
    memory sink; return the materialized result as a static DataFrame.
    ``mode="complete"`` for aggregates; ``mode="append"`` for
    stream-stream joins and dedup (which don't support complete).

    ``no_data_batch=False`` scopes
    ``spark.sql.streaming.noDataMicroBatches.enabled=false`` to this
    query (the conf is captured by the cloned session at ``.start()``,
    same mechanism as :func:`stream_state_partitions`).  The no-data
    finalization micro-batch exists to advance the watermark so that
    EVICTION-DRIVEN OUTPUT can emit (outer-join null rows, append-mode
    window closes); for queries whose every result row emits on
    arrival — stateless routing, inner joins, first-sight dedup,
    complete-mode aggregates — it runs a full extra micro-batch
    (plan + state commit) that emits nothing: measured 0.8-1.0 s of
    the inner join's 2.4 s wall at sf0.1.  Callers whose collected
    result depends on the terminal watermark (left/full outer joins,
    append windowed aggs) MUST keep the default."""
    spark = result.sparkSession
    ckpt = _checkpoint_dir(name)
    prev_ndb = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true")
    try:
        with stream_state_partitions(spark):
            spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
                           str(no_data_batch).lower())
            writer = (result.writeStream
                      .format("memory")
                      .queryName(name)
                      .outputMode(mode)
                      .trigger(availableNow=True))
            if ckpt is not None:
                writer = writer.option("checkpointLocation", ckpt)
            q = writer.start()
    finally:
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
                       prev_ndb)
    try:
        q.awaitTermination()
        out = spark.table(name).localCheckpoint()  # detach from sink table
        _record_progress(name, q)
    finally:
        # A failure between timed_batch_side and _record_progress would
        # otherwise leave a stale pending batch-side wall that the NEXT
        # streaming query's stats would absorb (ADVICE r13).  On the
        # success path _record_progress already drained the list.
        _PENDING_BATCH_SIDE_MS.clear()
        q.stop()
        if ckpt is not None:
            shutil.rmtree(ckpt, ignore_errors=True)
    return out


def run_available_now_mapped(source: DataFrame, transform, name: str,
                             no_data_batch: bool = True) -> DataFrame:
    """availableNow via ``foreachBatch``: apply ``transform`` — a pure
    ROW-LOCAL DataFrame→DataFrame function — to every micro-batch after
    a GUARDED round-robin spread (tables.spread_small_scan), and return
    the union of the materialized batch outputs.

    Why this exists (r15): a stateless map-only streaming stage plans
    NO exchange, so its parallelism is exactly the source's — and a
    micro-batch arriving as one small file executes the entire per-row
    compute as ONE task (measured: stream_contamination_spans' 5 s wall
    was a single-task 2.5-3 s bloom-probe stage on a 32-core box).
    Inside ``foreachBatch`` each batch is a regular DataFrame, so the
    SAME guard the batch operators use applies: spread only when the
    scan yields fewer partitions than ``defaultParallelism``.  At scale
    a trigger's files >> cores and the spread is a plan-time no-op —
    nothing here changes the stateless/no-state scale story, and the
    sink-side contract (one output row per transformed input row) is
    unchanged from the memory-sink path.

    ``transform`` MUST be row-local (no aggregation across batches —
    output mode semantics are the caller's responsibility, matching
    ``mode="append"`` of :func:`run_available_now`).

    BOUNDED-BATCH-COUNT ASSUMPTION (ADVICE r15): each micro-batch's
    transformed output is localCheckpoint-ed into a driver-held list
    and unioned at the end — O(batches) non-replicated block-manager
    storage and plan depth, and localCheckpoint blocks are lost on
    executor failure.  Correct for availableNow over a fixture
    directory (a handful of batches); a many-file/long-lived source
    must NOT use this runner as-is — cap batches via
    ``maxFilesPerTrigger`` or write each batch to a real sink and read
    that back instead of chaining unions."""
    from ..tables import spread_small_scan

    spark = source.sparkSession
    ckpt = _checkpoint_dir(name)
    out_frames: list[DataFrame] = []

    def _fb(batch_df: DataFrame, _bid: int) -> None:
        # localCheckpoint materializes the transformed batch INSIDE the
        # micro-batch (so triggerExecution keeps timing the compute) and
        # detaches it from the source, which is gone after q.stop().
        # No pre-check scan: every action on the batch frame re-reads
        # the trigger's files, so the one materialization is the one
        # pass (an empty no-data batch just yields an empty frame).
        out_frames.append(
            transform(spread_small_scan(batch_df)).localCheckpoint())

    prev_ndb = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true")
    try:
        with stream_state_partitions(spark):
            spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
                           str(no_data_batch).lower())
            writer = (source.writeStream
                      .queryName(name)
                      .foreachBatch(_fb)
                      .trigger(availableNow=True))
            if ckpt is not None:
                writer = writer.option("checkpointLocation", ckpt)
            q = writer.start()
    finally:
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
                       prev_ndb)
    try:
        q.awaitTermination()
        _record_progress(name, q)
    finally:
        _PENDING_BATCH_SIDE_MS.clear()
        q.stop()
        if ckpt is not None:
            shutil.rmtree(ckpt, ignore_errors=True)
    if not out_frames:
        # empty source: derive the output schema from an empty batch
        empty = spark.createDataFrame([], source.schema)
        return transform(empty)
    out = out_frames[0]
    for f in out_frames[1:]:
        out = out.unionByName(f)
    return out


def run_rate_replay(result: DataFrame, name: str, n_expected: int,
                    timeout_s: float = 180.0) -> DataFrame:
    """Execute a rate-source streaming aggregate until it has absorbed
    ``n_expected`` input rows, then snapshot the memory sink.

    A rate source never ends (ticks keep coming; past the fixture they
    join to nothing), so availableNow can't bound it — completion is
    instead observed from the query's OWN progress log:
    ``sum(numInputRows over recentProgress) >= n_expected``, a
    driver-side read of retained StreamingQueryProgress objects that
    runs NO Spark job.  Both replay transports deliver the fixture in
    source order (rate tick k stream-static-joins to fixture row k;
    the PyDS reader's offsets are row positions), so input counts are
    sequential from 0 and the batch that brings the total to
    ``n_expected`` is the one that absorbed the last fixture row; its
    memory-sink commit precedes its progress entry, so the sink is
    complete when the probe fires — the same moment the previous
    sink-aggregation poll (sum of the sink's counts == ``n_expected``)
    observed.

    r16 (verdict task 1): the old probe ran a ~70 ms Spark
    job over the sink every 50 ms — decomposing the pyds row showed
    25-47 poll jobs RACING the micro-batches for cores, 1.8-6.2 s of
    a 3-6 s wall, and all of its core-count anti-scaling and attempt
    spread.

    This is purely a replay-adapter harness; a real Kafka/Pub/Sub
    deployment runs the same transform with a normal long-lived
    trigger and no completion probe."""
    import time

    spark = result.sparkSession
    ckpt = _checkpoint_dir(name)
    with stream_state_partitions(spark):
        writer = (result.writeStream
                  .format("memory")
                  .queryName(name)
                  .outputMode("complete"))
        if ckpt is not None:
            writer = writer.option("checkpointLocation", ckpt)
        q = writer.start()
    try:
        done = 0
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            done = int(sum(p.numInputRows for p in q.recentProgress))
            if done >= n_expected:
                break
            # 20 ms poll: the probe parses the driver-side progress
            # JSON only (no job), so fine-grained polling is free and
            # minimizes completion-detection latency.
            time.sleep(0.02)
        else:
            raise TimeoutError(
                f"rate replay {name!r} absorbed {done}/{n_expected} rows "
                f"within {timeout_s}s")
        out = spark.table(name).localCheckpoint()
        _record_progress(name, q)
    finally:
        # Same stale-pending guard as run_available_now: the TimeoutError
        # path stops the query without recording, so drain here too.
        _PENDING_BATCH_SIDE_MS.clear()
        q.stop()
        if ckpt is not None:
            shutil.rmtree(ckpt, ignore_errors=True)
    return out


def write_events_batch(batch_df: DataFrame, batch_id: int, path: str) -> None:
    """Idempotent micro-batch write: dynamic partition overwrite keyed by
    (event_date, ingest_batch).  Replaying batch N — foreachBatch is
    at-least-once when a crash lands between the sink write and the
    checkpoint commit — rewrites exactly N's own partitions instead of
    appending duplicates, which upgrades the sink to effectively-once.
    ``event_date`` stays the leading partition column so readers still
    prune by date."""
    (batch_df.withColumn("event_date", F.to_date("ts"))
     .withColumn("ingest_batch", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("event_date", "ingest_batch").parquet(path))


def stream_to_partitioned_table(events: DataFrame, path: str,
                                checkpoint: str) -> None:
    """The streaming-lakehouse sink: ``foreachBatch`` writing each
    micro-batch into a hive-partitioned parquet table (partitioned by
    event date), effectively-once: the checkpoint skips committed batches
    on restart (a re-run with no new input writes nothing), and a batch
    REPLAY after a mid-commit crash overwrites its own partitions rather
    than appending duplicates (see ``write_events_batch``).

    At scale this is the standard pattern for continuous ingestion into
    a warehouse layout: the stream stays incremental, the table stays
    partition-pruned for readers, and failure recovery replays only
    uncommitted batches (the checkpoint records which source files each
    batch consumed)."""
    q = (events.writeStream
         .foreachBatch(lambda df, bid: write_events_batch(df, bid, path))
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    q.stop()
