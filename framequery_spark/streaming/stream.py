"""Structured Streaming operators over the events stream.

The reference has no streaming surface (SURVEY §2.1) — this is the
beyond-parity Spark-native path: `readStream` → windowed aggregation →
`writeStream`. Batch/stream parity: a tumbling-window aggregation with
`Trigger.AvailableNow` over a static parquet directory must equal the batch
GROUP BY date_trunc — which is exactly how the driver's DuckDB oracle checks
it.

At scale: the same code runs against a Kafka/file source; state lives in the
state store keyed by (event_type, window), watermark bounds state size.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def scratch_dir() -> str:
    """Scratch root for ephemeral streaming checkpoints/sinks: tmpfs
    (/dev/shm) when present — offset/commit logs fsync per micro-batch, so
    RAM-backed checkpoints shave fixed per-query latency — else the normal
    temp dir. For durable pipelines callers pass real storage paths; this
    is only the default for bench/test-scale ephemeral state."""
    import os
    import tempfile

    shm = "/dev/shm"
    return shm if os.path.isdir(shm) and os.access(shm, os.W_OK) \
        else tempfile.gettempdir()


def _stream_partitions(spark: SparkSession, path: str | None,
                       floor: int = 1) -> int:
    """Shuffle-partition / state-store count for a drain of `path`, sized
    to the DATA rather than a constant (guide §2.2: partition count should
    track volume — AQE does this for batch plans but does not apply to
    streaming, so the static setting is the only lever). ≈64 MB of source
    per state store, capped at the session parallelism so a cluster-scale
    drain still fans out to every core. The previous fixed 8 paid 8
    stores' worth of per-batch file/commit churn for MB-scale
    micro-batches (measured r13: the pure-JVM stateful entries run
    20-50% faster at the data-sized count).

    `floor` is for operators whose per-partition work is NOT proportional
    to bytes: applyInPandasWithState processes its groups SERIALLY per
    partition in a Python worker (measured r13: 1 partition tripled
    op_stateful_counts/op_stream_funnel — per-group pandas overhead times
    ~1.5k users on one worker), and foreachBatch bodies are full batch
    join/aggregate pipelines that need real parallelism. Those call sites
    keep the previous 8 as the floor and still scale up with data."""
    import os

    cores = spark.sparkContext.defaultParallelism
    total = 0
    try:
        if path is not None and os.path.isfile(path):
            total = os.path.getsize(path)
        elif path is not None and os.path.isdir(path):
            for root, _, files in os.walk(path):
                total += sum(os.path.getsize(os.path.join(root, f))
                             for f in files)
    except OSError:
        total = 0
    if total <= 0:
        return min(8, max(1, cores))  # unknown source: the old default
    return max(1, min(cores, max(floor, total // (64 << 20) + 1)))


def _drain(spark: SparkSession, writer, src_path: str | None,
           floor: int = 1) -> None:
    """Run a configured ``DataStreamWriter`` to completion
    (Trigger.AvailableNow) with shuffle partitions sized by
    :func:`_stream_partitions` — the number of state-store instances, each
    with its own checkpoint files, delta/snapshot writes and commit per
    micro-batch, is fixed from this setting at the first batch. The
    setting is restored in ``finally``, also when the query fails; the
    downstream batch reads of the sink are unaffected."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(_stream_partitions(spark, src_path, floor)))
    try:
        writer.trigger(availableNow=True).start().awaitTermination()
    finally:
        spark.conf.set(key, old)


def read_parquet_stream(spark: SparkSession, path: str,
                        max_files_per_trigger: int | None = None
                        ) -> DataFrame:
    """File-based stream over a parquet path (schema probed from a batch
    read; single-file paths become parent dir + pathGlobFilter, since
    FileStreamSource wants a directory). `max_files_per_trigger` bounds
    each micro-batch to that many source files — the batch-boundary
    control the MERGE-contract tests use to replay a directory as a
    deterministic multi-batch sequence (FileStreamSource orders files by
    modification time, oldest first)."""
    import os

    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    if os.path.isfile(path):
        parent, fname = os.path.split(path)
        reader = reader.option("pathGlobFilter", fname)
        path = parent
    return reader.parquet(path)


def stream_decontaminate(spark: SparkSession, docs_path: str,
                         benchmark: DataFrame, n: int = 8,
                         doc_filter=None) -> DataFrame:
    """Streaming benchmark-contamination screen: documents arrive as a file
    stream, each micro-batch's n-grams are filtered map-side by the
    **static broadcast** benchmark gram set (stream-static equi join — no
    stream-side state for the join), and per-document hit counts accumulate
    in the aggregation state store (complete mode).

    Equals batch ``contamination.contaminated_docs`` exactly — the oracle.
    At scale this is the ingest-time screen: new crawl shards stream in,
    the benchmark set changes rarely (re-broadcast per batch), and state is
    one counter per *contaminated* doc (clean docs never reach the agg
    because the join drops them map-side)."""
    from ..operators.contamination import doc_ngrams, ngram_strings

    stream = read_parquet_stream(spark, docs_path)
    if doc_filter is not None:
        stream = stream.where(doc_filter)
    grams = stream.select(
        F.col("doc_id"),
        F.explode(ngram_strings(F.col("text"), n)).alias("gram"))
    bench_grams = doc_ngrams(benchmark, n=n).select("gram").distinct()
    hits = grams.join(F.broadcast(bench_grams), "gram")
    agg = hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hits"))
    return _run_to_memory(spark, agg, "decontam_", mode="complete",
                          src_path=docs_path)


def stream_fulltext_counts(spark: SparkSession, docs_path: str,
                           query: str, config: str = "simple",
                           group_col: str = "source") -> DataFrame:
    """Streaming full-text match counter: documents arrive as a file
    stream, each is matched ROW-LOCALLY against a compile-time tsquery
    (functions/textsearch.py — the whole tsvector build + match is JVM
    Column expressions, so it streams with zero join/filter state), and
    per-group match counts accumulate in the aggregation store (complete
    mode; state = one counter per group).

    Equals the batch GROUP BY restated over the same predicate — the
    oracle. At scale this is the ingest-time content monitor: match
    rates per source as shards land, no stream-side state beyond the
    group counters."""
    from ..functions.textsearch import (compile_match, parse_tsquery,
                                        to_tsvector)

    node = parse_tsquery(query, config)
    stream = read_parquet_stream(spark, docs_path)
    hit = compile_match(to_tsvector(F.col("text"), config), node)
    agg = (stream.groupBy(F.col(group_col))
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum(hit.cast("long")).alias("n_match")))
    return _run_to_memory(spark, agg, "fts_", mode="complete",
                          src_path=docs_path)


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-based stream over the events parquet; event-time normalized to
    session-timezone TIMESTAMP. The stream schema is probed from a batch
    read of the same path rather than hardcoded: Spark <=4.0 (with the
    nanosAsLong legacy flag) materializes parquet TIMESTAMP(NANOS) as
    LongType raw nanos while Spark >=4.1 reads it natively as
    TIMESTAMP_NTZ, and declaring the wrong one either errors or silently
    rescales the values (the flag is set before the probe)."""
    from ..sources.testdata import normalize_ts_column

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_ts_column(read_parquet_stream(spark, path), "ts")


def windowed_event_stats(events: DataFrame, window: str = "1 hour",
                         watermark: str = "1 hour") -> DataFrame:
    """Tumbling-window per-type counts + value sums with late-data watermark."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.col("event_type"), F.window("ts", window).alias("w"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select("event_type",
                    F.col("w.start").alias("window_start"),
                    "n", "sum_value"))


def _run_to_memory(spark: SparkSession, agg: DataFrame, prefix: str,
                   mode: str = "complete",
                   src_path: str | None = None,
                   parts_floor: int = 1) -> DataFrame:
    """Run a streaming aggregation to completion (Trigger.AvailableNow,
    memory sink) and return the sink table as a DataFrame. The checkpoint
    lives on tmpfs-preferred scratch (offset/commit logs fsync per
    micro-batch — RAM-backed logs shave the fixed per-query cost) and is
    removed after the drain, also when the query fails. The sink's temp
    view holds its rows in driver memory; it is registered with
    operators.cache before the drain, so release_cached() drops it even
    after a failed query. `src_path` sizes the state-store count to the
    source (see _stream_partitions)."""
    import os
    import shutil

    from ..operators.cache import track_temp_view

    name = prefix + uuid.uuid4().hex[:12]
    ckpt = os.path.join(scratch_dir(), "fq_stream_ckpt", name)
    track_temp_view(spark, name)
    try:
        _drain(spark, agg.writeStream.format("memory").queryName(name)
               .outputMode(mode).option("checkpointLocation", ckpt),
               src_path, parts_floor)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def run_stream_to_df(spark: SparkSession, events_path: str,
                     window: str = "1 hour") -> DataFrame:
    """Run the windowed aggregation as a real streaming query
    (Trigger.AvailableNow, memory sink, complete mode) and return the final
    result as a DataFrame."""
    stream = read_event_stream(spark, events_path)
    agg = windowed_event_stats(stream, window=window)
    return _run_to_memory(spark, agg, "stream_", src_path=events_path)


def stream_session_stats(spark: SparkSession, events_path: str,
                         gap: str = "30 minutes",
                         watermark: str = "2 hours") -> DataFrame:
    """Native Spark stateful sessionization: per-user session windows that
    close after `gap` of inactivity, as a real streaming query
    (F.session_window — the state store merges windows as events arrive;
    the watermark bounds state and admits late data up to its horizon).

    Session semantics match the batch `sessionize`/oracle: a new session
    starts when the gap from the previous event is >= `gap` (Spark merges
    an event into a session only while ts < session_end = last_ts + gap).
    Output: (user_id, session_start, n_events, sum_value) — session_start
    is the first event's timestamp, so batch and streaming agree exactly.
    """
    stream = read_event_stream(spark, events_path)
    agg = (stream
           .withWatermark("ts", watermark)
           .groupBy(F.col("user_id"),
                    F.session_window("ts", gap).alias("w"))
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value"))
           .select("user_id", F.col("w.start").alias("session_start"),
                   "n_events", "sum_value"))
    return _run_to_memory(spark, agg, "sessions_", src_path=events_path)


def stream_dedup_counts(spark: SparkSession, events_path: str,
                        watermark: str = "2 hours") -> DataFrame:
    """Streaming deduplication chained into a streaming aggregation — two
    stateful operators in one query (Spark >= 3.5 multi-stateful support):
    events are deduplicated on (event_type, user_id, minute) with
    `dropDuplicates` state bounded by the event-time watermark, then the
    survivors feed a per-type count. Equals the batch
    COUNT(DISTINCT user_id, minute) per type, which is the oracle.

    At scale this is the at-least-once-source cleanup shape: upstream
    retries/replays collapse in the dedup state store (watermark evicts
    keys older than the horizon, so state is bounded by arrival skew, not
    history), and only deduplicated rows reach the aggregation."""
    stream = read_event_stream(spark, events_path)
    keyed = (stream
             .withWatermark("ts", watermark)
             .select("event_type", "user_id",
                     F.date_trunc("minute", F.col("ts")).alias("ts_min"),
                     "ts"))
    deduped = keyed.dropDuplicates(["event_type", "user_id", "ts_min"])
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_unique"))
    return _run_to_memory(spark, agg, "dedup_", src_path=events_path)


def stream_events_to_parquet(spark: SparkSession, events_path: str,
                             out_dir: str, checkpoint_dir: str,
                             partition_by=("event_type",)) -> DataFrame:
    """Streaming ingest to a real fault-tolerant sink: events stream into a
    hive-partitioned parquet layout with exactly-once file-sink semantics
    (the checkpoint + _spark_metadata commit log make restarts idempotent —
    rerunning after a crash neither loses nor duplicates rows). This is the
    100 TB ingest shape: per-partition parallel writes, partition pruning
    for readers, checkpointed progress for the continuous pipeline.

    Trigger.AvailableNow drains the source and stops, so the function is
    synchronous; returns a batch DataFrame over the written output."""
    stream = read_event_stream(spark, events_path)
    _drain(spark, stream.writeStream
           .format("parquet")
           .option("path", out_dir)
           .option("checkpointLocation", checkpoint_dir)
           .partitionBy(*partition_by)
           .outputMode("append"), events_path)
    return spark.read.parquet(out_dir)


def stream_ingest_dedup(spark: SparkSession, docs_path: str,
                        corpus: DataFrame, out_dir: str,
                        checkpoint_dir: str, threshold: float = 0.7,
                        num_perm: int = 64, bands: int = 32,
                        doc_filter=None) -> DataFrame:
    """The daily-crawl ingest pipeline as one streaming query: new documents
    arrive as a file stream, each micro-batch is near-dup-screened against
    the existing corpus (MinHash/LSH via ``dedup.dedup_against`` inside
    foreachBatch), and only survivors land in a checkpointed parquet sink.

    foreachBatch is the right tool here — the dedup is a batch-shaped
    multi-stage join pipeline per micro-batch, not row-wise state. Each
    batch OVERWRITES its own `batch=<id>/` subdirectory (plain append
    would not be transactional: a crash mid-write followed by the
    checkpoint replaying the batch would duplicate survivors; overwrite
    of the per-batch dir makes the replay idempotent). At scale the
    corpus signatures would be precomputed parquet
    (dedup_against recomputes them per batch here — see its docstring);
    batch independence means a batch's survivors are NOT screened against
    earlier batches' survivors, matching the daily-ingest contract where
    the corpus is the dedup authority between compactions.

    Synchronous (Trigger.AvailableNow); returns the survivors read back
    from the sink. Deterministic, so the result provably equals the batch
    ``dedup_against`` over the same inputs — the oracle."""
    from ..operators.dedup import dedup_against

    stream = read_parquet_stream(spark, docs_path)
    if doc_filter is not None:
        stream = stream.where(doc_filter)

    def screen(batch: DataFrame, batch_id: int) -> None:
        out = dedup_against(batch, corpus, threshold=threshold,
                            num_perm=num_perm, bands=bands)
        out.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    _drain(spark, stream.writeStream.foreachBatch(screen)
           .option("checkpointLocation", checkpoint_dir), docs_path, floor=8)
    # partition discovery over batch=<id>/ dirs appends a `batch` column;
    # drop it so the streaming result is schema-identical to the batch
    # dedup_against oracle it provably equals
    return spark.read.parquet(out_dir).drop("batch")


def stateful_user_stats(spark: SparkSession, events_path: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    accumulates per-user (n_events, sum_value) in the state store across
    micro-batches and emits the updated totals each batch.

    With Trigger.AvailableNow over a static directory the final emission per
    user equals the batch GROUP BY — which is how the oracle checks it. At
    scale the same operator runs over Kafka with ProcessingTimeTimeout for
    state expiry."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = read_event_stream(spark, events_path)
    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ])

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "sum_value": [round(total, 2)]})

    agg = (stream.groupBy("user_id")
           .applyInPandasWithState(update, out_schema, state_schema,
                                   "update", GroupStateTimeout.NoTimeout))
    latest = _run_to_memory(spark, agg, "stateful_", mode="update",
                             src_path=events_path, parts_floor=8)
    # update mode appends one row per user per batch; keep the last emission
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (latest.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("user_id", "n_events", "sum_value"))


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization (gap-based) — the stateful-streaming analogue
    uses applyInPandasWithState; this DataFrame version is the oracle-able
    equivalent: session starts where the gap from the previous event of the
    same user exceeds the threshold."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    prev_ts = F.lag("ts").over(w)
    # microsecond precision (unix_timestamp would truncate sub-second gaps);
    # cast("timestamp") first so TIMESTAMP_NTZ inputs (Spark >=4.1 parquet
    # nanos reads) are accepted — unix_micros rejects NTZ directly.
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = ts_us - F.unix_micros(prev_ts.cast("timestamp"))
    new_session = F.when(
        prev_ts.isNull() | (gap > gap_minutes * 60 * 1_000_000), 1).otherwise(0)
    session_idx = F.sum(new_session).over(
        Window.partitionBy("user_id").orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return events.withColumn("session_id", session_idx)


def session_stats(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Per-session stats: (user_id, session_id, n_events, sum_value)."""
    s = sessionize(events, gap_minutes)
    return (s.groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"),
                 F.min("ts").alias("session_start")))


def stream_interval_join(spark: SparkSession, events_path: str,
                         left_type: str = "click",
                         right_type: str = "purchase",
                         horizon_minutes: int = 15,
                         watermark: str = "2 hours") -> DataFrame:
    """Watermarked stream-stream interval join: every `right_type` event
    that follows a `left_type` event by the same user within
    `horizon_minutes` (click→purchase attribution). Both sides are real
    streams; the event-time range condition plus the two watermarks let
    Spark evict join state once the watermark passes left_ts + horizon, so
    state is bounded by (arrival skew + horizon), not by history.

    Inner-join matches are emitted as soon as they occur (only outer-join
    null padding waits for the watermark), so a Trigger.AvailableNow run
    over a static directory equals the batch interval join exactly — which
    is how the driver's oracle checks it. `delta_us` is the µs gap, exposed
    as a plain BIGINT so the cross-engine comparison is unit-exact.
    """
    left = (read_event_stream(spark, events_path)
            .where(F.col("event_type") == left_type)
            .select(F.col("user_id"),
                    F.col("event_id").alias("left_id"),
                    F.col("ts").alias("left_ts"))
            .withWatermark("left_ts", watermark))
    right = (read_event_stream(spark, events_path)
             .where(F.col("event_type") == right_type)
             .select(F.col("user_id").alias("r_user_id"),
                     F.col("event_id").alias("right_id"),
                     F.col("ts").alias("right_ts"))
             .withWatermark("right_ts", watermark))
    joined = left.join(
        right,
        on=[left["user_id"] == right["r_user_id"],
            F.col("right_ts") >= F.col("left_ts"),
            F.col("right_ts") <=
            F.col("left_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES")],
        how="inner")
    out = joined.select(
        "user_id", "left_id", "right_id",
        (F.unix_micros("right_ts") - F.unix_micros("left_ts"))
        .alias("delta_us"))
    return _run_to_memory(spark, out, "ij_", mode="append",
                          src_path=events_path)


def stream_funnel_counts(spark: SparkSession, events_path: str,
                         stages: list[str],
                         within_seconds: int | None = None) -> DataFrame:
    """Streaming funnel: the incremental counterpart of
    operators/events.py:funnel_counts, as a custom stateful operator
    (applyInPandasWithState). State per user is the greedy completion
    chain (the stage timestamps, a few longs); each micro-batch folds its
    (ts-sorted) new events into the chain and emits the updated depth.
    Depth is monotone non-decreasing, so the per-user latest emission is
    the max — final counts over a Trigger.AvailableNow replay of a static
    directory equal the batch funnel exactly, which is how the driver's
    oracle checks it.

    Ordering contract (documented, standard for funnel-over-log): events
    must arrive in event-time order ACROSS micro-batches per user (within
    a batch they are sorted here). A static parquet replay satisfies
    this; a disordered source needs an upstream watermark+sort stage.
    At scale the state is O(|stages|) longs per user — far smaller than
    sessionization state — and expires via ProcessingTimeTimeout when run
    over an unbounded source."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.events import depth_to_stage_counts

    if not stages:
        raise ValueError("funnel needs at least one stage")
    if len(set(stages)) != len(stages):
        raise ValueError("funnel stages must be distinct")
    n = len(stages)
    idx = {s: i for i, s in enumerate(stages)}
    within_us = (int(within_seconds) * 1_000_000
                 if within_seconds is not None else None)

    stream = (read_event_stream(spark, events_path)
              .filter(F.col("event_type").isin(list(stages)))
              .select("user_id", "ts", "event_type"))

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("depth", T.IntegerType()),
    ])
    # the chain as a csv string of epoch-micros: a tiny, codec-stable blob
    state_schema = T.StructType([T.StructField("times", T.StringType())])

    def update(key, pdfs, state: GroupState):
        done: list[int] = []
        if state.exists and state.get[0]:
            done = [int(x) for x in state.get[0].split(",")]
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values("ts", kind="mergesort")
        for ts, et in zip(batch["ts"], batch["event_type"]):
            if len(done) >= n:
                break
            if et != stages[len(done)]:
                continue
            t = int(pd.Timestamp(ts).value // 1_000)  # ns -> µs
            if done and t <= done[-1]:
                continue
            if done and within_us is not None and t - done[0] > within_us:
                continue
            done.append(t)
        state.update((",".join(str(t) for t in done),))
        yield pd.DataFrame({"user_id": [key[0]], "depth": [len(done)]})

    agg = (stream.groupBy("user_id")
           .applyInPandasWithState(update, out_schema, state_schema,
                                   "update", GroupStateTimeout.NoTimeout))
    latest = _run_to_memory(spark, agg, "funnel_", mode="update",
                             src_path=events_path, parts_floor=8)
    depth = (latest.groupBy("user_id")
             .agg(F.max("depth").alias("d")))
    return depth_to_stage_counts(depth, stages)


def stream_event_anomaly(spark: SparkSession, events_path: str,
                         bucket: str = "hour",
                         z_threshold: float = 3.0) -> DataFrame:
    """Streaming rate-anomaly monitor: the per-(type, bucket) counts
    accumulate in a REAL streaming aggregation (Trigger.AvailableNow,
    complete mode — the same watermark-free windowed-count shape as
    run_stream_to_df), then the batch operator's own scoring half
    (events.score_rate_counts) scores the finished output. An
    AvailableNow replay therefore equals events.py:event_rate_anomaly
    row-for-row, so this entry reuses its oracle.

    Streaming state = one counter per (type, bucket) — bounded by the
    observed type x bucket grid, never event count; the z-score pass is
    a bounded-aggregate batch job over the sink table.
    """
    from ..operators.events import score_rate_counts

    if bucket not in ("minute", "hour", "day", "week"):
        raise ValueError("bucket must be minute, hour, day or week")
    stream = read_event_stream(spark, events_path)
    counts = (stream.groupBy(
        F.col("event_type").alias("etype"),
        F.date_trunc(bucket, F.col("ts")).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n")))
    done = _run_to_memory(spark, counts, "anomaly_", src_path=events_path)
    return score_rate_counts(done, "event_type", z_threshold)


def stream_upsert_latest(spark: SparkSession, events_path: str,
                         out_dir: str, checkpoint_dir: str,
                         key_col: str = "user_id",
                         ts_col: str = "ts",
                         tiebreak_col: str = "event_id",
                         max_files_per_trigger: int | None = None
                         ) -> DataFrame:
    """CDC-style latest-wins upsert sink: the event stream merges into a
    keyed parquet table where each key holds its LATEST row (max ts,
    ``tiebreak_col`` desc on equal timestamps — deterministic, so the
    final table restates in SQL). The ingest shape behind materialized
    user/entity state: dimensions, feature stores, session snapshots.

    foreachBatch implements the merge: current sink ∪ batch → keep the
    per-key argmax → write the next version dir and flip a process-local
    version pointer (never overwrite the directory being read). The
    version pointer is process-local, so the durability contract is the
    same fresh-dirs-per-run one op_stream_ingest uses; Spark has no
    transactional row-level MERGE sink without a lakehouse format — at
    production scale this foreachBatch body is one `MERGE INTO`
    delta/iceberg statement (whose log IS the version pointer), and the
    per-key argmax logic and its determinism carry over unchanged.

    State per key is ONE row; the merge shuffles on the key only.
    Synchronous (Trigger.AvailableNow); returns the final keyed table.
    `max_files_per_trigger` forces multi-batch replay over a directory —
    tests/test_operators.py pins the MERGE INTO contract with it: the
    foreachBatch body and the engine's own conditional-arm MERGE produce
    identical tables over identical batch sequences.
    """
    stream = read_parquet_stream(spark, events_path,
                                 max_files_per_trigger=max_files_per_trigger)
    state = {"v": 0}

    def merge(batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window as W

        cur_dir = f"{out_dir}/v={state['v']}"
        nxt = f"{out_dir}/v={1 - state['v']}"
        try:
            cur = spark.read.parquet(cur_dir).select(*batch.columns)
        except Exception:
            cur = None
        allrows = batch if cur is None else cur.unionByName(batch)
        w = W.partitionBy(key_col).orderBy(
            F.col(ts_col).cast("timestamp").desc(),
            F.col(tiebreak_col).desc())
        latest = (allrows.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") == 1).drop("__rn"))
        latest.write.mode("overwrite").parquet(nxt)
        state["v"] = 1 - state["v"]

    _drain(spark, stream.writeStream.foreachBatch(merge)
           .option("checkpointLocation", checkpoint_dir), events_path,
           floor=8)
    return spark.read.parquet(f"{out_dir}/v={state['v']}")
