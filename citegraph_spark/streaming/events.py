"""Structured Streaming over the events table.

The reference has no streaming surface at all (SURVEY.md §2.10); this is
the beyond-reference extension mandated by the build plan. The streaming
plans reuse the SAME logical shapes as the batch event queries
(plans/events_queries.py) — `F.window` tumbling windows, watermarks for
late data, and an `applyInPandasWithState` custom stateful operator —
and the tests assert the streaming result equals the batch result on the
same input (replayed through a parquet file source).

Scale notes: event-time watermarks bound state; the windowed aggregate
state is (window × event_type) — small; the stateful per-user counter
uses GroupState with a timeout so abandoned users age out.

Custom state API choice: `applyInPandasWithState` (GroupState), not the
newer `transformWithStateInPandas` — the TWS Python state-server
protocol needs the `google.protobuf` package, which is absent/broken in
this container (probed: STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE,
ImportError google.protobuf.descriptor). Both express the same
bounded-state semantics; swap-in is mechanical where protobuf exists.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sources.local import local_rows


def _events_read_schema(spark: SparkSession, path: str):
    """Physical read schema of an events parquet file, plus whether `ts`
    surfaces as a raw long (TIMESTAMP(NANOS) files under nanosAsLong) or
    as a native timestamp type (micros files). The file source needs a
    declared schema that matches the physical encoding, and the driver
    has shipped BOTH encodings across testdata generations — detect, not
    assume."""
    df = spark.read.parquet(path)
    return df.schema, dict(df.dtypes).get("ts") == "bigint"


def _normalize_ts(df: DataFrame, ts_is_long: bool) -> DataFrame:
    """ts → session-tz TIMESTAMP for watermarks/windows, from either
    encoding (nanos-as-long or native timestamp[_ntz])."""
    if ts_is_long:
        # ns exceed 2^53: integer DIV, not float division
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (one-file replay for
    local verification; swap for kafka/rate in production)."""
    schema, ts_is_long = _events_read_schema(spark, f"{sf_dir}/events.parquet")
    raw = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")  # basePath must be a dir
        .load(sf_dir)
    )
    return _normalize_ts(raw, ts_is_long)


def streaming_windowed_agg(events: DataFrame) -> DataFrame:
    """15-minute tumbling windows per event_type with a 30-minute
    watermark — identical logical shape to the batch
    `events_windowed_agg`."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("value_sum"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "value_sum",
        )
    )


def run_windowed_stream_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the windowed aggregate through an actual streaming query
    (memory sink, complete mode), synchronously to completion; returns
    the final result table."""
    import tempfile

    events = _read_events_stream(spark, sf_dir)
    agg = streaming_windowed_agg(events)
    name = "stream_windowed_out"
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
    return spark.table(name)


def _count_state_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Custom stateful operator: running per-user event count + value sum
    persisted in GroupState across micro-batches."""
    (user_id,) = key
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "value_sum": [round(total, 2)]}
    )


def run_stateful_counts_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState demo: per-user running counters, driven to
    completion over the parquet replay; returns the final per-user rows
    (last emitted row per user)."""
    import tempfile

    events = _read_events_stream(spark, sf_dir)
    out = events.groupBy("user_id").applyInPandasWithState(
        _count_state_fn,
        outputStructType="user_id bigint, n_events bigint, value_sum double",
        stateStructType="n bigint, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = "stream_stateful_out"
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
    # last update per user wins
    from pyspark.sql import Window

    t = spark.table(name).withColumn("_i", F.monotonically_increasing_id())
    w = Window.partitionBy("user_id").orderBy(F.col("_i").desc())
    return (
        t.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events", "value_sum")
    )


def run_windowed_append_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode + watermark demo: the events are replayed as TWO
    chronological files with maxFilesPerTrigger=1, so the watermark set by
    the first micro-batch finalizes (and emits exactly once) the windows
    older than max(ts) - 30 min as later batches arrive. This is the
    late-data eviction contract a production stream relies on; the memory
    sink then holds only FINALIZED windows."""
    import os
    import tempfile

    from pyspark.sql import functions as F  # noqa: F811

    tmp = tempfile.mkdtemp()
    schema, ts_is_long = _events_read_schema(spark, f"{sf_dir}/events.parquet")
    batch = _normalize_ts(
        spark.read.parquet(f"{sf_dir}/events.parquet"), ts_is_long
    ).orderBy("ts")
    n = batch.count()
    half = batch.limit(n // 2)
    rest = batch.subtract(half)
    half.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/f0")
    rest.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/f1")
    os.makedirs(f"{tmp}/in", exist_ok=True)
    for i, sub in enumerate(("f0", "f1")):
        for f in os.listdir(f"{tmp}/{sub}"):
            if f.endswith(".parquet"):
                os.rename(f"{tmp}/{sub}/{f}", f"{tmp}/in/{i:02d}.parquet")

    # ts was normalized to TIMESTAMP before the halves were written, so
    # the replay files stream back with the batch schema, no further fix
    raw = (
        spark.readStream.format("parquet")
        .schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .load(f"{tmp}/in")
    )
    agg = streaming_windowed_agg(raw)
    name = "stream_windowed_append_out"
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
    try:
        res = spark.table(name)
        # materialize before deleting the replay files (same cleanup
        # contract as the other foreachBatch/statestore demos)
        return local_rows(spark, res.collect(), res.schema)
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


def _session_state_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Stateful sessionization: per-user open-session state (start, last
    seen, count) carried across micro-batches; a session older than the
    gap closes and is emitted when the user's next event arrives. (In
    production add GroupStateTimeout + state.setTimeoutDuration to also
    evict idle users' open sessions; with the bounded replay used in the
    demo/tests, timeout wake-up batches would spin processAllAvailable
    forever, so the final open session per user simply stays in state.)"""
    (user_id,) = key
    GAP_S = 30 * 60

    sessions = []
    start, last, n = state.get if state.exists else (None, None, 0)
    ts_all = []
    for pdf in pdfs:
        ts_all.extend(int(t) for t in pdf["ts_epoch"])
    for t in sorted(ts_all):
        if start is None:
            start, last, n = t, t, 1
        elif t - last > GAP_S:
            sessions.append((start, n))
            start, last, n = t, t, 1
        else:
            last, n = t, n + 1
    state.update((start, last, n))
    if sessions:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(sessions),
                "session_start": [s for s, _ in sessions],
                "n_events": [c for _, c in sessions],
            }
        )


def run_stateful_sessionize_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionization driven to completion over the
    parquet replay; closed sessions are emitted mid-stream, the final
    open session per user stays in state (emitted here by a last
    processAllAvailable after the timeout would fire in production).
    Returns closed sessions observed during the replay."""
    import tempfile

    events = _read_events_stream(spark, sf_dir).select(
        "user_id", F.col("ts").cast("timestamp").cast("long").alias("ts_epoch")
    )
    out = events.groupBy("user_id").applyInPandasWithState(
        _session_state_fn,
        outputStructType="user_id bigint, session_start long, n_events bigint",
        stateStructType="start long, last long, n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = "stream_sessionize_out"
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
    return spark.table(name)


def run_dedup_stream_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once → exactly-once: the events file is delivered TWICE
    (two files, one per micro-batch — an at-least-once source replay);
    `dropDuplicatesWithinWatermark` on event_id suppresses the second
    delivery while keeping dedup state only within the watermark horizon
    — the bounded-state form a 100 TB stream needs (plain
    dropDuplicates() retains every key forever). Returns per-type counts
    of the deduplicated stream."""
    import os
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp()
    try:
        os.makedirs(f"{tmp}/in", exist_ok=True)
        src_file = None
        for f in os.listdir(sf_dir):
            if f == "events.parquet":
                src_file = os.path.join(sf_dir, f)
        assert src_file is not None
        shutil.copy(src_file, f"{tmp}/in/00.parquet")
        shutil.copy(src_file, f"{tmp}/in/01.parquet")

        schema, ts_is_long = _events_read_schema(spark, src_file)
        raw = (
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", "1")
            .load(f"{tmp}/in")
        )
        events = _normalize_ts(raw, ts_is_long)
        # horizon covers the whole replayed span so every duplicate is
        # still inside the dedup state when its copy arrives; production
        # tunes this to the real out-of-orderness bound
        deduped = events.withWatermark("ts", "30 days").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        name = "stream_dedup_out"
        with tempfile.TemporaryDirectory() as ckpt:
            q = (
                deduped.writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .start()
            )
            q.processAllAvailable()
            q.stop()
            q.awaitTermination(30)
        return (
            spark.table(name)
            .groupBy("event_type")
            .agg(F.count("*").alias("n_after_dedup"))
            .orderBy("event_type")
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_stream_stream_join_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM interval join: purchase events joined to
    the click by the same user within the preceding 30 minutes. Both
    sides carry event-time watermarks and the join condition bounds
    p_ts in [c_ts, c_ts + 30 min], so Spark can expire buffered click
    state as soon as the purchase-side watermark passes
    click.ts + 30 min — the state-bounding contract that makes a
    stream-stream join viable on an unbounded 100 TB/day feed (an
    unconstrained join would buffer both streams forever). The joined
    rows land in an append-mode memory sink; per-user pair counts are
    aggregated batch-side. Equality with the batch interval self-join
    (`events_click_attribution`) is asserted in tests."""
    import tempfile

    events = _read_events_stream(spark, sf_dir)
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "30 minutes")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    )
    name = "stream_join_out"
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
    return (
        spark.table(name)
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("user_id")
    )


def run_stream_static_enrich_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment + foreachBatch sink: the event stream is
    joined per micro-batch to a STATIC dimension (customer) — planned as
    a broadcast hash join against the stream side, re-resolved every
    batch so a dimension refresh is picked up without restarting the
    query — and lands in parquet through `foreachBatch`, partitioned by
    the batch id. Parquet + batch-id-scoped overwrite makes the sink
    idempotent: a replayed micro-batch overwrites its own partition
    instead of appending duplicates (the exactly-once recipe for
    non-transactional stores). Returns per-nation event counts read back
    from the files the stream wrote."""
    import tempfile

    events = _read_events_stream(spark, sf_dir)
    dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_nationkey").alias("nationkey"),
        )
    )
    enriched = events.join(F.broadcast(dim), "user_id", "inner")

    out_dir = tempfile.mkdtemp()

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(f"{out_dir}/enriched")
        )

    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            enriched.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
    try:
        res = (
            spark.read.parquet(f"{out_dir}/enriched")
            .groupBy("nationkey")
            .agg(F.count("*").alias("n_events"))
            .orderBy("nationkey")
        )
        # materialize before deleting the backing files (same contract
        # as run_state_inspect_demo's cleanup)
        return local_rows(spark, res.collect(), res.schema)
    finally:
        import shutil

        shutil.rmtree(out_dir, ignore_errors=True)


def run_session_window_stream_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session-window streaming aggregate (F.session_window +
    watermark): Spark's built-in session assignment — state is merged
    window ranges per user, evicted once the event-time watermark passes
    a session's close. Streaming session windows support append/complete
    output only (update is rejected: a session's KEY — its start — can
    move when windows merge); complete mode gives the final table on
    this bounded replay. Complements the applyInPandasWithState
    sessionizer (run_stateful_sessionize_demo), the CUSTOM-state form of
    the same computation."""
    import tempfile

    events = _read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "30 minutes")
        .groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("value_sum"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "value_sum",
        )
    )
    name = "stream_session_window_out"
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
    return spark.table(name)


def run_state_inspect_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-state OBSERVABILITY: run the windowed aggregate with a
    persistent checkpoint, then read the aggregation state back with the
    `statestore` reader (Spark 4 State Data Source) — the ops surface
    for debugging a live 100 TB stream's state without stopping it.
    Returns the state rows projected to the aggregate's output shape;
    after a full replay the store's (window, type) → (count, sum) state
    IS the batch answer, which the DuckDB oracle certifies."""
    import tempfile

    events = _read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("value_sum"))
    )
    import shutil

    ckpt = tempfile.mkdtemp()  # must outlive the query for the state read
    try:
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("state_inspect_sink")
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
        ss = spark.read.format("statestore").load(ckpt)
        projected = ss.select(
            F.date_format("key.window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").alias("n"),
            F.round(F.col("value.sum"), 2).alias("value_sum"),
        )
        # materialize before the checkpoint dir (the statestore source's
        # backing files) is removed — state is small: windows × types
        return local_rows(spark, projected.collect(), projected.schema)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def run_incremental_rollup_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance from a stream: each
    micro-batch lands its own PARTIAL daily rollup (count + sum are
    self-mergeable) as an append-only parquet partition keyed by batch
    id; the serving query re-aggregates the partials. This is the
    O(|batch|) maintenance recipe — no day is ever recomputed from
    history, a replayed batch overwrites its own partition (idempotent),
    and a compaction job can fold partials at leisure because merge is
    associative. Returns the merged daily rollup read back from the
    files the stream wrote, so a batch-SQL oracle certifies partials
    merge to exactly the full-history aggregate."""
    import shutil
    import tempfile

    from ..sources.sinks import daily_event_rollup

    events = _read_events_stream(spark, sf_dir)
    out_dir = tempfile.mkdtemp()

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            daily_event_rollup(batch_df)
            .withColumn("_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(f"{out_dir}/rollup_partials")
        )

    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            events.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
    try:
        res = (
            spark.read.parquet(f"{out_dir}/rollup_partials")
            .groupBy("day", "event_type")
            .agg(
                F.sum("n").cast("long").alias("n_events"),
                F.round(F.sum("value_sum"), 2).alias("value_sum"),
            )
            .orderBy("day", "event_type")
        )
        return local_rows(spark, res.collect(), res.schema)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
