"""Structured Streaming over the events stream: tumbling/sliding/session
windows with watermarks, and watermarked dedup — the streaming twins of
the oracle-checked batch queries q30-q33 (queries/events.py).

Design: every transform is a function streamingDF→streamingDF so the
same code serves a file-source replay (tests: parquet dir +
``Trigger.AvailableNow`` + memory sink) and a production source (kafka/
rate) unchanged. Watermarks bound state: at 100 TB/day the state store
holds only windows newer than (max event time − watermark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from sunat_rree_demo_spark.sources.batch_store import analysis_error_is


def _events_schema(ts_type: T.DataType) -> T.StructType:
    """events.parquet logical schema with the given physical ts type."""
    return T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", ts_type),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])


#: legacy physical schema — ts shipped as TIMESTAMP(NANOS), readable
#: only as int64 under nanosAsLong (same normalization as
#: sources.catalog.load_table).
EVENTS_FILE_SCHEMA = _events_schema(T.LongType())


def events_file_stream(spark: SparkSession, directory: str,
                       max_files_per_trigger: int = 1,
                       ts_variant: str | None = None) -> DataFrame:
    """Replayable file-source stream over event parquet files.

    events.parquet has shipped with ts as TIMESTAMP(NANOS) (legacy →
    int64 under nanosAsLong) and as TIMESTAMP(MICROS) without a
    timezone (current → TIMESTAMP_NTZ). A file stream needs an explicit
    schema, so probe the directory's parquet footers once (batch-side,
    no job; ``mergeSchema`` so a directory MIXING the two variants
    fails loudly instead of silently adopting whichever file the reader
    sampled) and normalize either variant to TIMESTAMP_LTZ — identical
    instants to the batch twin under the UTC session zone.

    An EMPTY (or not-yet-created) directory is legal for a file-source
    stream — it may be started before the first file lands — so the
    probe falls back to the legacy nanos schema; pass
    ``ts_variant='nanos' | 'micros'`` to pin the variant explicitly and
    skip the probe."""
    # self-set BOTH runtime configs this reader depends on — the
    # driver's session is vanilla (CLAUDE.md): nanosAsLong for the
    # legacy footer, and the UTC session zone the micros branch's
    # NTZ→LTZ cast reads (without it a local-TZ driver would shift
    # every instant vs the batch twin)
    for k, v in (("spark.sql.legacy.parquet.nanosAsLong", "true"),
                 ("spark.sql.session.timeZone", "UTC")):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    if ts_variant is None:
        from pyspark.errors import AnalysisException

        try:
            ts_type = dict(spark.read.option("mergeSchema", "true")
                           .parquet(directory).dtypes).get("ts")
            ts_variant = "nanos" if ts_type == "bigint" else "micros"
        except AnalysisException as exc:
            if analysis_error_is(exc, "UNABLE_TO_INFER_SCHEMA",
                                 "PATH_NOT_FOUND"):
                ts_variant = "nanos"  # empty dir: stream starts, files later
            else:
                raise  # disagreeing footers / corrupt files stay loud
    if ts_variant == "nanos":
        raw = (
            spark.readStream.schema(EVENTS_FILE_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(directory)
        )
        # integer division (div), not double /: exact µs like DuckDB's cast
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    raw = (
        spark.readStream.schema(_events_schema(T.TimestampNTZType()))
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(directory)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(events: DataFrame, size: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts+totals per event_type; late rows beyond the
    watermark are dropped and window state is evicted."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type", "n_events", "total_value")
    )


def sliding_totals(events: DataFrame, size: str = "2 hours",
                   slide: str = "1 hour", watermark: str = "3 hours") -> DataFrame:
    """Sliding-window totals (each event in size/slide windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size, slide).alias("w"))
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes",
                   watermark: str = "2 hours") -> DataFrame:
    """Session windows with an inactivity gap per user — the built-in
    stateful session operator (batch twin: the gaps-and-islands form in
    q32_sessionization)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n_events")
    )


def dedup_events(events: DataFrame, watermark: str = "2 hours",
                 within_watermark: bool = False) -> DataFrame:
    """Streaming keep-first dedup on (user_id, event_type).

    Default (``within_watermark=False``): GLOBAL dedup — exactly the
    batch twin (q33_event_dedup's keep-first row_number) — via
    ``dropDuplicates`` on the key columns alone. Spark only evicts
    dropDuplicates state when the event-time column is part of the key
    subset, so this state is NOT watermark-bounded: it holds one entry
    per distinct key forever, i.e. bounded by KEY CARDINALITY, not
    time. That is the right trade for a bounded key universe (users ×
    four event types here) and the only form that matches the batch
    semantics.

    ``within_watermark=True`` switches to
    ``dropDuplicatesWithinWatermark``: state IS evicted as the
    watermark passes, but only duplicates arriving within the
    watermark delay of each other collapse — the unbounded-key-stream
    trade, deliberately NOT the batch twin."""
    wm = events.withWatermark("ts", watermark)
    if within_watermark:
        deduped = wm.dropDuplicatesWithinWatermark(
            ["user_id", "event_type"])
    else:
        deduped = wm.dropDuplicates(["user_id", "event_type"])
    return deduped.select("user_id", "event_type", "event_id", "value")


def rate_events(spark: SparkSession, rows_per_second: int = 200,
                n_users: int = 8, burst: int = 1) -> DataFrame:
    """A live (unbounded) events stream from Spark's built-in ``rate``
    source, shaped exactly like the events table so every operator in
    this package runs on it unchanged. All derived columns are
    deterministic functions of the rate counter: user_id cycles over
    ``n_users`` (in runs of ``burst`` consecutive events — burst > 1
    makes activity bursty, so sessions CLOSE: a user goes quiet for
    (n_users-1)·burst events while others keep event time advancing,
    which is what lets append-mode session windows finalize), event_type
    cycles over four kinds, and value is a small ramp with a large spike
    every 97th event (so the streaming anomaly detector has something
    real to flag). This is the production-source twin of
    ``events_file_stream`` — same schema, no files."""
    raw = (spark.readStream.format("rate")
           .option("rowsPerSecond", rows_per_second).load())
    kinds = F.array(F.lit("click"), F.lit("view"),
                    F.lit("purchase"), F.lit("scroll"))
    return raw.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.expr(f"value div {int(burst)}") % n_users).alias("user_id"),
        F.element_at(kinds, (F.col("value") % 4 + 1).cast("int"))
         .alias("event_type"),
        F.when(F.col("value") % 97 == 0, F.lit(500.0))
         .otherwise((F.col("value") % 20).cast("double") * 0.5 + 1.0)
         .alias("value"),
        F.to_json(F.struct(F.col("value").alias("seq"))).alias("props"),
    )


def run_foreach_batch(stream_df: DataFrame, on_batch,
                      output_mode: str = "update",
                      processing_time: str = "500 milliseconds",
                      should_stop=None, timeout: float = 120.0):
    """Drive a live stream under a real ``foreachBatch`` sink until
    ``should_stop()`` returns true (or ``timeout`` elapses), then stop.
    ``on_batch(df, epoch_id)`` is the user sink callable — in production
    a merge/upsert into a table, in tests a driver-side collector.
    Returns the streaming query's elapsed wall-clock seconds (the
    bounded-latency measurement)."""
    import time

    q = (stream_df.writeStream.foreachBatch(on_batch)
         .outputMode(output_mode)
         .trigger(processingTime=processing_time)
         .start())
    t0 = time.time()
    try:
        while time.time() - t0 < timeout:
            if should_stop is not None and should_stop():
                break
            if not q.isActive:  # failed/finished: surface NOW, not at
                break           # timeout (stop()+await re-raises below)
            time.sleep(0.25)
    finally:
        q.stop()
        q.awaitTermination(30)
    return time.time() - t0


def run_available_now(stream_df: DataFrame, sink_table: str,
                      output_mode: str = "append", timeout: int = 120) -> None:
    """Drain everything currently in the source into an in-memory sink
    table and stop — the replay harness the tests use."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    done = q.awaitTermination(timeout)
    if not done:
        q.stop()
        raise TimeoutError(
            f"available-now drain into '{sink_table}' did not finish "
            f"within {timeout}s — the memory sink holds only the "
            f"completed micro-batches")


def _click_purchase_join(events: DataFrame, horizon: str,
                         watermark: str, how: str) -> DataFrame:
    """Shared projections + watermarks + interval-join expression of
    the two attribution forms — ONE copy so the join contract (horizon
    bound, watermark columns, output grain) cannot drift between the
    inner and left-outer variants."""
    clicks = (events.filter(F.col("event_type") == "click")
              .select(F.col("user_id"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", watermark))
    purchases = (events.filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user_id"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("value").alias("purchase_value"),
                         F.col("ts").alias("purchase_ts"))
                 .withWatermark("purchase_ts", watermark))
    joined = clicks.join(
        purchases,
        F.expr(f"""
            user_id = p_user_id AND
            purchase_ts > click_ts AND
            purchase_ts <= click_ts + INTERVAL {horizon}
        """),
        how,
    )
    return joined.select(
        "user_id", "click_id", "purchase_id", "purchase_value",
        ((F.unix_micros("purchase_ts") - F.unix_micros("click_ts"))
         / 1000000.0).alias("lag_sec"),
    )


def click_purchase_attribution(events: DataFrame,
                               horizon: str = "1 hour",
                               watermark: str = "2 hours") -> DataFrame:
    """Stream-stream INTERVAL JOIN: attribute each purchase to every
    click by the same user in the preceding ``horizon`` — the canonical
    watermarked two-stream correlation (clicks and purchases arrive on
    independent schedules; either side may be late).

    The same expression runs in batch (its oracle twin is
    q78_click_attribution's SQL interval join) and as a true
    stream-stream join: both sides carry watermarks and the join's time
    bounds let Spark evict click state older than
    (purchase watermark − horizon) and purchase state older than the
    click watermark, so state is O(users × horizon rate), not O(stream).
    At warehouse scale the join shuffles both sides once on user_id.

    Emits one row per (click, purchase-within-horizon) pair — the
    multi-touch attribution grain; last-touch/first-touch reductions
    are a groupBy away (deterministic: min/max by (lag, id))."""
    return _click_purchase_join(events, horizon, watermark, "inner")


def click_purchase_attribution_outer(events: DataFrame,
                                     horizon: str = "1 hour",
                                     watermark: str = "2 hours") -> DataFrame:
    """LEFT-OUTER stream-stream interval join: like
    ``click_purchase_attribution`` but every click is emitted — clicks
    with no purchase inside the horizon surface with NULL purchase
    columns, which is the row a funnel-loss report needs (the inner
    join can only say what converted).

    Streaming semantics: an unmatched click is emitted ONLY once the
    watermark passes ``click_ts + horizon`` (before that, a matching
    purchase could still arrive), so a replay whose final watermark
    stops short of the tail holds back the last clicks' NULL rows —
    the documented outer-join/watermark interaction, pinned by the e2e
    test. State bounds are identical to the inner form.

    Batch twin: q113's LEFT JOIN, where no watermark applies and every
    unmatched click appears."""
    return _click_purchase_join(events, horizon, watermark, "left_outer")

