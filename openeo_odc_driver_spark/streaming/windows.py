"""Structured Streaming equivalents of the batch calendar aggregations.

The reference is strictly batch (SURVEY §2.11); these extend the engine to
streams: tumbling/sliding windows ≙ `aggregate_temporal_period`, with
watermarks for late data. The `events` fixture drives the tests — a parquet
directory read as a stream, run to completion with a memory sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time window: count + sum per (window, event_type).
    The watermark bounds state for late data; in batch-over-stream tests it
    has no effect on results (all data arrives in one epoch)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: events closer than `gap` merge into one
    session (`F.session_window` — state-backed in streaming mode; in batch
    mode it is the classic gaps-and-islands computation, which is what the
    DuckDB oracle expresses with lag + a cumulative gap counter)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stateful_running_max(
    events: DataFrame,
    out_name: str = "running_max_out",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per
    event_type, maintain the running maximum `value` seen and emit one row
    per micro-batch update — the extension point the reference lacks
    entirely (its UDF surface is batch-only, SURVEY §2.11)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "event_type string, max_value double, n_seen long"
    state_schema = "max_value double, n_seen long"

    def update(key, pdfs, state: GroupState):
        mx, n = state.get if state.exists else (float("-inf"), 0)
        for pdf in pdfs:
            vals = pdf["value"].dropna()
            if len(vals):
                mx = max(mx, float(vals.max()))
            n += len(pdf)
        state.update((mx, n))
        import pandas as pd

        yield pd.DataFrame(
            {"event_type": [key[0]], "max_value": [mx], "n_seen": [n]}
        )

    return events.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_stream_dedup(docs: DataFrame) -> DataFrame:
    """Streaming exact dedup — the canonical training-data ingestion
    operator: the first document seen per content hash passes, later
    copies are dropped, across micro-batches (state = one counter per
    hash). Within a batch the winner is the minimum doc_id
    (deterministic under any partition order).

    Scale: state is one small entry per distinct hash; the hash groupBy
    is the same single-shuffle shape as batch exact_dedup.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    hashed = docs.withColumn("content_hash", F.md5("text"))
    out_schema = "content_hash string, doc_id long"
    state_schema = "n_seen long"

    def first_seen(key, pdfs, state: GroupState):
        import pandas as pd

        n = state.get[0] if state.exists else 0
        best = None
        total = 0
        for pdf in pdfs:
            total += len(pdf)
            m = int(pdf["doc_id"].min())
            best = m if best is None else min(best, m)
        if n == 0 and best is not None:
            yield pd.DataFrame({"content_hash": [key[0]], "doc_id": [best]})
        state.update((n + total,))

    return hashed.groupBy("content_hash").applyInPandasWithState(
        first_seen,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _assert_no_nested_ltz(schema) -> None:
    """Fail fast if any TIMESTAMP (with local time zone) survives below
    the top level — nested LTZ would make materialized results depend on
    the host zone (ADVICE r4)."""
    from pyspark.sql.types import ArrayType, MapType, StructType, TimestampType

    def walk(dt, path):
        if isinstance(dt, TimestampType):
            raise AssertionError(
                f"nested TIMESTAMP_LTZ at {path}: flatten window structs "
                "before run_stream_to_memory casts the output back to NTZ"
            )
        if isinstance(dt, StructType):
            for f in dt.fields:
                walk(f.dataType, f"{path}.{f.name}")
        elif isinstance(dt, ArrayType):
            walk(dt.elementType, f"{path}[]")
        elif isinstance(dt, MapType):
            walk(dt.keyType, f"{path}<key>")
            walk(dt.valueType, f"{path}<value>")

    for f in schema.fields:
        if not isinstance(f.dataType, TimestampType):  # top level is cast
            walk(f.dataType, f.name)


def run_stream_to_memory(
    spark: SparkSession,
    sf_dir: str,
    builder=tumbling_counts,
    name: str = "stream_out",
    output_mode: str = "complete",
    table: str = "events",
) -> DataFrame:
    """Drive a fixture parquet through a real streaming query (one epoch)
    and return the materialized result. Uses the same ns→µs conversion as
    the batch loader for the events table."""
    from pyspark.sql.types import TimestampType

    batch = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    # Stateful aggregation creates one state-store instance per shuffle
    # partition; 32 RocksDB/HDFS-backed stores for one small batch is pure
    # overhead locally, and the partition count is baked into the
    # checkpoint. 8 is plenty for fixture-scale windows — a real
    # deployment sizes this to the key cardinality at stream start.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    # The fixture stores naive wall-clock timestamps (parquet
    # isAdjustedToUTC=0 → TIMESTAMP_NTZ in Spark 4), but event-time
    # watermarks require TIMESTAMP (with local time zone). Pin the session
    # to UTC for the duration of the run so NTZ→LTZ→NTZ is the identity on
    # wall-clock values regardless of the host zone, cast event time up for
    # the stateful engine, and cast result timestamps back to NTZ so the
    # materialized table is zone-independent (matching the naive oracle).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # the sf dir holds all tables; the glob filter narrows the stream to
    # the events file
    stream = (
        spark.readStream.schema(batch.schema)
        .format("parquet")
        .option("pathGlobFilter", f"{table}.parquet")
        .load(sf_dir)
    )
    if dict(batch.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(stream.dtypes).get("ts") == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    out = builder(stream)
    out = out.select(
        *[
            F.col(f.name).cast("timestamp_ntz").alias(f.name)
            if isinstance(f.dataType, TimestampType)
            else F.col(f.name)
            for f in out.schema.fields
        ]
    )
    # The cast-back only rewrites TOP-LEVEL timestamp fields; a builder
    # that returns an un-flattened window struct would smuggle LTZ
    # timestamps through and produce zone-dependent results. All current
    # builders flatten — enforce it so a future one can't regress.
    _assert_no_nested_ltz(out.schema)
    q = (
        out.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    return spark.table(name)


def sliding_counts(
    events: DataFrame, window: str = "2 hours", slide: str = "1 hour"
) -> DataFrame:
    """Sliding event-time window (slide < duration → each event lands in
    window/slide overlapping windows): count + max per (window,
    event_type). Count/max are order-insensitive, so the batch oracle
    (each event duplicated into its hourly-aligned windows) is exact —
    unlike sums of arbitrary doubles."""
    return (
        events.withWatermark("ts", "4 hours")
        .groupBy(F.window("ts", window, slide).alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.max("value").alias("max_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            "max_value",
        )
    )


def stream_static_enrich(events: DataFrame, dims: DataFrame) -> DataFrame:
    """Stream–static join: enrich each streamed event with a static
    reference table (here per-type stats) — the lookup/enrichment shape
    every ingestion pipeline needs.  The static side is broadcast to the
    stream's micro-batches; no state, no watermark required.

    Scale: the static side is re-planned per micro-batch by Structured
    Streaming, so a small dim broadcasts and a large one hash-joins —
    both without stream-side state growth.
    """
    return (
        events.join(F.broadcast(dims), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            "type_max",
            (F.col("value") / F.col("type_max")).alias("value_frac_of_max"),
        )
    )
