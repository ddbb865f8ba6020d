"""Custom stateful streaming operators (beyond-reference, SURVEY §2 "not
present" list: session windows + streaming dedup).

The reference has no streaming state at all — its "state" is ClickHouse
merge-on-read (``clickhouse/clickhouse.py:70-81``).  Here the engine owns the
state natively:

- **streaming_sessionize** — gap-based session windows per user via
  ``applyInPandasWithState``: the one Structured Streaming surface for
  operators whose semantics built-in windowed aggs can't express (a session's
  end depends on data, not the clock grid).  State per user is O(1) — the open
  session's (start, end, count, sum) — so 100 M users ≈ a few GB of state
  store, RocksDB-backed on a real cluster.  Sessions close either when a new
  event arrives ≥ gap after the previous one (emitted immediately) or when the
  event-time watermark passes ``session_end + gap`` (timeout path) — so every
  session is emitted exactly once, matching the batch :func:`operators.
  sessionize.sessionize` on the same data once all input is ingested.
- **streaming_dedup** — exact first-wins dedup with BOUNDED state via
  ``dropDuplicatesWithinWatermark``: duplicate keys arriving within the
  watermark interval of each other collapse; state for a key is dropped once
  the watermark passes, so state size tracks the (rate × watermark) window,
  not the stream's lifetime.  This is the streaming twin of the batch
  ``operators.dedup.dedup_exact``.

Mirrors the batch/stream duality of the roll-up (``rollup_stream.py``): same
logical result, streaming physical plan.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from qradar_restapi_kafka_datapipeline_spark.parts import hash_batches, land

SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

# open session per user: (start_us, end_us, n_events, value_sum).
# Microseconds, not ms: Spark TimestampType is µs and batch sessionize emits
# MIN(ts)/MAX(ts) at full precision — a ms fold would truncate session bounds.
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n", LongType()),
        StructField("vsum", DoubleType()),
    ]
)


def _session_fn(gap_ms: int):
    """Build the per-group stateful function.

    Pandas-batched (Arrow transfer), one state round-trip per (user, batch):
    events are folded in event-time order into the open session; each gap
    > ``gap_ms`` closes a session (yielded) and opens the next.  The surviving
    open session goes back into state with an event-time timeout at
    ``end + gap`` — when the watermark passes that, no future event can extend
    the session, so the timeout path emits it and clears state.

    ``total_value`` is the raw float sum — rounding is presentation, left to
    the consumer (parity entries round exactly like their batch twin).
    """
    import pandas as pd  # executor-side import

    def fn(
        key: Tuple[Any, ...], pdf_iter: Iterator["pd.DataFrame"], state
    ) -> Iterator["pd.DataFrame"]:
        def emit(rows):
            return pd.DataFrame(
                {
                    "user_id": [key[0]] * len(rows),
                    "session_start": [
                        pd.Timestamp(s, unit="us", tz="UTC") for s, *_ in rows
                    ],
                    "session_end": [
                        pd.Timestamp(e, unit="us", tz="UTC") for _, e, *_ in rows
                    ],
                    "n_events": [n for _, _, n, _ in rows],
                    "total_value": [v for *_, v in rows],
                }
            )

        if state.hasTimedOut:
            start, end, n, vsum = state.get
            state.remove()
            yield emit([(start, end, n, vsum)])
            return

        parts = [p for p in pdf_iter]
        pdf = pd.concat(parts).sort_values("ts")
        ts = pd.to_datetime(pdf["ts"])
        epoch = pd.Timestamp(0, tz=ts.dt.tz) if ts.dt.tz is not None else pd.Timestamp(0)
        ts_us = ((ts - epoch) // pd.Timedelta(microseconds=1)).tolist()
        vals = pdf["value"].tolist()

        if state.exists:
            start, end, n, vsum = state.get
        else:
            start = None
            end = n = 0
            vsum = 0.0

        closed = []
        for t, v in zip(ts_us, vals):
            if start is None:
                start, end, n, vsum = t, t, 1, float(v)
            elif t // 1000 - end // 1000 > gap_ms:
                closed.append((start, end, n, vsum))
                start, end, n, vsum = t, t, 1, float(v)
            else:
                end = max(end, t)
                n += 1
                vsum += float(v)

        state.update((start, end, n, vsum))
        # Gap test is ms-truncated (the batch plan's unix_millis semantics):
        # an event still joins while ms(t) - ms(end) <= gap, so the session is
        # only safely closed once the watermark passes ms(end) + gap + 1.
        state.setTimeoutTimestamp(end // 1000 + gap_ms + 1)
        if closed:
            yield emit(closed)

    return fn


def streaming_sessionize(
    df: DataFrame,
    out_path: str,
    checkpoint: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_minutes: int = 30,
    watermark: str = "1 hour",
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous gap-sessionization: one output row per CLOSED session.

    Input must be a streaming DataFrame with event-time ``ts_col``.  Events
    later than ``watermark`` are dropped by the engine before reaching state
    (the price of bounded state; batch :func:`sessionize` has no such bound).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = df.select(
        F.col(user_col).cast("long").alias("user_id"),
        F.col(ts_col).alias("ts"),
        F.col(value_col).cast("double").alias("value"),
    ).withWatermark("ts", watermark)

    sessions = src.groupBy("user_id").applyInPandasWithState(
        _session_fn(gap_minutes * 60 * 1000),
        SESSION_OUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
    writer = (
        sessions.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _events_replay_with_sentinels(spark, sf_dir: str):
    """Land the events table as a 3-micro-batch file stream: the real data,
    then two far-future sentinel batches for reserved user -1 (the first
    advances the watermark past every real session's end + gap; the second
    gives the engine a batch in which the resulting event-time
    timeouts/emissions fire).  Returns ``(streaming DataFrame, base dir)``.

    Sentinel ts must carry the SAME parquet type as the driver's file so the
    directory reads under one schema; both testdata generations are handled
    (TIMESTAMP(NANOS) → int64 under nanosAsLong, tz-naive TIMESTAMP(MICROS)).
    """
    import os
    import shutil
    from qradar_restapi_kafka_datapipeline_spark.engine import scratch_dir

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = scratch_dir("events_replay_")
    src = os.path.join(base, "landing")
    os.makedirs(src)
    shutil.copy(
        os.path.join(sf_dir, "events.parquet"), os.path.join(src, "b0.parquet")
    )

    src_ts_type = pq.read_schema(os.path.join(src, "b0.parquet")).field("ts").type
    # TIMESTAMP(NANOS) parquet reads as timestamp[ns] in pyarrow but as
    # LongType (nanos) in Spark under nanosAsLong=true — it must take the
    # long branch (sentinels written as int64 nanos) or the declared
    # readStream schema would mismatch the scan.
    ts_is_long = (not pa.types.is_timestamp(src_ts_type)) or (
        src_ts_type.unit == "ns"
    )

    def sentinel(path: str, ts_us: int) -> None:
        if ts_is_long:
            ts_arr = pa.array([ts_us * 1000], pa.int64())
        else:
            ts_arr = pa.array([ts_us], pa.timestamp("us")).cast(src_ts_type)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([-1], pa.int64()),
                    "ts": ts_arr,
                    "user_id": pa.array([-1], pa.int64()),
                    "event_type": pa.array(["__sentinel__"], pa.string()),
                    "value": pa.array([0.0], pa.float64()),
                    "props": pa.array(["{}"], pa.string()),
                }
            ),
            path,
        )

    y2034_us = 2_019_686_400 * 1_000_000
    sentinel(os.path.join(src, "z1.parquet"), y2034_us)
    sentinel(os.path.join(src, "z2.parquet"), y2034_us + 86_400 * 1_000_000)
    # file source orders batches by mtime: force a deterministic sequence
    now = 1_700_000_000
    for i, f in enumerate(["b0.parquet", "z1.parquet", "z2.parquet"]):
        os.utime(os.path.join(src, f), (now + 10 * i, now + 10 * i))

    ts_sql = "BIGINT" if ts_is_long else "TIMESTAMP"
    stream = (
        spark.readStream.schema(
            f"event_id BIGINT, ts {ts_sql}, user_id BIGINT, "
            "event_type STRING, value DOUBLE, props STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    if ts_is_long:
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream, base


def sessionize_events_streaming(
    spark,
    sf_dir: str,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Run the STREAMING sessionizer over the static ``events`` table and
    return a batch DataFrame equal to batch :func:`operators.sessionize.
    sessionize` — the engine's proof that its streaming state machine computes
    the same relation as its batch plan.

    Mechanics: the events parquet is replayed as a 3-micro-batch file stream
    (``maxFilesPerTrigger=1`` + ``availableNow``).  Batches 2 and 3 are
    far-future sentinel events for a reserved user (-1): the first advances
    the watermark past every real session's ``end + gap``, the second gives
    the engine a batch in which those event-time timeouts fire — so every
    real session is CLOSED and emitted.  Sentinels are filtered from the
    result.  State is µs-precision, so session bounds match batch
    ``MIN(ts)``/``MAX(ts)`` exactly.
    """
    import os

    stream, base = _events_replay_with_sentinels(spark, sf_dir)
    out, ckpt = os.path.join(base, "sessions"), os.path.join(base, "ckpt")
    streaming_sessionize(
        stream, out, ckpt, gap_minutes=gap_minutes, watermark=watermark
    ).awaitTermination()
    return (
        spark.read.schema(SESSION_OUT_SCHEMA)
        .parquet(out)
        .where(F.col("user_id") >= 0)
        .withColumn("total_value", F.round("total_value", 2))
    )


def sessionize_events_streaming_native(
    spark,
    sf_dir: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-sessionize the replayed events stream with Catalyst's NATIVE
    ``session_window`` aggregation (the built-in state machine, vs the
    custom ``applyInPandasWithState`` one) and return the closed sessions —
    must equal the same batch oracle as every other session implementation.

    Gap is 30 min + 1 ms: session_window merges on strict ``diff < gap``
    where the engine's convention (and the oracle) is ``diff <= gap`` on
    MS-PRECISION event time — so the window runs on ts floored to ms
    (``timestamp_millis(unix_millis(ts))``); on raw µs timestamps a pair
    with gap inside (1800000ms, 1800001ms) would merge natively yet split
    under the oracle's ms-diff rule.  Session bounds are MIN/MAX of the RAW
    µs ts inside the aggregate, so outputs match batch exactly.  In append
    mode a session emits once the watermark passes its window end; the
    far-future sentinel batches flush every real session.
    """
    import os

    gap = "1800001 milliseconds"
    stream, base = _events_replay_with_sentinels(spark, sf_dir)
    sessions = (
        stream.withColumn("ts_ms", F.timestamp_millis(F.unix_millis("ts")))
        .withWatermark("ts_ms", watermark)
        .groupBy(F.session_window(F.col("ts_ms"), gap).alias("sw"), F.col("user_id"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            "user_id",
            "session_start",
            "session_end",
            "n_events",
            "total_value",
        )
    )
    out, ckpt = os.path.join(base, "sessions_native"), os.path.join(base, "ckpt_n")
    q = (
        sessions.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out)
        .where(F.col("user_id") >= 0)
        .withColumn("total_value", F.round("total_value", 2))
    )


def streaming_dedup(
    df: DataFrame,
    out_path: str,
    checkpoint: str,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "1 hour",
    available_now: bool = True,
) -> StreamingQuery:
    """First-wins streaming dedup with watermark-bounded state.

    ``dropDuplicatesWithinWatermark`` keeps a key's fingerprint only until the
    watermark passes its event time + interval — duplicates within that span
    collapse to the first arrival; state never grows unboundedly (the failure
    mode of plain ``dropDuplicates`` on an infinite stream).
    """
    if key_cols is None:
        key_cols = ["event_id"]
    deduped = df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_dedup_streaming(
    spark,
    sf_dir: str,
    prefix_words: int = 20,
    n_batches: int = 3,
) -> DataFrame:
    """Streaming twin of :func:`operators.dedup.incremental_dedup`: NEW
    documents arrive as a stream and are deduped per micro-batch against the
    STATIC corpus fingerprint table (stream-static join — the corpus side is
    read once per batch from its snapshot, no state) plus in-stream
    first-wins dedup (``dropDuplicates`` on the fingerprint; production uses
    the watermark-bounded variant, this replay is finite).

    Returns the surviving FINGERPRINT set: which member of an in-batch dup
    group survives depends on arrival order, but the surviving fingerprint
    relation is deterministic — that is the contract the oracle checks
    (``SELECT DISTINCT fp FROM new WHERE fp NOT IN corpus``).

    The anti join is expressed as stream-static LEFT OUTER + IS NULL filter —
    the shape the Structured Streaming guide supports for stream-static
    joins; each micro-batch plan broadcasts the corpus fingerprint relation
    exactly like the batch operator's anti join.
    """
    import os
    from qradar_restapi_kafka_datapipeline_spark.engine import scratch_dir

    from qradar_restapi_kafka_datapipeline_spark.operators.dedup import (
        _snapshot_fingerprint,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    fp = _snapshot_fingerprint("text", prefix_words)
    corpus_fp = (
        docs.where("doc_id % 7 != 0")
        .select(fp.alias("corpus_fp"))
        .distinct()
    )

    base = scratch_dir("incr_dedup_stream_")
    new_docs = docs.where("doc_id % 7 = 0")
    stream = (
        land(
            spark, hash_batches(new_docs, ["doc_id"], n_batches),
            os.path.join(base, "landing"),
        )
        .select(fp.alias("fingerprint"))
        .dropDuplicates(["fingerprint"])
    )
    fresh = (
        stream.join(
            corpus_fp,
            stream["fingerprint"] == corpus_fp["corpus_fp"],
            "left_outer",
        )
        .where(F.col("corpus_fp").isNull())
        .select("fingerprint")
    )
    out, ckpt = os.path.join(base, "fresh"), os.path.join(base, "ckpt")
    (
        fresh.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.parquet(out).select("fingerprint").distinct()


def first_seen_streaming(spark, sf_dir: str) -> DataFrame:
    """Streaming twin of the ``first_seen_entities`` (user, event_type)
    grain: the new-entity-per-day feed computed continuously with
    ``dropDuplicates`` state keyed on the pair (the user grain is degenerate
    on this data — every user is active on day 1; pairs spread over the
    first week, so the parity relation has real shape).

    Replay discipline makes first-wins DAY-exact: the events table is
    written as one micro-batch PER DAY (mtime-ordered), so the first batch
    containing a pair is the pair's first DAY — whichever of that day's rows
    wins the in-batch race, its day is the same.  State is one key per pair,
    unbounded by design (first-seen-EVER is inherently retention-scoped;
    a production deployment bounds it with the retention horizon).
    Oracle: ``MIN(ts)`` per pair bucketed by day.
    """
    import os
    from qradar_restapi_kafka_datapipeline_spark.engine import scratch_dir

    from qradar_restapi_kafka_datapipeline_spark.sources.registry import (
        load_tables,
    )

    load_tables(spark, sf_dir)
    events = spark.table("events").select("event_id", "ts", "user_id", "event_type")
    # driver-side collect is bounded by the DAY count (retention horizons are
    # hundreds to thousands of rows), same bound class as compact_rollup
    days = sorted(r["d"] for r in events.select(
        F.to_date("ts").alias("d")).distinct().collect())

    base = scratch_dir("first_seen_stream_")
    stream = land(
        spark, [events.where(F.to_date("ts") == F.lit(d)) for d in days],
        os.path.join(base, "landing"),
    ).dropDuplicates(["user_id", "event_type"])
    out, ckpt = os.path.join(base, "first"), os.path.join(base, "ckpt")
    (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return (
        spark.read.parquet(out)
        .groupBy(F.to_date("ts").cast("string").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_new"))
    )


def dedup_events_streaming(spark, sf_dir: str, watermark: str = "45 days") -> DataFrame:
    """Replay the events table TWICE through the watermark-bounded streaming
    dedup and return the surviving keys — the parity proof that first-wins
    dedup over an at-least-once stream reconstructs exactly the distinct
    relation (oracle: ``SELECT event_id FROM events``).

    The 45-day watermark spans the whole synthetic month, so no key's state
    expires mid-replay and every second-copy row is suppressed.  That is the
    semantic contract: duplicates arriving within ``watermark`` of first
    sight collapse; beyond it they re-emit (bounded state is the price —
    the batch ``dedup_exact`` path has no such bound).
    """
    import os
    import shutil
    from qradar_restapi_kafka_datapipeline_spark.engine import scratch_dir

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = scratch_dir("dedup_stream_")
    src = os.path.join(base, "landing")
    os.makedirs(src)
    for i in range(2):  # two identical landings = at-least-once delivery
        shutil.copy(
            os.path.join(sf_dir, "events.parquet"), os.path.join(src, f"b{i}.parquet")
        )
        os.utime(
            os.path.join(src, f"b{i}.parquet"),
            (1_700_000_000 + 10 * i, 1_700_000_000 + 10 * i),
        )

    src_ts_type = pq.read_schema(os.path.join(src, "b0.parquet")).field("ts").type
    # Same rule as _events_replay_with_sentinels: NANOS parquet → LongType
    # under nanosAsLong, so declare BIGINT for ns-unit as well.
    ts_is_long = (not pa.types.is_timestamp(src_ts_type)) or (
        src_ts_type.unit == "ns"
    )
    ts_sql = "BIGINT" if ts_is_long else "TIMESTAMP"
    stream = (
        spark.readStream.schema(
            f"event_id BIGINT, ts {ts_sql}, user_id BIGINT, "
            "event_type STRING, value DOUBLE, props STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    if ts_is_long:
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    out, ckpt = os.path.join(base, "dedup"), os.path.join(base, "ckpt")
    streaming_dedup(stream, out, ckpt, watermark=watermark).awaitTermination()
    return spark.read.parquet(out).select("event_id")
