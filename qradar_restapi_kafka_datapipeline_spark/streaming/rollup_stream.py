"""Streaming summing roll-up (SURVEY §2 B11 streaming mode, §7.2 item 2).

Two modes, one logical pipeline:

- **exact mode (default)** — ``foreachBatch`` + :func:`operators.rollup.merge_rollup`:
  every micro-batch is aggregate-added into the day-partitioned roll-up table.
  Accepts UNBOUNDED lateness, exactly like ClickHouse SummingMergeTree's
  merge-on-read (reference ``clickhouse/clickhouse.py:70-81``) — a row arriving
  a week late still folds into its hour bucket.  Checkpointing makes the sink
  exactly-once per epoch (strictly better than the reference's
  ``insert_deduplicate=False`` at-least-once, ``clickhouse/clickhouse.py:20``).
- **watermark mode** — a native watermarked tumbling-window aggregate for
  low-latency dashboards.  DOCUMENTED DEVIATION: rows later than the watermark
  are dropped; use exact mode when SummingMergeTree parity matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from qradar_restapi_kafka_datapipeline_spark.engine import local_relation
from qradar_restapi_kafka_datapipeline_spark.operators.rollup import (
    DEFAULT_MEASURE,
    DEFAULT_TIME_COL,
    merge_rollup,
)
from qradar_restapi_kafka_datapipeline_spark.parts import (
    hadoop_fs,
    hash_batches,
    land,
    replay_epochs,
)


def streaming_rollup_exact(
    df: DataFrame,
    out_path: str,
    checkpoint: str,
    measure: str = DEFAULT_MEASURE,
    time_col: str = DEFAULT_TIME_COL,
    available_now: bool = True,
    processing_time: str = "10 seconds",
) -> StreamingQuery:
    """SummingMergeTree-parity sink: aggregate-add each micro-batch.

    ``available_now=True`` drains the backlog then stops — the batch-ingest
    mode (reference's one-shot ``etl``); ``False`` runs continuously at
    ``processing_time`` cadence (its hypothetical live mode).

    Exactly-once: ``foreachBatch`` alone is at-least-once — an epoch that
    merged but crashed before the checkpoint committed is REPLAYED, and an
    aggregate-ADD sink double-counts on replay (unlike an overwrite sink,
    where replay is naturally idempotent).  A ledger of committed epoch ids
    next to the table skips replayed epochs.  The ledger marker is written
    after the merge, so the crash window collapses to the marker write
    (~one small file) instead of the whole merge; a transactional table
    format (Delta/Iceberg txn-id) closes even that at production scale.
    The reference is strictly weaker on the same axis: at-least-once with
    dedup off (``insert_deduplicate=False``, clickhouse/clickhouse.py:20).
    """
    def fold(batch: DataFrame, epoch: int) -> None:
        # Hadoop FS API, not os.path: checkpoint may be s3a://, hdfs://, ...;
        # foreachBatch runs on the driver, so one FS round-trip per epoch.
        spark_ = batch.sparkSession
        fs, hpath = hadoop_fs(spark_, checkpoint)
        marker = hpath(f"{checkpoint}/_committed_epochs/{epoch}")
        if fs.exists(marker):  # replayed epoch — already merged
            return
        if batch.isEmpty():
            return
        merge_rollup(
            spark_, batch, out_path, measure=measure, time_col=time_col
        )
        fs.create(marker, True).close()

    writer = (
        df.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def _qevents_replay_stream(spark, n_batches: int):
    """The qevents roll-up columns as an ``n_batches``-file stream, split by a
    deterministic row hash so rows of the same hour land in different batches
    and the aggregate-add path (not just first-insert) is exercised.  Splits
    are written BY SPARK (:func:`...parts.land`) — no driver materialization.
    Returns ``(streaming DataFrame, base dir)``."""
    import os
    from qradar_restapi_kafka_datapipeline_spark.engine import scratch_dir

    cols = spark.table("qevents").select("ts", "domainId", "eventName", "eventCount")
    base = scratch_dir("rollup_stream_")
    # deterministic hash split: any split yields the same merged result —
    # that invariance is exactly what the parity entries assert
    batches = hash_batches(
        cols,
        [F.unix_micros("ts"), "domainId", "eventName", "eventCount"],
        n_batches,
    )
    return land(spark, batches, os.path.join(base, "landing")), base


def rollup_events_streaming(spark, sf_dir: str, n_batches: int = 3) -> DataFrame:
    """Replay the qevents relation through the EXACT streaming roll-up and
    return the final table — the proof that the incremental foreachBatch
    merge computes the same relation as the one-shot batch aggregate
    (reference SummingMergeTree merge-on-read ≡ merge-on-write here).
    No watermark/sentinel machinery is needed: exact mode accepts unbounded
    lateness by construction.
    """
    import os

    stream, base = _qevents_replay_stream(spark, n_batches)
    out, ckpt = os.path.join(base, "rollup"), os.path.join(base, "ckpt")
    streaming_rollup_exact(
        stream, out, ckpt, measure="eventCount", time_col="ts"
    ).awaitTermination()
    return spark.read.parquet(out).select(
        F.col("ts").alias("Start_Time"),
        "domainId",
        "eventName",
        F.col("eventCount").cast("bigint").alias("Event_Count"),
    )


def rollup_events_streaming_txn(spark, sf_dir: str, n_batches: int = 3) -> DataFrame:
    """The same exact-mode replay through the TRANSACTIONAL sink
    (operators/txn_rollup.py): every micro-batch merge publishes an atomic
    manifest commit carrying its epoch id, so torn merges and replayed-epoch
    double-counts are impossible by construction — and the final table must
    still equal the one-shot batch aggregate."""
    import os

    from qradar_restapi_kafka_datapipeline_spark.operators.txn_rollup import (
        TxnRollupTable,
        streaming_rollup_txn,
    )

    stream, base = _qevents_replay_stream(spark, n_batches)
    table, ckpt = os.path.join(base, "txn_table"), os.path.join(base, "ckpt")
    streaming_rollup_txn(
        stream, table, ckpt, measure="eventCount", time_col="ts"
    ).awaitTermination()
    return TxnRollupTable(spark, table).read().select(
        F.col("ts").alias("Start_Time"),
        "domainId",
        "eventName",
        F.col("eventCount").cast("bigint").alias("Event_Count"),
    )


def rollup_events_streaming_watermarked(
    spark,
    sf_dir: str,
    n_batches: int = 3,
    watermark: str = "2 hours",
) -> DataFrame:
    """Replay qevents through the WATERMARKED roll-up and return the final
    table — the parity proof for the low-latency mode.

    The exact-mode replay (:func:`rollup_events_streaming`) can split rows
    by hash because aggregate-add accepts unbounded lateness; here the
    split is CONTIGUOUS IN EVENT TIME (how a real stream arrives), so every
    row lands within ``watermark`` of the running max event time and nothing
    is dropped — making the append-mode windowed aggregate equal the batch
    ``GROUP BY hour`` exactly.  Batches are the ``n_batches`` NTILE ranges of
    the time order, written BY SPARK (:func:`...parts.land`) — the harness
    never materializes the corpus to the driver.  Two far-future sentinel
    batches push the final watermark past every real window's end so the last
    windows flush (append mode only emits a window once the watermark passes
    it); sentinels carry a reserved ``domainId`` and are filtered from the
    result.
    """
    import os
    from datetime import datetime, timedelta, timezone

    from pyspark.sql.window import Window

    from qradar_restapi_kafka_datapipeline_spark.engine import scratch_dir

    cols = spark.table("qevents").select("ts", "domainId", "eventName", "eventCount")
    base = scratch_dir("rollup_wm_stream_")

    # ntile over the global time order = contiguous event-time ranges (the
    # one-partition sort is the harness's price for a totally-ordered replay;
    # the data never leaves the executors)
    keyed = cols.withColumn(
        "__b", F.ntile(n_batches).over(Window.orderBy("ts")) - 1
    )
    batches = [keyed.where(F.col("__b") == i).drop("__b") for i in range(n_batches)]
    y2034 = datetime(2034, 1, 1, tzinfo=timezone.utc)
    batches += [
        local_relation(spark, [(ts, -1, "__sentinel__", 0)], cols.schema)
        for ts in (y2034, y2034 + timedelta(days=1))
    ]
    stream = land(spark, batches, os.path.join(base, "landing"))
    out, ckpt = os.path.join(base, "rollup"), os.path.join(base, "ckpt")
    streaming_rollup_watermarked(
        stream, out, ckpt, measure="eventCount", time_col="ts", watermark=watermark
    ).awaitTermination()
    return (
        spark.read.parquet(out)
        .where(F.col("domainId") >= 0)
        .select(
            F.col("ts").alias("Start_Time"),
            "domainId",
            "eventName",
            F.col("eventCount").cast("bigint").alias("Event_Count"),
        )
    )


def streaming_rollup_watermarked(
    df: DataFrame,
    out_path: str,
    checkpoint: str,
    measure: str = DEFAULT_MEASURE,
    time_col: str = DEFAULT_TIME_COL,
    watermark: str = "2 hours",
    dims: list[str] | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Low-latency native windowed aggregate (late rows beyond ``watermark``
    are dropped — the documented deviation from SummingMergeTree)."""
    if dims is None:
        dims = [c for c in df.columns if c not in (measure, time_col)]
    agg = (
        df.withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), "1 hour").alias("w"), *dims)
        .agg(F.sum(measure).alias(measure))
        .select(
            F.col("w.start").alias(time_col),
            *dims,
            measure,
        )
        .withColumn("event_date", F.to_date(F.col(time_col)))
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .partitionBy("event_date")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def globalview_streaming_parts(
    spark,
    view: str,
    n_batches: int = 3,
    _crash_after_write_epoch: int | None = None,
) -> DataFrame:
    """Continuously-maintained GLOBALVIEW state via the per-epoch
    immutable-parts protocol (round 12, VERDICT r11 #8) — the strong
    replay posture (CLAUDE.md r7: never read-merge-overwrite in a
    streaming fold) applied to the reference's central artifact: each
    qevents micro-batch lands ITS OWN hourly view aggregate as
    ``view_parts/epoch=N`` (mode=overwrite — replay rewrites exactly its
    part), and the served view is the merge-on-read over all parts
    (SUM/SUM/MIN/MAX re-aggregate — every state column merges losslessly
    at the same grain, the SummingMergeTree/AggregatingMergeTree
    contract).  Returns the merged view relation, value-identical to the
    one-shot :func:`...views.globalview_sql` aggregate by construction —
    which is what the composed gate entry hash-proves (through the
    aggregate NAVIGATOR on top, against a raw-events oracle).

    ``_crash_after_write_epoch``: crash-injection hook (raise once AFTER
    the part write, restart from the same checkpoint — replay test)."""
    import os

    from qradar_restapi_kafka_datapipeline_spark.engine import scratch_dir
    from qradar_restapi_kafka_datapipeline_spark.views import (
        _VIEW_DIMS,
        globalview_sql,
    )

    cols = spark.table("qevents").select(
        "ts", "eventCount", "magnitude", "devicetype", "category", "qid",
        *_VIEW_DIMS,
    )
    base = scratch_dir("gv_stream_parts_")
    parts = os.path.join(base, "view_parts")

    def view_part(batch: DataFrame) -> DataFrame:
        return batch.sparkSession.sql(globalview_sql(view, "{batch}"), batch=batch)

    replay_epochs(
        spark, cols, [F.unix_micros("ts"), *_VIEW_DIMS, "eventCount"],
        n_batches, base, parts, view_part,
        crash_after_write_epoch=_crash_after_write_epoch,
    )

    dims = ", ".join(_VIEW_DIMS)
    return spark.sql(
        f"SELECT {dims}, ts, "
        f"CAST(SUM(SUM_eventCount) AS BIGINT) AS SUM_eventCount, "
        f"CAST(SUM(n_rows) AS BIGINT) AS n_rows, "
        f"CAST(MIN(MIN_eventCount) AS BIGINT) AS MIN_eventCount, "
        f"CAST(MAX(MAX_eventCount) AS BIGINT) AS MAX_eventCount "
        f"FROM parquet.`{parts}` GROUP BY {dims}, ts"
    )


def volume_anomaly_sql(hourly_src: str) -> str:
    """Trailing z-score over an HOURLY-VOLUME relation ``(h, eventName, n)``
    — the engine-shared scoring layer of the streaming anomaly parity.  Same
    exact-BIGINT rearrangement as the batch ``event_rate_anomaly`` entry
    (every intermediate integer; doubles only in the two terminal sqrts), so
    the score is bit-identical whether ``hourly_src`` is the live streamed
    state or the oracle's one-shot batch aggregate."""
    return f"""
    SELECT h AS hour, eventName, CAST(n AS BIGINT) AS n_volume,
           ROUND((n * k - s1) * sqrt(CAST(k * (k - 1) AS DOUBLE)) /
             (k * NULLIF(sqrt(CAST(s2 * k - s1 * s1 AS DOUBLE)), 0)) + 1e-9, 4)
             AS z
    FROM (
      SELECT h, eventName, n,
        CAST(SUM(n) OVER w AS BIGINT) AS s1,
        CAST(SUM(n * n) OVER w AS BIGINT) AS s2,
        CAST(COUNT(*) OVER w AS BIGINT) AS k
      FROM ({hourly_src}) hourly
      WINDOW w AS (PARTITION BY eventName ORDER BY h
        ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    ) stats WHERE k >= 12
    """


def anomaly_scores_streaming(spark, sf_dir: str, n_batches: int = 3) -> DataFrame:
    """Streaming twin of the volume-anomaly detector: the hourly per-type
    state is maintained by the WATERMARKED streaming roll-up (event-time
    contiguous replay, append mode, sentinel flush), and the z-scoring layer
    is a view over that streamed state — the standard production split
    (stream keeps the pre-aggregate small and hot; scoring reads it).  The
    parity entry hashes this against the oracle's one-shot raw-events
    aggregate + the SAME scoring SQL, so a drop/double-count anywhere in the
    streaming path fails the gate."""
    return spark.sql(
        volume_anomaly_sql(
            "SELECT Start_Time AS h, eventName, "
            "CAST(SUM(Event_Count) AS BIGINT) AS n "
            "FROM {hourly} GROUP BY 1, 2"
        ),
        hourly=rollup_events_streaming_watermarked(spark, sf_dir, n_batches),
    )
