"""Hourly summing roll-up — the SummingMergeTree equivalent (SURVEY §2 B11).

The reference's terminal aggregation is ClickHouse ``SummingMergeTree``: rows with
an equal ORDER-BY key (= every non-measure column, with Start_Time truncated to the
hour) collapse, summing ``Event_Count``; the table is partitioned by day
(reference ``clickhouse/clickhouse.py:70-81``).

Spark-first restatement: ``groupBy(hour-truncated time, *all other dims)
.agg(sum(measure))`` written ``partitionBy(event_date)``.  The groupBy does a
map-side partial aggregate, so at 100 TB the shuffle carries only the collapsed
(dims × hour) keyspace — the same collapse SummingMergeTree performs at merge time,
but done before the network instead of after.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_MEASURE = "Event_Count"  # the sole non-nullable measure (helpers.py:142-143)
DEFAULT_TIME_COL = "Start_Time"


#: merge functions for measure STATES — SummingMergeTree is the "sum" case;
#: "min"/"max" are the AggregatingMergeTree minState/maxState analogs (both
#: idempotent and associative, so they re-merge at any grain), used by the
#: GLOBALVIEW maintenance path for MIN_eventCount/MAX_eventCount
_AGG = {"sum": F.sum, "min": F.min, "max": F.max}


def _measures(measure: str | list[str] | dict[str, str]) -> dict[str, str]:
    """SummingMergeTree sums EVERY numeric non-key column; accept one name,
    a list (all summed — the GLOBALVIEW path carries SUM_eventCount +
    n_rows), or a ``{col: "sum"|"min"|"max"}`` dict for mixed-state views."""
    if isinstance(measure, str):
        return {measure: "sum"}
    if isinstance(measure, dict):
        return {m: fn for m, fn in measure.items()}
    return {m: "sum" for m in measure}


def summing_rollup(
    df: DataFrame,
    measure: str | list[str] | dict[str, str] = DEFAULT_MEASURE,
    time_col: str = DEFAULT_TIME_COL,
    grain: str = "hour",
    dims: list[str] | None = None,
) -> DataFrame:
    """Collapse equal-key rows at ``grain`` truncation, merging ``measure``
    (one column name, a list — each summed — or a ``{col: fn}`` dict with
    fn ∈ sum/min/max, each merged by its own state function).

    ``dims`` defaults to every column except measures and time — exactly the
    SummingMergeTree ORDER BY tuple (reference clickhouse/clickhouse.py:76-78,
    summing-key derivation clickhouse/helpers.py:182-190). Nulls group together
    (``allow_nullable_key=1`` parity). Adds ``event_date`` (the day-partition
    column, ``PARTITION BY toYYYYMMDD`` parity).
    """
    ms = _measures(measure)
    if dims is None:
        dims = [c for c in df.columns if c not in (*ms, time_col)]
    bucketed = df.withColumn(time_col, F.date_trunc(grain, F.col(f"`{time_col}`")))
    out = (
        bucketed.groupBy(F.col(f"`{time_col}`"), *[F.col(f"`{d}`") for d in dims])
        .agg(*[_AGG[fn](F.col(f"`{m}`")).alias(m) for m, fn in ms.items()])
        .withColumn("event_date", F.to_date(F.col(f"`{time_col}`")))
    )
    return out


def write_rollup(
    df: DataFrame,
    path: str,
    measure: str = DEFAULT_MEASURE,
    time_col: str = DEFAULT_TIME_COL,
    mode: str = "append",
) -> None:
    """Materialize a roll-up partitioned by day (PARTITION BY toYYYYMMDD parity).

    Day partitions make the AQL ``START/STOP`` time bounds prune at the file
    listing level — the Spark analog of ClickHouse partition pruning.
    """
    rolled = summing_rollup(df, measure=measure, time_col=time_col)
    rolled.write.mode(mode).partitionBy("event_date").parquet(path)


def merge_rollup(spark, increment: DataFrame, path: str,
                 measure: str | list[str] | dict[str, str] = DEFAULT_MEASURE,
                 time_col: str = DEFAULT_TIME_COL) -> None:
    """Aggregate-add upsert: fold an increment into an existing roll-up table.

    SummingMergeTree accepts unbounded lateness (rows merge whenever they arrive).
    Streaming watermarks can't, so the exact-parity mode is this batch MERGE:
    read current ∪ increment → re-collapse → overwrite the day partitions of
    the result. ``current`` is the whole table, so every merge reads and
    rewrites EVERY existing day, not only the increment's days: write cost
    grows with the table, not with the increment. Used by the foreachBatch
    sink (streaming/rollup_stream.py).
    """
    ms = _measures(measure)
    inc = summing_rollup(increment, measure=ms, time_col=time_col)
    try:
        current = spark.read.parquet(path)
    except Exception:
        inc.write.mode("overwrite").partitionBy("event_date").parquet(path)
        return
    dims = [c for c in inc.columns if c not in ms]
    merged = (
        current.unionByName(inc)
        .groupBy(*[F.col(f"`{d}`") for d in dims])
        .agg(*[_AGG[fn](F.col(f"`{m}`")).alias(m) for m, fn in ms.items()])
    )
    # Dynamic partition overwrite replaces the days `merged` holds -- all of
    # them, since `current` is unrestricted.
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date")
        .parquet(path)
    )
