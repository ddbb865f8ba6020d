"""GLOBALVIEW materialization + reference sets (SURVEY §2 A2/A9/A15, §7.1 M5).

The reference's ``new_queries.json:2-10`` scans nine QRadar pre-aggregated
GLOBALVIEWs (``SELECT * FROM GLOBALVIEW('MongoDB_<name>','NORMAL')``).  A
GLOBALVIEW is a continuously-maintained ``GROUP BY dims @ hourly grain +
SUM(eventCount)`` materialization — the same shape as the SummingMergeTree sink
(SURVEY §1.1).  The engine maintains them as aggregates over the event relation
and routes ``FROM GLOBALVIEW(...)`` scans to them (explicit routing, §4).

Each view's definition is ONE dialect-neutral SQL body (valid in Spark SQL and
DuckDB), so the correctness oracle can inline the identical definition.

At scale: materialize with ``materialize_globalviews`` (day-partitioned parquet,
maintained incrementally via streaming/rollup_stream.py); registered temp views
over the event relation are the zero-copy fallback the tests use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# name → WHERE filter over qevents. Dims + hourly grain are shared. These stand
# in for QRadar's view definitions (which live server-side, invisible to the
# reference repo); the structure — filter → group at hour → SUM — is the load-
# bearing part.
GLOBALVIEW_SPECS: dict[str, str] = {
    "MongoDB_AuthenticationFailure": "eventName = 'error'",
    "MongoDB_AuthenticationSuccess": "eventName = 'signup'",
    "MongoDB_VPNAccess": "eventName = 'click'",
    "MongoDB_TopSecurityEvents": "magnitude >= 7",
    "MongoDB_CREEvents": "devicetype = 0",
    "MongoDB_UBA": "eventName = 'view'",
    "MongoDB_GroupModification": "category IN (4005, 4010, 4015)",
    "MongoDB_GroupModificationAzureActiveDirectory":
        "category IN (4020, 4025) AND devicetype % 2 = 0",
    "MongoDB_LogonType": "qid % 10 IN (2, 10)",
}

_VIEW_DIMS = ["domainId", "userName", "sourceip", "eventName"]


def globalview_sql(name: str, source: str = "qevents") -> str:
    """The view's defining aggregate, valid in both Spark SQL and DuckDB.

    ``n_rows`` is the summed row count SummingMergeTree keeps implicitly
    (every merge adds part row counts): it makes COUNT(*) routable as
    SUM(n_rows) and AVG(x) as SUM-over-SUM in the aggregate navigator
    (VERDICT r5 #5) at the cost of one BIGINT per collapsed row.

    ``MIN_eventCount``/``MAX_eventCount`` are AggregatingMergeTree
    minState/maxState analogs (VERDICT r6 #7): MIN/MAX merge losslessly at
    any coarser grain (min of mins IS the min), so the navigator can route
    ``MIN(eventCount)``/``MAX(eventCount)`` the way it routes
    ``SUM(eventCount)`` — two more BIGINTs per collapsed row.
    """
    where = GLOBALVIEW_SPECS[name]
    dims = ", ".join(_VIEW_DIMS)
    return (
        f"SELECT {dims}, date_trunc('hour', ts) AS ts, "
        f"CAST(SUM(eventCount) AS BIGINT) AS SUM_eventCount, "
        f"CAST(COUNT(*) AS BIGINT) AS n_rows, "
        f"CAST(MIN(eventCount) AS BIGINT) AS MIN_eventCount, "
        f"CAST(MAX(eventCount) AS BIGINT) AS MAX_eventCount "
        f"FROM {source} WHERE {where} "
        f"GROUP BY {dims}, date_trunc('hour', ts)"
    )


def register_globalviews(spark: SparkSession, source: str = "qevents") -> list[str]:
    """Register all nine views as temp views over the event relation."""
    for name in GLOBALVIEW_SPECS:
        spark.sql(globalview_sql(name, source)).createOrReplaceTempView(name)
    return list(GLOBALVIEW_SPECS)


def materialize_globalviews(
    spark: SparkSession,
    base_path: str,
    source: str = "qevents",
    names: list[str] | None = None,
) -> None:
    """Write each view day-partitioned — the continuously-maintained form.

    Queries then scan collapsed data with partition pruning on the START/STOP
    bounds, exactly the reference's GLOBALVIEW + SummingMergeTree read path.
    """
    for name in GLOBALVIEW_SPECS if names is None else names:
        df = spark.sql(globalview_sql(name, source))
        (
            df.withColumn("event_date", df["ts"].cast("date"))
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(f"{base_path}/{name}")
        )


#: State columns every on-disk view must carry for merge_rollup to fold
#: increments losslessly.  Grew over time (n_rows in r5, MIN/MAX in r7) —
#: see :func:`_migrate_view_schema` for what happens to older trees.
_VIEW_STATE_COLS = frozenset(
    {"SUM_eventCount", "n_rows", "MIN_eventCount", "MAX_eventCount"}
)


def _migrate_view_schema(
    spark: SparkSession, base_path: str, name: str, rebuild_source: str | None
) -> bool:
    """Detect an on-disk view written under an OLDER schema (missing state
    columns) and rebuild it from the full event relation (ADVICE r7: a
    pre-round-7 tree lacks MIN/MAX states, and unionByName in merge_rollup
    fails on the mismatch; neutral fills are NOT an option — the min/max
    of an already-collapsed group is unrecoverable from SUM + n_rows).
    Rebuild is lossless here because materialized views are derived
    caches of the event relation, never the system of record.  Returns
    True if a rebuild ran; raises with guidance when no rebuild source is
    available."""
    try:
        cur_cols = set(spark.read.parquet(f"{base_path}/{name}").columns)
    except Exception:
        return False  # no existing tree — merge_rollup creates it
    if _VIEW_STATE_COLS <= cur_cols:
        return False
    if rebuild_source is None:
        raise RuntimeError(
            f"materialized view {name!r} at {base_path} predates state "
            f"columns {sorted(_VIEW_STATE_COLS - cur_cols)}; rebuild it "
            "with materialize_globalviews(...) before folding increments"
        )
    materialize_globalviews(spark, base_path, rebuild_source, [name])
    return True


def update_globalviews_incremental(
    spark: SparkSession,
    base_path: str,
    new_events: DataFrame,
    names: list[str] | None = None,
    rebuild_source: str | None = None,
) -> None:
    """Fold a batch of NEW events into each materialized view — the
    continuously-maintained form (QRadar maintains GLOBALVIEWs incrementally;
    SummingMergeTree merges on arrival).  Aggregate-add semantics via
    merge_rollup, so late events of any age fold into their hour bucket.

    A view persisted under an older schema (missing MIN/MAX states) is
    rebuilt from ``rebuild_source`` first — see :func:`_migrate_view_schema`.
    ``rebuild_source`` must be the event relation as of BEFORE this
    increment (the usual arrangement — the view updater runs in the same
    foreachBatch that lands the batch, before the append): a source that
    already contains the increment would double-count it after the fold.
    Because that precondition is invisible to this function, the default is
    ``None`` — an old-schema tree FAILS FAST with rebuild guidance instead
    of silently rebuilding from a relation that may already hold the batch
    (ADVICE r8); opt into auto-rebuild by naming the pre-increment relation
    explicitly.

    Use from a streaming foreachBatch:
        lambda batch, _: update_globalviews_incremental(spark, path, batch)
    The fold's SQL runs on ``new_events.sparkSession``: a foreachBatch batch
    belongs to the stream's cloned session, where the outer session cannot
    resolve it.
    """
    from qradar_restapi_kafka_datapipeline_spark.operators.rollup import merge_rollup

    for name in GLOBALVIEW_SPECS if names is None else names:
        _migrate_view_schema(spark, base_path, name, rebuild_source)
        inc = new_events.sparkSession.sql(
            globalview_sql(name, "{inc}"), inc=new_events
        )
        merge_rollup(
            spark,
            inc,
            f"{base_path}/{name}",
            measure={
                "SUM_eventCount": "sum",
                "n_rows": "sum",
                "MIN_eventCount": "min",
                "MAX_eventCount": "max",
            },
            time_col="ts",
        )


def register_materialized_globalviews(
    spark: SparkSession, base_path: str, names: list[str] | None = None
) -> list[str]:
    """Route GLOBALVIEW scans to materialized day-partitioned tables.

    After this, ``FROM GLOBALVIEW('MongoDB_X','NORMAL')`` reads collapsed
    parquet (parquet min/max stats skip row groups outside the START/STOP
    bounds; the hour-truncated ts correlates 1:1 with the day partitions) —
    the reference's read path: pre-aggregated, zero recompute per query.
    """
    registered = []
    for name in GLOBALVIEW_SPECS if names is None else names:
        path = f"{base_path}/{name}"
        try:
            df = spark.read.parquet(path)
        except Exception:
            continue
        cols = [c for c in df.columns if c != "event_date"]
        df.select(*cols).createOrReplaceTempView(name)
        registered.append(name)
    return registered


# --- reference sets (SURVEY §2 A9) ------------------------------------------

REF_SETS_SQL = (
    "SELECT DISTINCT 'Known DNS traffic' AS set_name, destinationip AS value "
    "FROM qevents WHERE destinationIPlong % 17 = 0"
)


def register_ref_sets(spark: SparkSession) -> DataFrame:
    """Register the named reference sets relation.

    The reference resolves REFERENCESETCONTAINS inside QRadar against its named
    set store; the engine keeps sets as a (set_name, value) relation.  The AQL
    frontend rewrites membership tests to IN-subqueries against this view —
    Catalyst turns those into broadcast semi-joins.
    """
    df = spark.sql(REF_SETS_SQL)
    df.createOrReplaceTempView("ref_sets")
    return df
