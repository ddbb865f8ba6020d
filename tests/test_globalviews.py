"""Materialized GLOBALVIEW lifecycle: materialize → route → incremental update."""

from pyspark.sql import functions as F

from qradar_restapi_kafka_datapipeline_spark.plans.aql import AQLFrontend
from qradar_restapi_kafka_datapipeline_spark.sources.registry import register_qevents
from qradar_restapi_kafka_datapipeline_spark.views import (
    GLOBALVIEW_SPECS,
    materialize_globalviews,
    register_globalviews,
    register_materialized_globalviews,
    update_globalviews_incremental,
)


def test_materialize_route_and_query(spark, sf_dir, tmp_path):
    register_qevents(spark, sf_dir)
    register_globalviews(spark)
    # virtual baseline
    virtual = spark.table("MongoDB_UBA").agg(F.sum("SUM_eventCount")).first()[0]

    base = str(tmp_path / "views")
    materialize_globalviews(spark, base)
    names = register_materialized_globalviews(spark, base)
    assert set(names) == set(GLOBALVIEW_SPECS)

    # the AQL frontend now reads the materialized table
    fe = AQLFrontend(spark)
    df = fe.sql(
        "SELECT * FROM GLOBALVIEW('MongoDB_UBA','NORMAL') "
        "START '2024-01-01 00:00:00' STOP '2025-01-01 00:00:00'"
    )
    assert df.agg(F.sum("SUM_eventCount")).first()[0] == virtual


def test_incremental_update_folds_new_events(spark, sf_dir, tmp_path):
    register_qevents(spark, sf_dir)
    register_globalviews(spark)
    base = str(tmp_path / "views")
    materialize_globalviews(spark, base)
    before = (
        spark.read.parquet(f"{base}/MongoDB_UBA")
        .agg(F.sum("SUM_eventCount")).first()[0]
    )

    # a late 'view' event for an existing hour folds in; others don't touch UBA
    inc = spark.sql(
        "SELECT * FROM qevents WHERE eventName = 'view' LIMIT 3"
    )
    inc_sum = inc.agg(F.sum("eventCount")).first()[0]
    update_globalviews_incremental(spark, base, inc)
    after = (
        spark.read.parquet(f"{base}/MongoDB_UBA")
        .agg(F.sum("SUM_eventCount")).first()[0]
    )
    assert after == before + inc_sum


def test_incremental_update_migrates_pre_minmax_schema(spark, sf_dir, tmp_path):
    """ADVICE r8: a view tree persisted BEFORE the MIN/MAX state columns
    existed must be rebuilt from the full (pre-increment) event relation
    when an increment arrives — unionByName on the stale schema used to
    throw, and neutral fills would fabricate wrong MIN/MAX answers.  After
    migration + fold, every state column equals a from-scratch recompute
    over snapshot ∪ increment."""
    import pytest

    from qradar_restapi_kafka_datapipeline_spark.views import globalview_sql

    register_qevents(spark, sf_dir)
    # pre-increment snapshot vs the batch that will arrive later
    spark.sql("SELECT * FROM qevents WHERE qid % 7 != 0").createOrReplaceTempView(
        "__gv_snapshot"
    )
    inc = spark.sql("SELECT * FROM qevents WHERE qid % 7 = 0")
    assert inc.count() > 0

    base = str(tmp_path / "views")
    name = "MongoDB_UBA"
    # persist the r6-era schema: full view over the snapshot, MIN/MAX dropped
    old = spark.sql(globalview_sql(name, "__gv_snapshot")).drop(
        "MIN_eventCount", "MAX_eventCount"
    )
    old.withColumn("event_date", old["ts"].cast("date")).write.mode(
        "overwrite"
    ).partitionBy("event_date").parquet(f"{base}/{name}")

    # fail-fast mode: stale schema with no rebuild source is an error
    with pytest.raises(RuntimeError, match="predates state columns"):
        update_globalviews_incremental(
            spark, base, inc, names=[name], rebuild_source=None
        )

    update_globalviews_incremental(
        spark, base, inc, names=[name], rebuild_source="__gv_snapshot"
    )
    got = {
        tuple(r[d] for d in ["domainId", "userName", "sourceip", "eventName"])
        + (r["ts"], r["SUM_eventCount"], r["n_rows"],
           r["MIN_eventCount"], r["MAX_eventCount"])
        for r in spark.read.parquet(f"{base}/{name}").drop("event_date").collect()
    }
    want = {
        tuple(r[d] for d in ["domainId", "userName", "sourceip", "eventName"])
        + (r["ts"], r["SUM_eventCount"], r["n_rows"],
           r["MIN_eventCount"], r["MAX_eventCount"])
        for r in spark.sql(globalview_sql(name, "qevents")).collect()
    }
    assert got == want


def test_incremental_update_runs_inside_foreach_batch(spark, sf_dir, tmp_path):
    """The docstring's usage: a foreachBatch batch belongs to the stream's
    cloned session, so the fold's SQL must run on that session — the outer
    ``spark.sql`` cannot resolve the batch relation."""
    register_qevents(spark, sf_dir)
    register_globalviews(spark)
    base = str(tmp_path / "views")
    materialize_globalviews(spark, base, names=["MongoDB_UBA"])
    before = (
        spark.read.parquet(f"{base}/MongoDB_UBA")
        .agg(F.sum("SUM_eventCount")).first()[0]
    )
    src = str(tmp_path / "landing")
    spark.sql(
        "SELECT * FROM qevents WHERE eventName = 'view' LIMIT 10"
    ).write.parquet(src)
    landed = spark.read.parquet(src)
    batch_sum = landed.agg(F.sum("eventCount")).first()[0]
    q = (
        spark.readStream.schema(landed.schema).parquet(src)
        .writeStream.foreachBatch(
            lambda batch, _: update_globalviews_incremental(
                spark, base, batch, names=["MongoDB_UBA"]
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    after = (
        spark.read.parquet(f"{base}/MongoDB_UBA")
        .agg(F.sum("SUM_eventCount")).first()[0]
    )
    assert batch_sum > 0
    assert after == before + batch_sum
