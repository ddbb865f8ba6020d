"""Bucketed co-located joins, compaction, metrics listener."""

import contextlib
import glob
import io
import time

from pyspark.sql import functions as F

from qradar_restapi_kafka_datapipeline_spark.operators.maintenance import (
    MetricsListener,
    compact_rollup,
)
from qradar_restapi_kafka_datapipeline_spark.sources.bucketing import (
    cobucketed_join,
    write_bucketed,
)


def _plan(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_cobucketed_join_has_no_exchange(spark, tmp_path):
    # warehouse.dir is a static conf — tables land in ./spark-warehouse
    # (gitignored) and are dropped below
    a = spark.range(0, 10_000).select(F.col("id").alias("k"), (F.col("id") % 7).alias("va"))
    b = spark.range(0, 10_000).select(F.col("id").alias("k"), (F.col("id") % 5).alias("vb"))
    write_bucketed(a, "bk_a", ["k"], num_buckets=8, sort_cols=["k"])
    write_bucketed(b, "bk_b", ["k"], num_buckets=8, sort_cols=["k"])
    # the broadcast threshold would hide the point — force the merge path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = cobucketed_join(spark, "bk_a", "bk_b", ["k"])
        plan = _plan(joined)
        assert "Exchange" not in plan, "co-bucketed join should not shuffle"
        assert joined.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_compact_rollup_reduces_files(spark, tmp_path):
    path = str(tmp_path / "r")
    df = spark.createDataFrame(
        [(f"2024-07-{d:02d}", i, 1) for d in (1, 2) for i in range(50)],
        ["event_date", "k", "Event_Count"],
    ).withColumn("event_date", F.to_date("event_date"))
    # simulate many-epoch ingestion: 10 appends → many small files
    for _ in range(5):
        df.repartition(4).write.mode("append").partitionBy("event_date").parquet(path)
    before = len(glob.glob(f"{path}/event_date=*/*.parquet"))
    total_before = spark.read.parquet(path).agg(F.sum("Event_Count")).first()[0]
    n = compact_rollup(spark, path)
    after = len(glob.glob(f"{path}/event_date=*/*.parquet"))
    total_after = spark.read.parquet(path).agg(F.sum("Event_Count")).first()[0]
    assert n == 2 and after < before
    assert total_after == total_before  # layout-only rewrite


def test_metrics_listener_counts_rows(spark, tmp_path):
    import json, os
    src = str(tmp_path / "in")
    os.makedirs(src)
    with open(f"{src}/a.jsonl", "w") as f:
        for i in range(25):
            f.write(json.dumps({"id": i}) + "\n")
    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        q = (
            spark.readStream.schema("id BIGINT").json(src)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        # listener events are delivered asynchronously
        for _ in range(40):
            if listener.total_rows >= 25:
                break
            time.sleep(0.25)
        assert listener.total_rows == 25
    finally:
        spark.streams.removeListener(listener)


def test_bucketed_lag_equals_plain_lag_with_nulls(spark):
    """bucketed_lag must match plain LAG even when the lagged COLUMN holds
    NULLs mid-bucket (review r3: a coalesce-based stitch wrongly substituted
    the previous bucket's last value for a legitimate NULL predecessor)."""
    import datetime

    from pyspark.sql import Row
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from qradar_restapi_kafka_datapipeline_spark.operators.skew import bucketed_lag

    rows = []
    v = ["a", None, "b", None, None, "c", "d"]
    for i, val in enumerate(v * 3):  # spans 3 "days" via i // 7
        rows.append(
            Row(
                user_id=1,
                seq=i,
                day=datetime.date(2024, 1, 1 + i // 7),
                val=val,
            )
        )
    df = spark.createDataFrame(rows)
    got = {
        r.seq: r.prev
        for r in bucketed_lag(
            df, ["user_id"], [F.col("seq")], "val", "day", out_col="prev"
        ).collect()
    }
    w = Window.partitionBy("user_id").orderBy("seq")
    want = {
        r.seq: r.prev
        for r in df.withColumn("prev", F.lag("val").over(w)).collect()
    }
    assert got == want


def test_persist_tracked_releases_previous_relation(spark):
    """ADVICE r3: operators that persist intermediates must release the prior
    invocation's relation."""
    from qradar_restapi_kafka_datapipeline_spark import engine

    df1 = spark.range(10)
    df2 = spark.range(20)
    p1 = engine.persist_tracked(df1, "__t_pv")
    held1 = engine._PERSISTED["__t_pv"]
    assert held1.storageLevel.useMemory
    p2 = engine.persist_tracked(df2, "__t_pv")
    assert not held1.storageLevel.useMemory  # previous relation unpersisted
    assert p2.count() == 20
    assert p1.count() == 10  # old relation still computes (uncached)
    engine._PERSISTED.pop("__t_pv").unpersist()

def test_materialize_view_reclaims_old_generations(spark):
    """ADVICE r5: materialize_view must bound scratch growth — generation
    N-2 is deleted on the Nth invocation while N-1 (plans may still hold
    it) stays readable; no generation leaves a catalog entry."""
    import os

    from qradar_restapi_kafka_datapipeline_spark import engine

    key = "__t_mat"
    engine._MAT_GENERATIONS.pop(key, None)
    tables_before = sorted(t.name for t in spark.catalog.listTables())
    dfs, paths = [], []
    for n in (5, 6, 7):
        dfs.append(engine.materialize_view(spark, spark.range(n), key))
        paths.append(engine._MAT_GENERATIONS[key][-1])
    assert len(engine._MAT_GENERATIONS[key]) == engine._MAT_RETAIN
    assert not os.path.exists(paths[0])          # N-2 reclaimed
    assert os.path.exists(paths[1]) and os.path.exists(paths[2])
    assert dfs[-1].count() == 7                  # newest serves
    assert dfs[-2].count() == 6                  # N-1 plans still valid
    assert sorted(t.name for t in spark.catalog.listTables()) == tables_before
    engine._MAT_GENERATIONS.pop(key, None)
