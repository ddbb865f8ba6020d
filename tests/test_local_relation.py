"""Driver-held rows reach Spark as Arrow-backed local relations, and a
relation this session just wrote is read back with the schema it wrote:
neither starts a Spark job of its own."""

from datetime import datetime, timezone

from qradar_restapi_kafka_datapipeline_spark import engine
from qradar_restapi_kafka_datapipeline_spark.operators import text as T

SHAPES = (
    "a BIGINT, b INT, c DOUBLE, d STRING, e ARRAY<DOUBLE>, t TIMESTAMP"
)
ROWS = [
    (1, 2, 0.5, "x", [1.0, -2.5], datetime(2034, 1, 1, tzinfo=timezone.utc)),
    (-(2**40), None, None, None, [], None),
    (None, -7, 1e-300, "", None, datetime(1999, 12, 31, 23, 59, 59, 123456,
                                          tzinfo=timezone.utc)),
]


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_local_relation_round_trips_every_site_shape(spark):
    want = spark.createDataFrame(ROWS, SHAPES)
    assert "PythonRDD" in _lineage(want)
    pinned = want.selectExpr("*", "a + 1 AS a1")
    for got, ref in [
        (engine.local_relation(spark, ROWS, SHAPES), want),
        (engine.local_relation(spark, ROWS, want.schema), want),
        (engine.local_relation(spark, [], SHAPES), want.limit(0)),
        (engine.local_relation(spark, pinned.toArrow(), pinned.schema), pinned),
    ]:
        assert got.schema == ref.schema
        assert got.collect() == ref.collect()
        assert "PythonRDD" not in _lineage(got)


def test_materialize_view_reads_back_without_a_job(spark, count_jobs):
    df = spark.range(10).selectExpr("id", "array(id * 0.5) AS v")
    back = []

    def run():
        back.append(engine.materialize_view(spark, df, "__test_readback"))

    # the write is the one job; the read-back infers nothing
    assert count_jobs(run) == 1
    (back,) = back
    assert back.schema == spark.read.parquet(back.inputFiles()[0]).schema
    assert sorted(back.collect()) == sorted(df.collect())


def test_first_index_serve_after_build_job_budget(
    spark, tables, tmp_path, count_jobs
):
    """The build seeds the three trees' schemas, so the first serve opens
    them without footer jobs, and the query weights ride in the plan as
    literals (8 jobs when footers and a Python-read query relation were
    paid, 5 with a broadcast query relation).  The one stoplist read is
    the first serve's only job beyond the scoring query."""
    base = str(tmp_path / "text_index")
    T.build_text_index(spark, base, dim=4096)
    text = spark.table("documents").where("doc_id = 0").first()["text"]

    def serve():
        T.text_knn_from_index(
            spark, base, text, k=5, dim=4096, query_id=0, exclude_id=0
        ).collect()

    assert count_jobs(serve) <= 4
    # the seeded schemas are what inference returns
    memo = engine.session_state(spark)
    for tree in ("postings", "norms", "stoplist"):
        path = f"{base}/{tree}"
        inferred = spark.read.option("basePath", path).parquet(path).schema
        assert memo[("artifact_schema", path)] == inferred
