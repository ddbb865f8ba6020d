import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qradar_restapi_kafka_datapipeline_spark.engine import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(action)``: the Spark jobs ``action`` submits, counted
    in the status store by job group (broadcast threads inherit it)."""
    sc = spark.sparkContext

    def count(action) -> int:
        group = f"budget-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from qradar_restapi_kafka_datapipeline_spark.sources.registry import load_tables

    return load_tables(spark, sf_dir)


def _nulls_last(row):
    return tuple((v is None, v) for v in row)


@pytest.fixture(scope="session")
def run_both(spark):
    """Run one SQL text in Spark and in DuckDB (the oracle engine).  Each
    ``{name}`` in the text is a relation given as ``name=(ddl, rows)``;
    returns both results as sorted lists of tuples (NULLs last).
    ``duck_sql`` runs in DuckDB instead, where the dialects' texts differ."""
    import duckdb

    def run(sql: str, duck_sql: str | None = None, **relations):
        con = duckdb.connect()
        dfs = {}
        for name, (ddl, rows) in relations.items():
            con.execute(f"CREATE TABLE {name} ({ddl})")
            marks = ", ".join("?" * len(rows[0]))
            con.executemany(f"INSERT INTO {name} VALUES ({marks})", rows)
            dfs[name] = spark.createDataFrame(rows, ddl)
        got_spark = [tuple(r) for r in spark.sql(sql, **dfs).collect()]
        got_duck = con.execute(
            (duck_sql or sql).format(**{n: n for n in relations})
        ).fetchall()
        con.close()
        return sorted(got_spark, key=_nulls_last), sorted(got_duck, key=_nulls_last)

    return run
