"""The registry's compute-once state: one per-session store
(``engine.session_state``) behind ``entry_queries._once``, never keyed on a
bare ``id()`` of a session, and stored views that outlive the
materialize-generation GC."""

import gc
import os
import re

import pytest
from pyspark.sql.session import _monkey_patch_RDD

from qradar_restapi_kafka_datapipeline_spark import engine
from qradar_restapi_kafka_datapipeline_spark.entry_queries import (
    _once,
    registry,
    setup,
)

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "qradar_restapi_kafka_datapipeline_spark",
)


def test_package_never_keys_on_session_id():
    """``id(spark)`` is reused once a session is collected, so a memo keyed
    on it can hand a later session a stale value; session-scoped state goes
    through ``engine.session_state``."""
    bare_id = re.compile(r"\bid\(\s*(spark|session)")
    hits = []
    for root, _, files in os.walk(PACKAGE):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    for n, line in enumerate(fh, 1):
                        if bare_id.search(line):
                            hits.append(f"{os.path.relpath(path, PACKAGE)}:{n}")
    assert not hits, hits


@pytest.fixture
def other_session(spark):
    """A second session on the fixture's SparkContext.  pyspark points
    ``RDD.toDF`` at the newest session and makes the last session that
    created a DataFrame the active one, so both go back to the fixture
    session afterwards."""
    yield spark.newSession()
    _monkey_patch_RDD(spark)
    spark.createDataFrame([(1,)], "a INT")


def test_once_is_per_session(spark, sf_dir, other_session):
    new = other_session
    fe = setup(spark, sf_dir)
    assert not new.catalog.tableExists("qevents")
    new_fe = setup(new, sf_dir)
    assert new.catalog.tableExists("qevents")
    assert new.table("qevents").count() == spark.table("qevents").count()
    assert setup(new, sf_dir) is new_fe and new_fe is not fe
    assert setup(spark, sf_dir) is fe

    calls = []

    def build():
        calls.append(1)
        return "new"

    assert _once(spark, sf_dir, "__test_probe", lambda: "fixture") == "fixture"
    assert _once(new, sf_dir, "__test_probe", build) == "new"
    assert _once(new, sf_dir, "__test_probe", build) == "new"
    assert calls == [1]
    assert _once(spark, sf_dir, "__test_probe", build) == "fixture"
    assert calls == [1]


def test_session_state_dies_with_its_session(spark, sf_dir):
    s = spark.newSession()
    _once(s, sf_dir, "__test_probe", lambda: "x")
    n = len(engine._SESSION_STATE)
    _monkey_patch_RDD(spark)  # drop pyspark's RDD.toDF reference to ``s``
    del s
    gc.collect()
    assert len(engine._SESSION_STATE) == n - 1


def test_chunk_knn_memo_survives_materialize_gc(spark, sf_dir):
    """The memoized chunk postings must not share a materialize key with
    ``build_chunk_postings``: that key keeps only its newest generations,
    so two later builds used to delete the memoized view's files."""
    from qradar_restapi_kafka_datapipeline_spark.operators import text as T

    setup(spark, sf_dir)
    entry = registry()["text_chunk_knn"]
    before = entry.run(spark, sf_dir).count()
    T.build_chunk_postings(spark)
    T.build_chunk_postings(spark)
    assert entry.run(spark, sf_dir).count() == before
    assert before > 0



def test_text_index_rebuild_drops_the_memoized_stoplist(spark, tmp_path):
    """A text index rebuilt at the same path over a corpus with another
    stoplist serves what a fresh session serves: the rebuild drops the
    stoplist the earlier serve memoized.  Under the stale (empty)
    stoplist the query's stopword bigram would count in its norm."""
    from qradar_restapi_kafka_datapipeline_spark.operators import text as T

    schema = "doc_id BIGINT, text STRING"
    spark.createDataFrame(
        [(1, "red fox jumps high"), (2, "blue fish swims deep"),
         (3, "green frog leaps far")], schema,
    ).createOrReplaceTempView("__stoplist_corpus_a")
    spark.createDataFrame(
        [(1, "the cat red fox jumps"), (2, "the cat blue fish swims"),
         (3, "the cat green frog leaps"), (4, "a dog sleeps")], schema,
    ).createOrReplaceTempView("__stoplist_corpus_b")
    path = str(tmp_path / "text_index")
    key = ("stoplist", f"{path}/stoplist")
    query = "the cat red fox jumps"

    def serve(session):
        return sorted(
            T.text_knn_from_index(session, path, query, k=3, dim=4096)
            .collect()
        )

    T.build_text_index(spark, path, dim=4096, source="__stoplist_corpus_a")
    serve(spark)
    assert engine.session_state(spark)[key] == frozenset()
    T.build_text_index(spark, path, dim=4096, source="__stoplist_corpus_b")
    assert key not in engine.session_state(spark)
    got = serve(spark)
    assert engine.session_state(spark)[key] == {"the cat"}
    assert got == serve(spark.newSession())
    assert got
