"""The shared parts/swap/recovery protocol (``parts.py``) and the fixes
that ride on it: one recovery contract for every staging layout, schema
memo invalidation on swap, empty pipeline units, the union-find gate and
temp-view hygiene of the bounded serves."""

import os
import shutil

import pytest

from qradar_restapi_kafka_datapipeline_spark import engine
from qradar_restapi_kafka_datapipeline_spark import parts as P
from qradar_restapi_kafka_datapipeline_spark.operators import dedup as D
from qradar_restapi_kafka_datapipeline_spark.operators import similarity as S
from qradar_restapi_kafka_datapipeline_spark.operators import sketches as K
from qradar_restapi_kafka_datapipeline_spark.operators import text as T


def _tree(path: str, content: str) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "marker"), "w") as f:
        f.write(content)


def _content(path: str) -> str:
    with open(os.path.join(path, "marker")) as f:
        return f.read()


#: layout → (recover(spark, root), live dir, tmp dir, old dir) under root —
#: the four staging conventions on disk
LAYOUTS = {
    "parts_compact": (
        K.recover_sketch_parts,
        lambda r: r, lambda r: f"{r}.__compact_tmp",
        lambda r: f"{r}.__compact_old",
    ),
    "ivf_rebal": (
        S.recover_ivf_index,
        lambda r: r, lambda r: f"{r}.__rebal_tmp",
        lambda r: f"{r}.__rebal_old",
    ),
    "text_index": (
        T.recover_text_index_norms,
        lambda r: f"{r}/norms", lambda r: f"{r}/.norms_compact_tmp",
        lambda r: f"{r}/.norms_compact_old",
    ),
    "hybrid_swap": (
        T._recover_hybrid_index,
        lambda r: f"{r}/posts", lambda r: f"{r}/.posts_swap_tmp",
        lambda r: f"{r}/.posts_swap_old",
    ),
}


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_recovery_contract_every_layout(spark, tmp_path, layout):
    recover, live_of, tmp_of, old_of = LAYOUTS[layout]
    root = str(tmp_path / "artifact")
    live, tmp, old = live_of(root), tmp_of(root), old_of(root)

    # killed between the two renames: only the staged-out tree is left
    _tree(old, "old")
    assert recover(spark, root) == "restored_old"
    assert _content(live) == "old" and not os.path.exists(old)

    # killed after the second rename: the swap completed, old is garbage
    _tree(old, "stale")
    assert recover(spark, root) == "dropped_stale_old"
    assert not os.path.exists(old) and _content(live) == "old"

    # killed while staging: the leftover temp is dropped
    _tree(tmp, "tmp")
    assert recover(spark, root) == "dropped_tmp"
    assert not os.path.exists(tmp) and _content(live) == "old"

    assert recover(spark, root) == "ok"
    assert recover(spark, root) == "ok"


def _parts_tree(spark, root: str, cols: str, rows_by_epoch) -> None:
    for epoch, rows in enumerate(rows_by_epoch):
        spark.createDataFrame(rows, cols).write.parquet(
            P.epoch_path(root, epoch)
        )


def test_parts_compactors_drop_a_stale_staged_out_tree(spark, tmp_path):
    """A completed swap that was killed before deleting its staged-out
    tree must not break the next compaction (tf parts used to rename the
    live tree onto the stale one)."""
    cells = str(tmp_path / "cells")
    _parts_tree(spark, cells, "i INT, col INT, c BIGINT",
                [[(0, 1, 2), (0, 2, 1)], [(0, 1, 5)]])
    _tree(f"{cells}.__compact_old", "stale")
    assert K.compact_sketch_parts(spark, cells, ("i", "col"), {"c": "sum"}) == 2
    assert not os.path.exists(f"{cells}.__compact_old")
    got = {tuple(r) for r in spark.read.parquet(cells)
           .select("i", "col", "c").collect()}
    assert got == {(0, 1, 7), (0, 2, 1)}

    tf = str(tmp_path / "tf_parts")
    _parts_tree(spark, tf, "doc_id BIGINT, word STRING, tf BIGINT",
                [[(1, "a", 2)], [(2, "b", 1), (3, "c", 4)]])
    _tree(f"{tf}.__compact_old", "stale")
    assert T.compact_tf_parts(spark, tf) == 3
    assert not os.path.exists(f"{tf}.__compact_old")
    assert P.epochs(spark, tf) == [0]


def test_epoch_listing(spark, tmp_path):
    root = str(tmp_path / "del_parts")
    assert P.epochs(spark, root) == []
    for e in (0, 3, 1):
        os.makedirs(P.epoch_path(root, e))
    os.makedirs(os.path.join(root, "_spark_metadata"))
    assert P.epochs(spark, root) == [0, 1, 3]


def test_swap_drops_memoized_schema_of_the_swapped_tree(spark, tmp_path):
    path = str(tmp_path / "index" / "norms")
    spark.createDataFrame([(1, 2)], "doc_id BIGINT, n2 BIGINT") \
        .write.parquet(path)
    other = str(tmp_path / "index" / "stoplist")
    spark.createDataFrame([("a b",)], "feat STRING").write.parquet(other)
    assert engine.read_artifact(spark, path).columns == ["doc_id", "n2"]
    assert engine.read_artifact(spark, other).columns == ["feat"]
    schemas = engine.session_state(spark)
    key = ("artifact_schema", path)
    memo = schemas[key]

    # a steady re-open keeps the memo hit
    engine.read_artifact(spark, path)
    assert schemas[key] is memo

    new = spark.createDataFrame([(1, 2, 3.0)],
                                "doc_id BIGINT, n2 BIGINT, w DOUBLE")
    P.swap_dir(spark, path, f"{path}.tmp", f"{path}.old",
               lambda tmp: new.write.parquet(tmp), "test")
    assert engine.read_artifact(spark, path).columns == ["doc_id", "n2", "w"]
    assert engine.read_artifact(spark, path).collect()[0]["w"] == 3.0
    # only the swapped tree was forgotten
    assert ("artifact_schema", other) in schemas


def test_swap_drops_memoized_stoplist_of_the_swapped_tree(spark, tmp_path):
    """The text-index serve memoizes the stoplist it read under
    ``("stoplist", <stoplist tree>)``; a swap of that tree or of the whole
    index drops it, a swap of a sibling tree keeps it."""
    index = str(tmp_path / "index")
    stoplist = f"{index}/stoplist"
    key = ("stoplist", stoplist)
    memo = engine.session_state(spark)
    spark.createDataFrame([("a b",)], "feat STRING").write.parquet(stoplist)
    spark.createDataFrame([(1, 2)], "doc_id BIGINT, n2 BIGINT") \
        .write.parquet(f"{index}/norms")

    for live, dropped in ((stoplist, True), (f"{index}/norms", False),
                          (index, True)):
        assert T._index_stoplist(spark, index) == {"a b"}
        assert key in memo
        P.swap_dir(spark, live, f"{live}.tmp", f"{live}.old",
                   lambda tmp: shutil.copytree(live, tmp), "test")
        assert (key not in memo) == dropped, live


def test_pipeline_skips_empty_unit_then_merges(spark, sf_dir, tmp_path):
    from qradar_restapi_kafka_datapipeline_spark.pipeline import Pipeline
    from qradar_restapi_kafka_datapipeline_spark.sources.registry import (
        register_qevents,
    )
    from qradar_restapi_kafka_datapipeline_spark.views import (
        register_globalviews,
        register_ref_sets,
    )

    register_qevents(spark, sf_dir)
    register_globalviews(spark)
    register_ref_sets(spark)
    q = ["AllowedOutboundTraffic"]
    p = Pipeline(spark, sink_base=str(tmp_path / "sinks"))
    # a window with no event at all: skipped, not failed
    assert p.run_all(["customer_1"], "2030-01-01 00:00:00",
                     "2030-01-02 00:00:00", query_names=q) == []
    runs = p.run_all(["customer_1"], "2024-01-01 00:00:00",
                     "2024-01-21 00:00:00", query_names=q)
    fresh = Pipeline(spark, sink_base=str(tmp_path / "fresh")).run_all(
        ["customer_1"], "2024-01-01 00:00:00", "2024-01-21 00:00:00",
        query_names=q,
    )
    assert len(runs) == 1 and runs[0].rows == fresh[0].rows > 0

    def rows(base):
        df = spark.read.parquet(f"{base}/{runs[0].table}")
        return sorted(map(tuple, df.select(sorted(df.columns)).collect()))

    assert rows(tmp_path / "sinks") == rows(tmp_path / "fresh")


def _clusters(df):
    return sorted((r["doc_id"], r["cluster_id"]) for r in df.collect())


def test_union_find_matches_distributed_min_label(spark, monkeypatch):
    # chains, a star, a cycle and a 2-node component
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13),
             (20, 21), (21, 22), (22, 20), (30, 31), (41, 40), (7, 4)]
    pairs = spark.createDataFrame(edges, "id_a BIGINT, id_b BIGINT")
    driver = _clusters(D.dup_clusters(pairs))
    monkeypatch.setattr(D, "_CLUSTER_COLLECT_CAP", 1)
    distributed = _clusters(D.dup_clusters(pairs))
    assert distributed == driver
    assert dict(driver)[7] == 1 and dict(driver)[41] == 40

    str_pairs = spark.createDataFrame(
        [("b", "a"), ("é", "b"), ("z", "y")], "id_a STRING, id_b STRING"
    )
    monkeypatch.setattr(D, "_CLUSTER_COLLECT_CAP", 65536)
    driver = _clusters(D.dup_clusters(str_pairs))
    monkeypatch.setattr(D, "_CLUSTER_COLLECT_CAP", 1)
    assert _clusters(D.dup_clusters(str_pairs)) == driver


def test_union_find_gate_keeps_float_ids_distributed(spark, monkeypatch):
    def boom(*a, **k):
        raise AssertionError("float ids must not take the driver path")

    monkeypatch.setattr(D, "_dup_clusters_driver", boom)
    pairs = spark.createDataFrame([(1.0, 2.0), (2.0, 3.0)],
                                  "id_a DOUBLE, id_b DOUBLE")
    assert _clusters(D.dup_clusters(pairs)) == [(1.0, 1.0), (2.0, 1.0),
                                                (3.0, 1.0)]
    assert D._numeric_or_string(pairs.schema["id_a"].dataType) is False


def test_operators_hand_relations_to_sql_as_arguments():
    """Operators put a DataFrame into SQL text only as a ``spark.sql``
    keyword argument, which names it for the analysis and drops it after;
    a view an operator registers itself outlives the call."""
    import re

    pkg = os.path.dirname(engine.__file__)
    scanned = [os.path.join(pkg, "parts.py"), os.path.join(pkg, "engine.py")]
    for sub in ("operators", "streaming"):
        scanned += [
            os.path.join(pkg, sub, f)
            for f in sorted(os.listdir(os.path.join(pkg, sub)))
            if f.endswith(".py")
        ]
    banned = re.compile(r"createOrReplaceTempView|dropTempView|\bunique_view\b")
    hits = []
    for path in scanned:
        with open(path) as fh:
            for n, line in enumerate(fh, 1):
                if banned.search(line):
                    hits.append(f"{os.path.relpath(path, pkg)}:{n}")
    assert not hits, hits



def _package_files(pkg: str) -> list[str]:
    return sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(pkg)
        for f in fs
        if f.endswith(".py")
    )


def test_driver_rows_reach_spark_only_through_local_relation():
    """``createDataFrame(<list>)`` leaves a Python-RDD leaf that starts
    Python workers to unpickle rows the driver built; driver rows go
    through ``engine.local_relation`` (Arrow → LocalRelation) instead."""
    import inspect

    pkg = os.path.dirname(engine.__file__)
    src, first = inspect.getsourcelines(engine.local_relation)
    helper = range(first, first + len(src))
    hits = []
    for path in _package_files(pkg):
        with open(path) as fh:
            for n, line in enumerate(fh, 1):
                if "createDataFrame(" in line and not (
                    path == engine.__file__ and n in helper
                ):
                    hits.append(f"{os.path.relpath(path, pkg)}:{n}")
    assert not hits, hits


def test_aql_scalar_semantics_live_only_in_dialect():
    """INCIDR, ip2long and the longest-prefix match have one definition,
    ``plans/dialect.py``, which the AQL frontend inlines for both engines:
    no module registers a session SQL function, no module-level function
    elsewhere defines IP, CIDR or network-name semantics, and no SQL text
    elsewhere spells an octet parse out (``split_part(ip, '.', n) AS
    BIGINT``)."""
    import ast
    import re

    pkg = os.path.dirname(engine.__file__)
    dialect = os.path.join(pkg, "plans", "dialect.py")
    ip_name = re.compile(
        r"incidr|ip2long|ip_?to_?long|long_?to_?ip|cidr|network_?name|lpm", re.I
    )
    octet_parse = re.compile(
        r"split_part\(\s*\w+\s*,\s*'\.'\s*,\s*\d+\s*\)\s*AS\s+BIGINT", re.I
    )
    hits = []
    for path in _package_files(pkg):
        with open(path) as fh:
            src = fh.read()
        rel = os.path.relpath(path, pkg)
        if re.search(r"TEMPORARY\s+FUNCTION", src, re.I):
            hits.append(f"{rel}: TEMPORARY FUNCTION")
        if path == dialect:
            continue
        for node in ast.parse(src).body:
            if isinstance(node, ast.FunctionDef) and ip_name.search(node.name):
                hits.append(f"{rel}:{node.lineno} {node.name}")
        for m in octet_parse.finditer(src):
            line = src.count("\n", 0, m.start()) + 1
            hits.append(f"{rel}:{line} {m[0]}")
    assert not hits, hits


def test_foreach_batch_bodies_run_sql_on_the_batch_session():
    """A foreachBatch batch belongs to the stream's cloned session, which
    an outer session cannot resolve (TABLE_OR_VIEW_NOT_FOUND): every
    ``.sql(`` call in a foreachBatch body runs on the batch's own
    ``sparkSession``.  Bodies are the functions that ``streaming/``,
    ``views.py`` and ``parts.py`` hand to ``.foreachBatch(...)``, plus the
    documented foreachBatch entry points in ``documented`` with their batch
    parameter."""
    import ast

    pkg = os.path.dirname(engine.__file__)
    documented = {"update_globalviews_incremental": "new_events"}
    scanned = _package_files(os.path.join(pkg, "streaming")) + [
        os.path.join(pkg, "views.py"),
        os.path.join(pkg, "parts.py"),
    ]
    checked, hits = [], []
    for path in scanned:
        with open(path) as fh:
            tree = ast.parse(fh.read())
        defs = {
            n.name: n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)
        }
        bodies = [
            (defs[name], batch) for name, batch in documented.items()
            if name in defs
        ]
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "foreachBatch"
            ):
                fn = n.args[0]
                fn = defs[fn.id] if isinstance(fn, ast.Name) else fn
                bodies.append((fn, fn.args.args[0].arg))
        for fn, batch in bodies:
            checked.append(f"{os.path.relpath(path, pkg)}:{fn.lineno}")

            def is_batch_session(e):
                return (
                    isinstance(e, ast.Attribute)
                    and e.attr == "sparkSession"
                    and isinstance(e.value, ast.Name)
                    and e.value.id == batch
                )

            aliases = {
                t.id
                for n in ast.walk(fn)
                if isinstance(n, ast.Assign) and is_batch_session(n.value)
                for t in n.targets
                if isinstance(t, ast.Name)
            }
            for n in ast.walk(fn):
                if (
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "sql"
                    and not is_batch_session(n.func.value)
                    and not (
                        isinstance(n.func.value, ast.Name)
                        and n.func.value.id in aliases
                    )
                ):
                    hits.append(f"{os.path.relpath(path, pkg)}:{n.lineno}")
    assert any(c.startswith("views.py:") for c in checked), checked
    assert any(c.startswith("streaming/") for c in checked), checked
    assert not hits, hits

def test_bounded_serves_leave_no_temp_views(spark, tables, tmp_path):
    base = str(tmp_path / "ivfpq")
    S.build_ivfpq_index(spark, spark.table("embeddings"), base)
    K.kmv_jaccard(spark).collect()
    S.knn_ivfpq_from_index(spark, base, dim=64, refine_k=6).collect()
    n = len(spark.catalog.listTables())
    for i in range(20):
        S.knn_ivfpq_from_index(
            spark, base, dim=64, refine_k=6 if i % 2 else None
        )
        K.kmv_jaccard(spark)
    assert len(spark.catalog.listTables()) == n
    # the returned plans stay valid after their views are dropped
    assert S.knn_ivfpq_from_index(spark, base, dim=64).count() > 0
    assert K.kmv_jaccard(spark).count() == 1
    # operators that pin, materialize or share an intermediate relation
    daily = K.kmv_daily_rows(spark)
    ops = [
        lambda: T.hashed_semantic_pairs(spark),
        lambda: K.hdr_quantiles(spark),
        lambda: K.hdr_grouped_quantiles(spark),
        lambda: K.hist_quantiles(spark),
        lambda: K.hll_rolling_distinct(spark),
        lambda: K.kmv_cohort(spark, daily_rows=daily),
        lambda: K.kmv_retention(spark),
        lambda: T.chunk_knn(spark),
        lambda: D.exact_substring_pairs(spark),
    ]
    tables_before = sorted(t.name for t in spark.catalog.listTables())
    results = [op() for _ in range(3) for op in ops]
    assert sorted(t.name for t in spark.catalog.listTables()) == tables_before
    for df in results[-len(ops):]:
        df.count()


def test_dedup_operators_release_their_previous_cache(spark, tables):
    """The shingle and passage relations go through ``persist_tracked``: a
    second call on another input releases the first call's cache, so at
    most one cached relation per key stays behind; a re-run on the same
    input keeps it."""
    jsc = spark.sparkContext._jsc
    docs = spark.table("documents")

    def half(i):
        return docs.where(f"doc_id % 2 = {i}")

    ops = [
        (1, lambda i: D.minhash_lsh_pairs(half(i))),
        (2, lambda i: D.incremental_minhash_pairs(half(i), docs)),
        (1, lambda i: D.passage_dedup(spark, k=5 + i)),
    ]
    for keys, op in ops:
        before = jsc.getPersistentRDDs().size()
        for i in (0, 1):
            op(i).collect()
        assert jsc.getPersistentRDDs().size() - before <= keys
        cached = set(jsc.getPersistentRDDs().keys())
        op(1).collect()
        assert set(jsc.getPersistentRDDs().keys()) == cached


def test_swapped_inputs_keep_both_keys_cached(spark, tables):
    """``incremental_minhash_pairs(a, b)`` then ``(b, a)`` persists one
    plan under both shingle keys; releasing one key's previous relation
    must not drop the cache the other key still holds."""
    from pyspark import StorageLevel

    jsc = spark.sparkContext._jsc
    docs = spark.table("documents")
    a, b = docs.where("doc_id % 2 = 0"), docs.where("doc_id % 2 = 1")
    D.incremental_minhash_pairs(a, b).collect()
    D.incremental_minhash_pairs(b, a).collect()
    keys = ("__minhash_incr_new", "__minhash_incr_old")
    for key in keys:
        assert engine._PERSISTED[key].storageLevel != StorageLevel.NONE, key
    cached = set(jsc.getPersistentRDDs().keys())
    D.incremental_minhash_pairs(b, a).collect()
    assert set(jsc.getPersistentRDDs().keys()) == cached
