"""One-call multi-index takedown (round 13, VERDICT r12 #1).

The verb under test fans ONE id relation across every registered
maintained index (operators/takedown.py).  The contracts:

- every registered index's serve excludes the ids after the single call
  (the per-index delete semantics the r11/r12 rounds pinned individually);
- a crash ANYWHERE mid-fan-out is healed by simply re-running the same
  call — each step is an idempotent tombstone append, so replay converges
  to the same served state with no undo/journal machinery;
- the ``parts`` kind lands tombstones in the streamed-serve convention
  (``epoch=N`` immutable parts) that the bm25/chunk/phash merged serves
  already read.
"""

import os

import pytest
from pyspark.sql import functions as F

from qradar_restapi_kafka_datapipeline_spark.operators import similarity as S
from qradar_restapi_kafka_datapipeline_spark.operators import takedown as TD
from qradar_restapi_kafka_datapipeline_spark.operators import text as T


@pytest.fixture(scope="module")
def docs(spark, tables):
    return spark.table("documents")


def _build_catalog(spark, docs, base):
    """Four maintained indexes + a parts-style tombstone tree."""
    emb = spark.table("embeddings")
    T.build_text_index(spark, f"{base}/text", dim=4096)
    T.build_hybrid_text_index(spark, f"{base}/hybrid")
    S.build_ivf_index(spark, emb, f"{base}/ivf")
    return [
        TD.RegisteredIndex("text", "text", f"{base}/text"),
        TD.RegisteredIndex("hybrid", "hybrid", f"{base}/hybrid"),
        TD.RegisteredIndex("ivf", "ivf", f"{base}/ivf"),
        TD.RegisteredIndex("bm25_parts", "parts", f"{base}/del_parts"),
    ]


def _tombstones(spark, path):
    df = spark.read.parquet(path)
    col = "doc_id" if "doc_id" in df.columns else "vec_id"
    return sorted(
        r[col] for r in df.select(col).distinct().collect()
    )


def test_takedown_reaches_every_registered_index(spark, docs, tmp_path):
    base = str(tmp_path / "cat")
    catalog = _build_catalog(spark, docs, base)
    S.build_ivfpq_index(spark, spark.table("embeddings"), f"{base}/ivfpq")
    catalog.append(TD.RegisteredIndex("ivfpq", "ivfpq", f"{base}/ivfpq"))
    ids = docs.where("doc_id % 9 = 0").select("doc_id")
    n = ids.distinct().count()
    report = TD.takedown(spark, ids, catalog)
    assert report == {ix.name: n for ix in catalog}

    want = sorted(r["doc_id"] for r in ids.distinct().collect())
    assert _tombstones(spark, f"{base}/text/tombstones") == want
    assert _tombstones(spark, f"{base}/hybrid/tombstones") == want
    assert _tombstones(spark, f"{base}/ivf/tombstones") == want  # vec_id
    assert _tombstones(spark, f"{base}/ivfpq/tombstones") == want
    assert _tombstones(spark, f"{base}/del_parts") == want
    # parts kind landed the streamed-serve epoch layout
    assert os.listdir(f"{base}/del_parts") != [] and all(
        d.startswith("epoch=") or d.startswith(".") or d.startswith("_")
        for d in os.listdir(f"{base}/del_parts")
    )

    # serves exclude the ids: text index masks at serve
    qtext = docs.where("doc_id = 1").first()["text"]
    served = T.text_knn_from_index(
        spark, f"{base}/text", qtext, k=10, dim=4096,
        query_id=1, exclude_id=1,
    ).collect()
    assert served and not any(int(r["n_id"]) % 9 == 0 for r in served)
    # ivf serve masks too
    emb = spark.table("embeddings")
    rows = S.knn_ivf_from_index(
        spark, f"{base}/ivf", emb.where("vec_id < 10"), k=3
    ).collect()
    assert rows and not any(int(r["n_id"]) % 9 == 0 for r in rows)
    # and the compressed index, ranked and refined
    for kw in ({}, {"refine_k": 30}):
        rows = S.knn_ivfpq_from_index(
            spark, f"{base}/ivfpq", dim=64, **kw
        ).collect()
        assert rows and not any(int(r["n_id"]) % 9 == 0 for r in rows)


def test_takedown_crash_mid_fanout_replays_to_same_state(
    spark, docs, tmp_path
):
    """Kill the fan-out after the second index, re-run the identical
    call: every index (including the ones the crash skipped) converges
    to the same tombstone state a non-crashed call produces, and the
    logs stay DISTINCT-collapsible (no double-delete corruption)."""
    base = str(tmp_path / "cat_crash")
    catalog = _build_catalog(spark, docs, base)
    ids = docs.where("doc_id % 9 = 0").select("doc_id")
    want = sorted(r["doc_id"] for r in ids.distinct().collect())

    with pytest.raises(RuntimeError, match="injected crash"):
        TD.takedown(spark, ids, catalog, _crash_after=1)
    # indexes 2..3 never got the ids
    assert not os.path.exists(f"{base}/ivf/tombstones")
    assert not os.path.exists(f"{base}/del_parts")

    TD.takedown(spark, ids, catalog)  # replay
    for path in (f"{base}/text/tombstones", f"{base}/hybrid/tombstones",
                 f"{base}/ivf/tombstones", f"{base}/del_parts"):
        assert _tombstones(spark, path) == want

    # the double-appended logs serve identically to a single delete:
    # hybrid masking equals the remaining-docs rebuild on the BM25 side
    tf_rel, _ = T.hybrid_index_rels(spark, f"{base}/hybrid")
    got = spark.sql(
        T.bm25_topk_sql("spark", query_doc=1, k=10, tf_rel=tf_rel)
    ).collect()
    docs.where("doc_id % 9 != 0").createOrReplaceTempView("__tdc_rem")
    ref = spark.sql(
        T.bm25_topk_sql("spark", query_doc=1, k=10, source="__tdc_rem")
    ).collect()
    key = lambda r: (r["doc_id"], r["score"], r["rk"])  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, ref))


def test_takedown_id_map_routes_vector_ids(spark, docs, tmp_path):
    """A deployment keying vectors separately routes through id_map:
    doc ids map to vec ids before the vector-index tombstone append."""
    base = str(tmp_path / "cat_map")
    emb = spark.table("embeddings")
    S.build_ivf_index(spark, emb, f"{base}/ivf")
    ids = docs.where("doc_id IN (3, 4)").select("doc_id")
    id_map = spark.createDataFrame(
        [(3, 103), (4, 104), (5, 105)], "doc_id LONG, vec_id LONG"
    )
    TD.takedown(
        spark, ids, [TD.RegisteredIndex("ivf", "ivf", f"{base}/ivf")],
        id_map=id_map,
    )
    assert _tombstones(spark, f"{base}/ivf/tombstones") == [103, 104]


def test_takedown_unknown_kind_raises(spark, docs, tmp_path):
    with pytest.raises(ValueError, match="unknown index kind"):
        TD.takedown(
            spark, docs.limit(1).select("doc_id"),
            [TD.RegisteredIndex("x", "nope", str(tmp_path / "x"))],
        )
