"""Unified index retention/vacuum (round 13, VERDICT r12 #5).

index_debt_report must measure the real debt (masked-row fraction,
stream-epoch count, parts files) and vacuum_index must trip its policy
thresholds into the per-index value-neutral compactors — serve-before ≡
serve-after, debt cleared after.
"""

import os

import pytest
from pyspark.sql import functions as F

from qradar_restapi_kafka_datapipeline_spark.operators import maintenance as MA
from qradar_restapi_kafka_datapipeline_spark.operators import similarity as S
from qradar_restapi_kafka_datapipeline_spark.operators import text as T


@pytest.fixture(scope="module")
def docs(spark, tables):
    return spark.table("documents")


def _assert_vacuum_clears_masked_debt(spark, base, kind, id_col, data, dels,
                                      serve):
    """The ``kind`` index at ``base`` holds tombstones for ``dels``: its
    masked debt counts exactly the deleted ids' rows of the ``data``
    relation, and a zero-threshold vacuum compacts them away with the
    serve unchanged."""
    deleted = [r[id_col] for r in dels.distinct().collect()]
    n_masked = spark.read.parquet(data).where(
        F.col(id_col).isin(deleted)
    ).count()
    report = MA.index_debt_report(spark, base, kind)
    assert report["n_tombstones"] == len(deleted)
    assert report["masked_rows"] == n_masked > 0
    before = serve()
    out = MA.vacuum_index(spark, base, kind, max_masked_fraction=0.0)
    assert out["action"] == "compacted"
    assert out["after"]["masked_rows"] == 0
    assert out["after"]["n_tombstones"] == 0
    assert out["after"]["total_rows"] == report["total_rows"] - n_masked
    assert not os.path.exists(f"{base}/tombstones")
    assert serve() == before


def test_debt_report_measures_masked_fraction_ivf(spark, tables, tmp_path):
    emb = spark.table("embeddings")
    base = str(tmp_path / "ivf")
    S.build_ivf_index(spark, emb, base)
    n = emb.count()
    report0 = MA.index_debt_report(spark, base, "ivf")
    assert report0["total_rows"] == n
    assert report0["masked_rows"] == 0 and report0["n_tombstones"] == 0

    dels = emb.where("vec_id % 9 = 0").select("vec_id")
    n_del = dels.count()
    S.delete_from_ivf_index(spark, base, dels)
    S.delete_from_ivf_index(spark, base, dels)  # idempotent log append
    report = MA.index_debt_report(spark, base, "ivf")
    assert report["n_tombstones"] == n_del
    assert report["masked_rows"] == n_del
    assert report["masked_fraction"] == round(n_del / n, 6)
    assert report["n_files"] > 0


def test_vacuum_trips_on_masked_fraction_and_is_value_neutral(
    spark, tables, tmp_path
):
    emb = spark.table("embeddings")
    base = str(tmp_path / "ivf_vac")
    S.build_ivf_index(spark, emb, base)
    S.delete_from_ivf_index(
        spark, base, emb.where("vec_id % 9 = 0").select("vec_id")
    )
    queries = emb.where("vec_id < 10")
    before = sorted(
        (r["q_id"], r["n_id"], r["cos"], r["rk"])
        for r in S.knn_ivf_from_index(spark, base, queries, k=3).collect()
    )

    # below threshold → measured, untouched
    out = MA.vacuum_index(spark, base, "ivf", max_masked_fraction=0.5)
    assert out["action"] == "none"
    assert os.path.exists(f"{base}/tombstones")

    # above threshold → compacted: tombstones cleared, rows dropped
    # physically, serve value-identical (quantizer untouched)
    out = MA.vacuum_index(spark, base, "ivf", max_masked_fraction=0.05)
    assert out["action"] == "compacted"
    assert out["after"]["masked_rows"] == 0
    assert out["after"]["n_tombstones"] == 0
    assert out["after"]["total_rows"] == (
        out["total_rows"] - out["masked_rows"]
    )
    assert not os.path.exists(f"{base}/tombstones")
    after = sorted(
        (r["q_id"], r["n_id"], r["cos"], r["rk"])
        for r in S.knn_ivf_from_index(spark, base, queries, k=3).collect()
    )
    assert after == before

    # the compressed index: its masked debt is every code row (m per
    # vector) of the deleted ids
    pq = str(tmp_path / "ivfpq_vac")
    S.build_ivfpq_index(spark, emb, pq)
    dels = emb.where("vec_id % 9 = 0").select("vec_id")
    S.delete_from_ivf_index(spark, pq, dels)
    _assert_vacuum_clears_masked_debt(
        spark, pq, "ivfpq", "vec_id", f"{pq}/codes", dels,
        lambda: sorted(
            tuple(r) for r in S.knn_ivfpq_from_index(
                spark, pq, dim=64, refine_k=30
            ).collect()
        ),
    )


def test_vacuum_text_index_masked_fraction(spark, docs, tmp_path):
    base = str(tmp_path / "tix")
    T.build_text_index(spark, base, dim=4096)
    qtext = docs.where("doc_id = 1").first()["text"]
    dels = docs.where("doc_id % 4 = 0").select("doc_id")
    T.delete_from_text_index(spark, base, dels)
    report = MA.index_debt_report(spark, base, "text")
    assert report["n_tombstones"] == dels.count()
    # ~1/4 of docs deleted → roughly that fraction of postings rows masked
    assert 0.1 < report["masked_fraction"] < 0.5

    before = [
        (r["n_id"], r["cos"]) for r in T.text_knn_from_index(
            spark, base, qtext, k=5, dim=4096, query_id=1, exclude_id=1
        ).collect()
    ]
    out = MA.vacuum_index(spark, base, "text", max_masked_fraction=0.05)
    assert out["action"] == "compacted"
    assert out["after"]["masked_fraction"] == 0.0
    assert not os.path.exists(f"{base}/tombstones")
    after = [
        (r["n_id"], r["cos"]) for r in T.text_knn_from_index(
            spark, base, qtext, k=5, dim=4096, query_id=1, exclude_id=1
        ).collect()
    ]
    assert after == before

    # the hybrid artifact: masked debt is the deleted docs' tf rows; its
    # BM25 side is rebuild-exact under the mask, so compaction keeps it
    hyb = str(tmp_path / "hybrid")
    T.build_hybrid_text_index(spark, hyb)
    T.delete_from_hybrid_index(spark, hyb, dels)

    def bm25():
        tf_rel, _ = T.hybrid_index_rels(spark, hyb)
        return sorted(
            (r["doc_id"], r["score"], r["rk"]) for r in spark.sql(
                T.bm25_topk_sql("spark", query_doc=1, k=10, tf_rel=tf_rel)
            ).collect()
        )

    _assert_vacuum_clears_masked_debt(
        spark, hyb, "hybrid", "doc_id", f"{hyb}/tf", dels, bm25
    )


def test_vacuum_parts_tree_trips_on_file_count(spark, docs):
    """The per-epoch tf-parts tree: vacuum folds many epoch parts into
    one when the file-count threshold trips, serve unchanged."""
    po: list = []
    served = T.text_index_delete_streaming(spark, _parts_out=po)
    before = sorted(
        (r["doc_id"], r["score"], r["rk"]) for r in served.collect()
    )
    parts, del_parts = po[0], po[1]
    # apply the tombstones first (the del tree is separate by convention)
    T.compact_tf_parts(spark, parts, del_parts)
    # accrete more epochs so the parts-count policy has debt to see
    spark.read.parquet(f"{parts}/epoch=0").limit(0).write.mode(
        "overwrite"
    ).parquet(f"{parts}/epoch=1")
    report = MA.index_debt_report(spark, parts, "parts")
    assert report["n_stream_epochs"] == 2

    out = MA.vacuum_index(spark, parts, "parts", max_files=1)
    assert out["action"] == "compacted"
    assert out["after"]["n_stream_epochs"] == 1
    merged = f"(SELECT doc_id, word, tf FROM parquet.`{parts}`)"
    after = sorted(
        (r["doc_id"], r["score"], r["rk"])
        for r in spark.sql(
            T.bm25_topk_sql("spark", query_doc=1, k=10, tf_rel=merged)
        ).collect()
    )
    assert after == before


def test_debt_report_counts_stream_epochs(spark, tables, tmp_path):
    emb = spark.table("embeddings")
    base = str(tmp_path / "ivf_stream")
    S.build_ivf_index(spark, emb.where("vec_id % 7 != 0"), base)
    S.ivf_append_streaming(spark, base, emb.where("vec_id % 7 = 0"))
    report = MA.index_debt_report(spark, base, "ivf")
    assert report["n_stream_epochs"] >= 1
    assert report["total_rows"] == emb.count()  # base ∪ stream log
    out = MA.vacuum_index(spark, base, "ivf", max_stream_epochs=0)
    assert out["action"] == "compacted"
    assert out["after"]["n_stream_epochs"] == 0
    assert out["after"]["total_rows"] == emb.count()
