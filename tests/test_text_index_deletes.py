"""Text-index takedown lifecycle (round 12, VERDICT r11 #1).

The IVF family got tombstone deletes + compaction in round 11; these tests
pin the same lifecycle for the text-side indexes, where takedown is
NON-trivial because BM25's df/N/avgdl and the postings df-damping are
GLOBAL aggregates — removing one document re-weights every term it
contained.  The contract under test everywhere: serve-after-delete is
value-IDENTICAL to a one-shot rebuild over the remaining documents
(computed here as a pure-Spark differential that never touches the
parts/tombstone machinery — the gate's DuckDB oracle recomputes the same
rebuild independently), deletes replay safely through an injected crash,
and compaction drops rows physically without changing a single served
value.
"""

import os

import pytest
from pyspark.sql import functions as F

from qradar_restapi_kafka_datapipeline_spark.operators import text as T

DELETE_PRED = "doc_id % 9 = 0"


@pytest.fixture(scope="module")
def docs(spark, tables):
    return spark.table("documents")


def _remaining_view(spark) -> str:
    spark.table("documents").where(f"NOT ({DELETE_PRED})") \
        .createOrReplaceTempView("__tid_remaining")
    return "__tid_remaining"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_streamed_bm25_delete_crash_replay_and_rebuild_parity(spark, docs):
    """The flagship contract: BM25 served from merged tf parts minus the
    streamed tombstone parts equals a one-shot BM25 over the remaining
    docs (df/N/avgdl all shrink — a stale global statistic diverges),
    and an injected crash AFTER a tombstone-part write replays to the
    identical result (the epoch-keyed overwrite is the commit)."""
    rem = _remaining_view(spark)
    want = _rows(
        spark.sql(T.bm25_topk_sql("spark", query_doc=1, k=10, source=rem)),
        ("doc_id", "score", "rk"),
    )
    assert want, "rebuild differential must be non-empty"
    got = _rows(
        T.text_index_delete_streaming(spark),
        ("doc_id", "score", "rk"),
    )
    assert got == want
    assert not any(d % 9 == 0 for d, _s, _r in got)
    crashed = _rows(
        T.text_index_delete_streaming(spark, _crash_after_write_epoch=0),
        ("doc_id", "score", "rk"),
    )
    assert crashed == want


def test_streamed_chunk_delete_rebuild_parity(spark, docs):
    """Chunk-grain twin: document tombstones mask every chunk of a
    deleted doc via the composite-id decode, the postings df-damping
    rebuilds over the remaining chunks, and the query vector featurizes
    against the REMAINING corpus — all equal to a one-shot chunk build
    over the remaining documents."""
    rem = _remaining_view(spark)
    want = _rows(
        spark.sql(T.chunk_knn_sql("spark", query_doc=1, k=10, source=rem)),
        ("chunk_doc_id", "chunk_start", "cos"),
    )
    assert want
    got = _rows(
        T.chunk_index_delete_streaming(spark),
        ("chunk_doc_id", "chunk_start", "cos"),
    )
    assert got == want
    assert not any(d % 9 == 0 for d, _cs, _c in got)


def test_compact_tf_parts_drops_deleted_and_serves_identically(spark, docs):
    """Physical drop at compaction: fold the per-epoch tf parts minus the
    tombstones into a single epoch part — the served result is unchanged,
    the deleted docs' rows are physically gone, and the tombstone log is
    cleared (the masked-row debt is bounded)."""
    po: list = []
    served = T.text_index_delete_streaming(spark, _parts_out=po)
    before = _rows(served, ("doc_id", "score", "rk"))
    parts, del_parts = po[0], po[1]
    n = T.compact_tf_parts(spark, parts, del_parts)
    assert n > 0
    assert not os.path.exists(del_parts)
    epochs = [d for d in os.listdir(parts) if d.startswith("epoch=")]
    assert epochs == ["epoch=0"]
    live = spark.read.parquet(f"{parts}/epoch=0")
    assert live.where(F.expr(DELETE_PRED)).count() == 0
    merged = f"(SELECT doc_id, word, tf FROM parquet.`{parts}`)"
    after = _rows(
        spark.sql(T.bm25_topk_sql("spark", query_doc=1, k=10,
                                  tf_rel=merged)),
        ("doc_id", "score", "rk"),
    )
    assert after == before


def test_compact_tf_parts_chunk_grain_key_mult(spark, docs):
    """Composite-id compaction: chunk-grain parts drop by the DECODED
    document id (doc_id DIV radix), so one doc-grain tombstone removes
    every chunk row of that document."""
    po: list = []
    served = T.chunk_index_delete_streaming(spark, _parts_out=po)
    before = _rows(served, ("chunk_doc_id", "chunk_start", "cos"))
    parts, del_parts = po[0], po[1]
    T.compact_tf_parts(spark, parts, del_parts, key_mult=T.CHUNK_ID_MULT)
    live = spark.read.parquet(f"{parts}/epoch=0")
    assert live.where(
        F.expr(f"(doc_id DIV {T.CHUNK_ID_MULT}) % 9 = 0")
    ).count() == 0
    merged = f"(SELECT t.doc_id, t.feat, t.c FROM parquet.`{parts}` t)"
    cp_sql = T.hashed_embedding_postings_sql("spark", 1024, tf_rel=merged)
    rem = _remaining_view(spark)
    after = _rows(
        spark.sql(T.chunk_knn_sql("spark", 1, 10, source=rem,
                                  chunk_postings_rel=cp_sql)),
        ("chunk_doc_id", "chunk_start", "cos"),
    )
    assert after == before


def test_streamed_phash_delete_rebuild_parity(spark, docs):
    """Multimodal twin: doc-grain tombstones over the maintained phash
    index — cluster dedup over the remaining hashes equals a one-shot
    cluster build over the remaining documents (canonical min-doc ids,
    member counts and banded near-pairs all shift when members drop)."""
    from qradar_restapi_kafka_datapipeline_spark.operators import multimodal as M

    rem_docs = docs.where(f"NOT ({DELETE_PRED})")
    want = _rows(
        M.image_phash_clusters(spark, rem_docs, max_hamming=2),
        M.image_phash_clusters(spark, rem_docs, max_hamming=2).columns,
    )
    assert want
    got_df = M.phash_index_delete_streaming(spark, max_hamming=2)
    got = _rows(got_df, got_df.columns)
    assert got == want


def test_persisted_index_delete_serves_remaining(spark, docs, tmp_path):
    """The PERSISTED hashed-postings index: tombstones mask at serve
    (cosines are pairwise, so the expected post-delete top-k is exactly
    the pre-delete ranking with the deleted ids filtered out), the log
    append is idempotent, and the deleted ids can never rank."""
    base = str(tmp_path / "index")
    T.build_text_index(spark, base, dim=4096)
    qtext = docs.where("doc_id = 0").first()["text"]

    def serve(k):
        return T.text_knn_from_index(
            spark, base, qtext, k=k, dim=4096, query_id=0, exclude_id=0
        ).collect()

    before = serve(20)
    del_ids = {int(before[0]["n_id"]), int(before[2]["n_id"])}
    ids_df = spark.createDataFrame([(i,) for i in del_ids], "doc_id LONG")
    T.delete_from_text_index(spark, base, ids_df)
    T.delete_from_text_index(spark, base, ids_df)  # idempotent
    got = [(r["n_id"], r["cos"]) for r in serve(5)]
    want = [(r["n_id"], r["cos"]) for r in before
            if int(r["n_id"]) not in del_ids][:5]
    assert got == want
    assert not any(int(n) in del_ids for n, _ in got)

    # compaction drops rows physically, clears the log, serve unchanged
    T.compact_text_index(spark, base)
    assert not os.path.exists(f"{base}/tombstones")
    dead = [int(i) for i in del_ids]
    assert spark.read.parquet(f"{base}/postings") \
        .where(F.col("doc_id").isin(dead)).count() == 0
    assert spark.read.parquet(f"{base}/norms") \
        .where(F.col("doc_id").isin(dead)).count() == 0
    assert [(r["n_id"], r["cos"]) for r in serve(5)] == got


def test_persisted_index_full_delete_compaction_fails_loudly(
    spark, docs, tmp_path
):
    """Compacting a text index whose every document is tombstoned raises
    before staging anything (the IVF compactors' contract), so the
    postings tree and the log survive and the serve still answers —
    with zero rows — instead of a schemaless postings tree breaking
    every later read."""
    from qradar_restapi_kafka_datapipeline_spark.operators import (
        maintenance as MA,
    )

    base = str(tmp_path / "full_wipe")
    T.build_text_index(spark, base, dim=4096)
    T.delete_from_text_index(spark, base, docs.select("doc_id"))
    with pytest.raises(ValueError, match="empty after applying tombstones"):
        T.compact_text_index(spark, base)
    with pytest.raises(ValueError, match="empty after applying tombstones"):
        MA.vacuum_index(spark, base, "text", max_masked_fraction=0.0)

    def data_files(root):
        return [f for _, _, fs in os.walk(root) for f in fs
                if f.endswith(".parquet")]

    assert data_files(f"{base}/tombstones")
    assert data_files(f"{base}/postings")
    qtext = docs.where("doc_id = 0").first()["text"]
    assert T.text_knn_from_index(
        spark, base, qtext, k=5, dim=4096, query_id=0
    ).count() == 0


def test_hybrid_artifact_append_equals_rebuild(spark, docs, tmp_path):
    """The hybrid artifact's maintenance verb: the word-tf and bigram-tf
    relations are per-doc LOCAL (append is exact), and the postings'
    GLOBAL df-damping re-derives from the merged bigram-tf at append
    time (vocabulary-scale work — never a corpus re-tokenize), so the
    appended artifact must be row-identical to a one-shot build over
    the union in ALL THREE relations — and the hybrid serve equal to
    the rebuild's."""
    from qradar_restapi_kafka_datapipeline_spark.operators.text import (
        append_to_hybrid_index,
        build_hybrid_text_index,
        hybrid_rrf,
    )

    base = str(tmp_path / "hyb_inc")
    ref = str(tmp_path / "hyb_full")
    docs.where("doc_id % 4 != 0").createOrReplaceTempView("__hyb_base")
    docs.where("doc_id % 4 = 0").createOrReplaceTempView("__hyb_new")
    build_hybrid_text_index(spark, base, source="__hyb_base")
    append_to_hybrid_index(spark, base, "__hyb_new")
    build_hybrid_text_index(spark, ref)

    for rel in ("tf", "btf", "posts"):
        got = _rows(spark.read.parquet(f"{base}/{rel}"),
                    spark.read.parquet(f"{base}/{rel}").columns)
        want = _rows(spark.read.parquet(f"{ref}/{rel}"),
                     spark.read.parquet(f"{ref}/{rel}").columns)
        assert got == want, rel

    serve = lambda p: _rows(  # noqa: E731
        hybrid_rrf(spark, posts_rel=f"parquet.`{p}/posts`",
                   tf_rel=f"parquet.`{p}/tf`"),
        ["doc_id", "rrf_micro", "in_lex", "in_dense", "rk"],
    )
    assert serve(base) == serve(ref)


def test_hybrid_artifact_delete_masks_then_compact_equals_rebuild(
    spark, docs, tmp_path
):
    """Two-phase hybrid takedown: after the tombstone append, BOTH serve
    sides exclude the deleted docs (BM25 masking is rebuild-exact
    immediately; the dense side runs under the frozen analyzer); after
    compaction the artifact is row-identical to a one-shot build over
    the remaining documents in all three relations and the serve equals
    the rebuild's."""
    from qradar_restapi_kafka_datapipeline_spark.operators.text import (
        build_hybrid_text_index,
        compact_hybrid_index,
        delete_from_hybrid_index,
        hybrid_index_rels,
        hybrid_rrf,
    )

    base = str(tmp_path / "hyb_del")
    ref = str(tmp_path / "hyb_rem")
    build_hybrid_text_index(spark, base)
    docs.where(f"NOT ({DELETE_PRED})").createOrReplaceTempView("__hd_rem")
    build_hybrid_text_index(spark, ref, source="__hd_rem")

    delete_from_hybrid_index(
        spark, base, docs.where(DELETE_PRED).select("doc_id")
    )
    delete_from_hybrid_index(  # idempotent
        spark, base, docs.where(DELETE_PRED).select("doc_id")
    )

    def serve(p):
        tf_rel, posts_rel = hybrid_index_rels(spark, p)
        return [
            (int(r["doc_id"]), int(r["rk"]))
            for r in hybrid_rrf(spark, query_doc=1, posts_rel=posts_rel,
                                tf_rel=tf_rel).collect()
        ]

    masked = serve(base)
    assert masked and not any(d % 9 == 0 for d, _ in masked)

    compact_hybrid_index(spark, base)
    assert not os.path.exists(f"{base}/tombstones")
    for rel in ("tf", "btf", "posts"):
        got = _rows(spark.read.parquet(f"{base}/{rel}"),
                    spark.read.parquet(f"{base}/{rel}").columns)
        want = _rows(spark.read.parquet(f"{ref}/{rel}"),
                     spark.read.parquet(f"{ref}/{rel}").columns)
        assert got == want, rel
    assert serve(base) == serve(ref)


def test_persisted_index_postings_swap_crash_heals(spark, docs, tmp_path):
    """A compaction kill between the postings stage-out and stage-in
    leaves the live dir absent and the staged-out copy intact — the
    recovery hook restores it (the shared two-rename protocol, now
    covering postings as well as norms)."""
    base = str(tmp_path / "index")
    T.build_text_index(spark, base, dim=4096)
    qtext = docs.where("doc_id = 0").first()["text"]
    before = [(r["n_id"], r["cos"]) for r in T.text_knn_from_index(
        spark, base, qtext, k=5, dim=4096, query_id=0, exclude_id=0
    ).collect()]
    # simulate the mid-swap crash state
    os.rename(f"{base}/postings", f"{base}/.postings_compact_old")
    assert T.recover_text_index_norms(spark, base) == "restored_old"
    after = [(r["n_id"], r["cos"]) for r in T.text_knn_from_index(
        spark, base, qtext, k=5, dim=4096, query_id=0, exclude_id=0
    ).collect()]
    assert after == before

def test_hybrid_append_replay_is_noop(spark, docs, tmp_path):
    """ADVICE r12 (medium): a crash anywhere in append_to_hybrid_index's
    window — after the tf append, after the btf append, or mid posts
    swap — is healed by simply RE-RUNNING the append.  Each append
    anti-joins the already-stored doc_ids for its own relation, so
    already-landed rows land nothing and tf counts can never double."""
    from qradar_restapi_kafka_datapipeline_spark.operators.text import (
        append_to_hybrid_index,
        build_hybrid_text_index,
    )

    base = str(tmp_path / "hyb_replay")
    ref = str(tmp_path / "hyb_replay_full")
    docs.where("doc_id % 4 != 0").createOrReplaceTempView("__hr_base")
    docs.where("doc_id % 4 = 0").createOrReplaceTempView("__hr_new")
    build_hybrid_text_index(spark, base, source="__hr_base")

    # simulate the worst crash window: tf landed, btf did NOT, posts stale
    src = "__hr_new"
    tok = T.token_positions_sql("spark", src)
    spark.sql(
        f"SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf "
        f"FROM ({tok}) t WHERE word != '' GROUP BY doc_id, word"
    ).write.mode("append").parquet(f"{base}/tf")

    # the replayed append must land ONLY the missing btf rows
    append_to_hybrid_index(spark, base, "__hr_new")
    # and a FULL second replay must change nothing
    append_to_hybrid_index(spark, base, "__hr_new")

    build_hybrid_text_index(spark, ref)
    for rel in ("tf", "btf", "posts"):
        got = _rows(spark.read.parquet(f"{base}/{rel}"),
                    spark.read.parquet(f"{base}/{rel}").columns)
        want = _rows(spark.read.parquet(f"{ref}/{rel}"),
                     spark.read.parquet(f"{ref}/{rel}").columns)
        assert got == want, rel


def test_compact_tf_parts_heals_mid_swap_crash(spark, docs):
    """ADVICE r12: a kill between compact_tf_parts' two renames leaves
    the live parts dir absent with the data staged at __compact_old —
    the next compaction call must restore it at entry (the standard
    heal-at-entry protocol) and serve identically."""
    po: list = []
    served = T.text_index_delete_streaming(spark, _parts_out=po)
    before = _rows(served, ("doc_id", "score", "rk"))
    parts, del_parts = po[0], po[1]
    n1 = T.compact_tf_parts(spark, parts, del_parts)
    # simulate the mid-swap crash state
    os.rename(parts, f"{parts}.__compact_old")
    assert not os.path.exists(parts)
    n2 = T.compact_tf_parts(spark, parts)
    assert n2 == n1
    assert not os.path.exists(f"{parts}.__compact_old")
    merged = f"(SELECT doc_id, word, tf FROM parquet.`{parts}`)"
    after = _rows(
        spark.sql(T.bm25_topk_sql("spark", query_doc=1, k=10,
                                  tf_rel=merged)),
        ("doc_id", "score", "rk"),
    )
    assert after == before
