"""Round-13 optimization equivalence pins.

Each test pins an optimization that restructured an operator's internals
against the formulation it replaced (OPTIMIZATION_r13.md):

- the windowed-LEAD bigram builder vs the former positional self-join;
- window-df damping + source-derived ndocs vs the former GROUP BY +
  semi-join + tf-derived scalar in the hashed-postings pipeline;
- the ip2long twin substitution (qevents' precomputed long columns) vs
  the split-recombine chain;
- the driver-side MMR greedy vs the per-step Spark-query greedy;
- the bounded-collect IVF serve vs the distributed-assign serve (the
  over-cap fallback path).

DuckDB carries the SQL-equivalence pins (fast, engine-neutral — the
builders emit both dialects from one template, so a divergence would show
identically in Spark); the Spark fixture pins the serve/greedy paths.
"""

from __future__ import annotations

import duckdb
import pytest

from qradar_restapi_kafka_datapipeline_spark.operators import text as T
from qradar_restapi_kafka_datapipeline_spark.operators import curation as C

SF_DIR = "/root/testdata/sf0.001"

#: edge-shaped corpus: empty text, lone token, repeated bigrams, stopword
#: saturation (every doc shares 'the end'), multi-space separators
_EDGE_DOCS = [
    (0, ""),
    (1, "solo"),
    (2, "a b a b a b"),
    (3, "the end"),
    (4, "x the end"),
    (5, "y  the   end"),
    (6, "a b c the end"),
]


def _edge_con():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in _EDGE_DOCS)
        + ") AS t(doc_id, text)"
    )
    return con


def _old_join_tf(tok: str) -> str:
    return f"""
    SELECT a.doc_id, CONCAT(a.word, ' ', b.word) AS feat,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM ({tok}) a JOIN ({tok}) b
      ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    GROUP BY a.doc_id, CONCAT(a.word, ' ', b.word)
    """


class TestLeadBigramEquivalence:
    def test_edge_corpus(self):
        con = _edge_con()
        tok = T.token_positions_sql("duckdb")
        old, new = _old_join_tf(tok), T.bigram_tf_sql("duckdb")
        diff = con.execute(
            f"SELECT COUNT(*) FROM (({old}) EXCEPT ({new})) "
            f"UNION ALL SELECT COUNT(*) FROM (({new}) EXCEPT ({old}))"
        ).fetchall()
        assert diff == [(0,), (0,)]
        con.close()

    def test_testdata_corpus(self):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/documents.parquet')"
        )
        tok = T.token_positions_sql("duckdb")
        old, new = _old_join_tf(tok), T.bigram_tf_sql("duckdb")
        diff = con.execute(
            f"SELECT COUNT(*) FROM (({old}) EXCEPT ({new})) "
            f"UNION ALL SELECT COUNT(*) FROM (({new}) EXCEPT ({old}))"
        ).fetchall()
        assert diff == [(0,), (0,)]
        con.close()


class TestWindowDfPostingsEquivalence:
    def _old_postings(self, dim: int) -> str:
        tok = T.token_positions_sql("duckdb")
        h = T.portable_hash60_sql("duckdb", "feat")
        return f"""
        WITH tok AS MATERIALIZED ({tok}),
        feats AS (
          SELECT a.doc_id, CONCAT(a.word, ' ', b.word) AS feat
          FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        ),
        tf AS MATERIALIZED (SELECT doc_id, feat, COUNT(*) AS c
                            FROM feats GROUP BY doc_id, feat),
        ndocs AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
        keep AS (
          SELECT feat FROM tf GROUP BY feat
          HAVING COUNT(DISTINCT doc_id) * 2 <= (SELECT n FROM ndocs)
        ),
        hashed AS (
          SELECT doc_id, {h} AS h, c FROM tf
          WHERE feat IN (SELECT feat FROM keep)
        ),
        post AS (
          SELECT doc_id, CAST((h // 2) % {dim} AS BIGINT) AS bucket,
                 CAST(SUM(CASE WHEN h % 2 = 0 THEN LEAST(c, 3)
                               ELSE -LEAST(c, 3) END) AS BIGINT) AS w
          FROM hashed GROUP BY 1, 2
        )
        SELECT doc_id, bucket, w FROM post WHERE w != 0
        """

    def test_edge_corpus(self):
        # the shared 'the end' bigram (df·2 > n) must drop identically,
        # and empty/lone-token docs must stay out of ndocs in both forms
        con = _edge_con()
        old, new = self._old_postings(16), T.hashed_embedding_postings_sql(
            "duckdb", 16
        )
        diff = con.execute(
            f"SELECT COUNT(*) FROM (({old}) EXCEPT ({new})) "
            f"UNION ALL SELECT COUNT(*) FROM (({new}) EXCEPT ({old}))"
        ).fetchall()
        assert diff == [(0,), (0,)]
        con.close()

    def test_ndocs_from_source_matches_tf(self):
        con = _edge_con()
        tf = T.bigram_tf_sql("duckdb")
        a = con.execute(
            f"SELECT COUNT(DISTINCT doc_id) FROM ({tf}) tf"
        ).fetchone()[0]
        b = con.execute(T.ndocs_ge2_tokens_sql("duckdb")).fetchone()[0]
        assert a == b == 5  # docs 2..6 have >= 2 tokens; 0 and 1 do not
        con.close()

    def test_dsir_cnts_unchanged(self):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/documents.parquet')"
        )
        tok = T.token_positions_sql("duckdb")
        h = T.portable_hash60_sql("duckdb", "CONCAT(a.word, ' ', b.word)")
        old = f"""
        WITH tok AS ({tok})
        SELECT a.doc_id, {h} % 1024 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        GROUP BY a.doc_id, {h} % 1024
        """
        new = C.dsir_cnts_sql("duckdb")
        diff = con.execute(
            f"SELECT COUNT(*) FROM (({old}) EXCEPT ({new})) "
            f"UNION ALL SELECT COUNT(*) FROM (({new}) EXCEPT ({old}))"
        ).fetchall()
        assert diff == [(0,), (0,)]
        con.close()


class TestIplongTwinIdentity:
    def test_twin_equals_split_chain_on_qevents(self):
        # the dotted-quad strings are DERIVED from the long columns, so the
        # split-recombine chain must reproduce the long on EVERY row
        from qradar_restapi_kafka_datapipeline_spark.sources.qevents import (
            qevents_sql,
        )

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/events.parquet')"
        )
        con.execute(
            f"CREATE VIEW qevents AS {qevents_sql('duckdb')}"
        )
        split = (
            "(CAST(split_part({c}, '.', 1) AS BIGINT)*16777216 + "
            "CAST(split_part({c}, '.', 2) AS BIGINT)*65536 + "
            "CAST(split_part({c}, '.', 3) AS BIGINT)*256 + "
            "CAST(split_part({c}, '.', 4) AS BIGINT))"
        )
        n = con.execute(
            "SELECT COUNT(*) FROM qevents WHERE "
            + split.format(c="sourceip")
            + " != sourceIPlong OR "
            + split.format(c="destinationip")
            + " != destinationIPlong"
        ).fetchone()[0]
        assert n == 0
        con.close()

    def test_expr_builder_emits_twin(self):
        from qradar_restapi_kafka_datapipeline_spark.plans.dialect import (
            IPLONG_TWINS,
            incidr_expr,
            ip2long_expr,
        )

        assert ip2long_expr("sourceip") == "sourceIPlong"
        assert ip2long_expr("SourceIP") == "sourceIPlong"
        assert ip2long_expr("destinationip") == "destinationIPlong"
        # non-twin columns parse the string and never emit a twin
        for col in ("ip", "COALESCE(sourceip, '0.0.0.0')"):
            out = ip2long_expr(col)
            assert col in out
            assert not any(t in out for t in IPLONG_TWINS.values())
        assert "sourceIPlong" in incidr_expr("10.0.0.0/8", "sourceip")


class TestBoundedServeEquivalence:
    def test_ivf_serve_collect_equals_distributed(self, spark, tables, tmp_path):
        # force the over-cap fallback by shrinking the cap, and pin that the
        # bounded-collect serve returns exactly the distributed serve's rows
        from qradar_restapi_kafka_datapipeline_spark.operators import (
            similarity as S,
        )

        emb = spark.table("embeddings")
        path = str(tmp_path / "ivf")
        S.build_ivf_index(spark, emb, path)
        queries = emb.where("vec_id < 6")
        fast = S.knn_ivf_from_index(spark, path, queries, k=3)
        old_cap = S._SERVE_COLLECT_CAP
        try:
            S._SERVE_COLLECT_CAP = 1  # 6 queries x nprobe rows > 1 → fallback
            slow = S.knn_ivf_from_index(spark, path, queries, k=3)
        finally:
            S._SERVE_COLLECT_CAP = old_cap
        a = sorted(map(tuple, fast.collect()))
        b = sorted(map(tuple, slow.collect()))
        assert a == b and len(a) == 18

    def test_mmr_greedy_matches_spark_step_oracle(self, spark, tables):
        # drive the driver-side greedy against a brute-force Python replay
        # over the SAME Spark-rounded pool/pair values — per-step argmax with
        # (score DESC, id ASC) ties, score = round6(lam*cos - lam_comp*ms
        # + 1e-9) half-away-from-zero
        import math

        from pyspark.sql import functions as F

        from qradar_restapi_kafka_datapipeline_spark.operators import (
            similarity as S,
        )
        from qradar_restapi_kafka_datapipeline_spark.operators.dedup import (
            cosine_expr,
        )

        emb = spark.table("embeddings")
        out = S.mmr_diversify(emb, query_id=0, pool_k=8, k=4, lam=0.7,
                              lam_comp=0.3)
        got = [(r["rk"], r["n_id"], r["cos"]) for r in out.collect()]

        q = emb.where("vec_id = 0").select(F.col("embedding").alias("qv"))
        pool = (
            emb.where("vec_id != 0")
            .crossJoin(F.broadcast(q))
            .select(
                F.col("vec_id").alias("n_id"),
                F.round(cosine_expr("qv", "embedding") + F.lit(1e-9), 6)
                .alias("cos"),
            )
            .orderBy(F.col("cos").desc(), F.col("n_id").asc())
            .limit(8)
        )
        cos = {r["n_id"]: r["cos"] for r in pool.collect()}
        ids = list(cos)
        pv = emb.where(F.col("vec_id").isin(ids))
        a = pv.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
        b = pv.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
        sim = {
            (r["ia"], r["ib"]): r["s"]
            for r in a.join(b, F.col("ia") != F.col("ib"))
            .select("ia", "ib",
                    F.round(cosine_expr("va", "vb") + F.lit(1e-9), 6).alias("s"))
            .collect()
        }
        sel = [min(cos, key=lambda i: (-cos[i], i))]
        want = [(1, sel[0], cos[sel[0]])]
        for step in range(2, 5):
            scored = []
            for i in cos:
                if i in sel:
                    continue
                ms = max(sim[(i, j)] for j in sel)
                x = 0.7 * cos[i] - 0.3 * ms + 1e-9
                sc = math.floor(abs(x) * 1e6 + 0.5) / 1e6
                scored.append((sc if x >= 0 else -sc, i))
            sc, i = max(scored, key=lambda t: (t[0], -t[1]))
            want.append((step, i, cos[i]))
            sel.append(i)
        assert got == want


class TestTopmMaterializedEquivalence:
    """r13 wave 3b: the standalone capped top-m prefix relation
    (semantic_topm_sql) composed back via topm_rel must reproduce the
    inline statement's pair set exactly — DuckDB carries the pin (the
    builders emit both dialects from one template)."""

    def _check(self, con):
        con.execute(
            "CREATE TABLE p AS "
            + T.hashed_embedding_postings_sql("duckdb", 256)
        )
        con.execute(
            "CREATE TABLE tm AS " + T.semantic_topm_sql("duckdb", 4, "auto", "p")
        )
        inline = T.hashed_semantic_pairs_sql(
            "duckdb", 256, 0.5, prefix_m=4, max_bucket_docs="auto"
        )
        composed = T.hashed_semantic_pairs_sql(
            "duckdb", 256, 0.5, prefix_m=4, posts_rel="p",
            max_bucket_docs="auto", topm_rel="tm",
        )
        d = con.execute(
            f"SELECT (SELECT COUNT(*) FROM (({inline}) EXCEPT ({composed}))),"
            f" (SELECT COUNT(*) FROM (({composed}) EXCEPT ({inline})))"
        ).fetchone()
        assert d == (0, 0)

    def test_edge_corpus(self):
        con = _edge_con()
        self._check(con)
        con.close()

    def test_testdata_corpus(self):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/documents.parquet')"
        )
        self._check(con)
        con.close()

    def test_explicit_cap_and_uncapped(self):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/documents.parquet')"
        )
        con.execute(
            "CREATE TABLE p AS "
            + T.hashed_embedding_postings_sql("duckdb", 256)
        )
        for cap in (8, None):
            con.execute("DROP TABLE IF EXISTS tm")
            con.execute(
                "CREATE TABLE tm AS "
                + T.semantic_topm_sql("duckdb", 4, cap, "p")
            )
            inline = T.hashed_semantic_pairs_sql(
                "duckdb", 256, 0.5, prefix_m=4, max_bucket_docs=cap
            )
            composed = T.hashed_semantic_pairs_sql(
                "duckdb", 256, 0.5, prefix_m=4, posts_rel="p",
                max_bucket_docs=cap, topm_rel="tm",
            )
            d = con.execute(
                f"SELECT (SELECT COUNT(*) FROM (({inline}) EXCEPT ({composed}))),"
                f" (SELECT COUNT(*) FROM (({composed}) EXCEPT ({inline})))"
            ).fetchone()
            assert d == (0, 0), cap
        con.close()
