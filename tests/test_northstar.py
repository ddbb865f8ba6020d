"""North-star operators: dedup / similarity / text / multimodal (SURVEY M6).

Synthetic-planted cases: the driver tables are random (few true near-dups), so
these tests plant known duplicates and verify each operator finds exactly them.
"""

import pytest
from pyspark.sql import functions as F

from qradar_restapi_kafka_datapipeline_spark.operators.dedup import (
    dedup_exact,
    exact_dup_groups,
    embedding_cosine_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from qradar_restapi_kafka_datapipeline_spark.operators.multimodal import (
    attach_binary_payload,
    decode_image,
    extract_features,
    frame_sample,
)
from qradar_restapi_kafka_datapipeline_spark.operators.similarity import (
    knn_bruteforce,
    knn_ivf,
    knn_lsh,
)

BASE = "the quick brown fox jumps over the lazy dog again and again in the yard"
NEAR = BASE.replace("lazy", "sleepy")  # one-word change → high Jaccard
FAR = "completely different content about spark query engines and shuffles"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, BASE),
            (2, BASE),            # exact dup of 1
            (3, "  " + BASE + " "),  # whitespace-normalized dup of 1
            (4, NEAR),            # near-dup of 1
            (5, FAR),
        ],
        ["doc_id", "text"],
    )


def test_exact_dup_groups(spark, docs):
    groups = exact_dup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["canonical_id"] == 1 and groups[0]["group_size"] == 3


def test_dedup_exact_keeps_min_id(spark, docs):
    kept = sorted(r["doc_id"] for r in dedup_exact(docs).collect())
    assert kept == [1, 4, 5]


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0 and pairs[(1, 3)] == 1.0
    assert 0.3 <= pairs[(1, 4)] < 1.0   # one-word change
    assert (1, 5) not in pairs and (4, 5) not in pairs


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_pairs(docs, threshold=0.3).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs and (1, 4) in pairs
    assert (1, 5) not in pairs


def test_simhash_identical_distance_zero(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(docs, max_hamming=10).collect()}
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 0
    assert (1, 5) not in pairs or pairs[(1, 5)] > 10  # unrelated text far away


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0, 0.0]),   # near 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )


def test_embedding_cosine_pairs(spark, vectors):
    pairs = {(r["id_a"], r["id_b"]): r["cos"]
             for r in embedding_cosine_pairs(vectors, threshold=0.9).collect()}
    assert list(pairs) == [(1, 2)] and pairs[(1, 2)] > 0.99


def test_knn_bruteforce_ranks_near_first(spark, vectors):
    rows = knn_bruteforce(vectors, query_ids=[1], k=2).collect()
    assert [r["n_id"] for r in sorted(rows, key=lambda r: r["rk"])][0] == 2


def test_knn_lsh_subset_of_bruteforce_quality(spark, vectors):
    # LSH with few planes on 4 vectors: the (1,2) pair shares a bucket
    rows = knn_lsh(vectors, query_ids=[1], k=2, planes=4, dims=4).collect()
    assert any(r["n_id"] == 2 for r in rows)


def test_multimodal_stub_and_plumbing(spark, docs):
    media = attach_binary_payload(docs)
    feats = extract_features(media)
    got = {r["doc_id"]: r for r in feats.collect()}
    assert got[1]["n_bytes"] == len(BASE)
    assert got[1]["width"] == 64 + (len(BASE) % 16) * 32
    frames = frame_sample(feats).groupBy("doc_id").count().collect()
    assert all(r["count"] >= 1 for r in frames)
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


class TestLshInternalOracles:
    """The rows-only registry ops (no DuckDB oracle) checked against their
    exact in-engine counterparts — LSH must be a subset with identical scores."""

    def test_minhash_lsh_consistent_with_exact_jaccard(self, spark, sf_dir):
        from qradar_restapi_kafka_datapipeline_spark.operators.dedup import (
            minhash_lsh_pairs,
            ngram_jaccard_pairs,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        lsh = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in minhash_lsh_pairs(docs, threshold=0.1).collect()}
        exact = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in ngram_jaccard_pairs(docs, threshold=0.1).collect()}
        assert set(lsh) <= set(exact)
        assert all(abs(lsh[k] - exact[k]) < 1e-9 for k in lsh)
        assert len(lsh) >= 0.9 * len(exact)  # near-total recall at this threshold

    def test_minhash_xxhash_equals_portable_at_high_threshold(self, spark, sf_dir):
        """The xxhash64 production mode and the md5-portable oracle mode are
        the same algorithm under different hash families.  At threshold 0.85
        the 16x4 banding's miss probability for true pairs is < 1e-6 for
        EITHER family and the verify stage makes precision exact, so both
        modes must emit the identical verified pair relation — the test that
        keeps the fast path honest without a rows-only registry row."""
        from qradar_restapi_kafka_datapipeline_spark.operators.dedup import (
            minhash_lsh_pairs,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        fast = {(r["id_a"], r["id_b"]): r["jaccard"]
                for r in minhash_lsh_pairs(docs, threshold=0.85).collect()}
        portable = {(r["id_a"], r["id_b"]): r["jaccard"]
                    for r in minhash_lsh_pairs(
                        docs, threshold=0.85, portable_hash=True
                    ).collect()}
        assert fast == portable and fast

    def test_knn_lsh_scores_match_bruteforce(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qids = list(range(10))
        full = {(r["q_id"], r["n_id"]): r["cos"]
                for r in knn_bruteforce(emb, qids, k=500).collect()}
        approx = {(r["q_id"], r["n_id"]): r["cos"]
                  for r in knn_lsh(emb, qids, k=3).collect()}
        # every approximate result carries the EXACT cosine for that pair
        assert approx and all(abs(approx[k] - full[k]) < 1e-9 for k in approx)
        top3 = {(r["q_id"], r["n_id"]) for r in knn_bruteforce(emb, qids, k=3).collect()}
        recall = len(top3 & set(approx)) / len(top3)
        assert recall >= 0.2  # random-embedding floor; see knn_lsh docstring

    def test_knn_ivf_scores_match_bruteforce(self, spark, sf_dir):
        """IVF's data-adaptive quantizer beats sign-LSH at the same candidate
        budget: ≥0.6 recall@3 even on the random corpus (measured ≈0.9), and
        every returned score is the exact cosine for that pair."""
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qids = list(range(10))
        full = {(r["q_id"], r["n_id"]): r["cos"]
                for r in knn_bruteforce(emb, qids, k=500).collect()}
        approx = {(r["q_id"], r["n_id"]): r["cos"]
                  for r in knn_ivf(emb, qids, k=3).collect()}
        assert approx and all(abs(approx[k] - full[k]) < 1e-9 for k in approx)
        top3 = {(r["q_id"], r["n_id"]) for r in knn_bruteforce(emb, qids, k=3).collect()}
        recall = len(top3 & set(approx)) / len(top3)
        assert recall >= 0.6

    def test_simhash_pairs_exact_recall_vs_bruteforce(self, spark, sf_dir):
        """Pigeonhole banding must find EVERY pair within the radius —
        checked against a brute-force XOR popcount over all pairs."""
        from qradar_restapi_kafka_datapipeline_spark.operators.dedup import simhash, simhash_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        for h in (3, 7):
            banded = {(r["id_a"], r["id_b"]): r["hamming"]
                      for r in simhash_pairs(docs, max_hamming=h).collect()}
            sh = simhash(docs)
            a = sh.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sa"))
            b = sh.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sb"))
            brute = {
                (r["id_a"], r["id_b"]): r["d"]
                for r in a.join(b, F.col("id_a") < F.col("id_b"))
                .withColumn("d", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
                .where(F.col("d") <= h)
                .collect()
            }
            assert banded == brute, f"max_hamming={h}"


def test_embedding_lsh_near_dup_matches_bruteforce_on_clustered_data(spark):
    """On clustered data (the real-world shape), the LSH-bucketed near-dup
    finds EVERY perturbed-copy pair the brute-force operator finds, with
    identical cosine values — precision is exact by construction, and at
    cos≈0.99 the 4x8 sign-LSH misses with probability < 1e-5."""
    import random

    from qradar_restapi_kafka_datapipeline_spark.operators.dedup import (
        embedding_cosine_pairs,
        embedding_near_dup_lsh,
    )

    rng = random.Random(11)
    rows = []
    for i in range(40):
        base = [rng.gauss(0, 1) for _ in range(64)]
        rows.append((i * 2, [float(x) for x in base]))
        # perturbed copy: cos ≈ 0.995
        rows.append(
            (i * 2 + 1, [float(x + rng.gauss(0, 0.1)) for x in base])
        )
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")

    brute = {
        (r.id_a, r.id_b, r.cos)
        for r in embedding_cosine_pairs(emb, threshold=0.9).collect()
    }
    lsh = {
        (r.id_a, r.id_b, r.cos)
        for r in embedding_near_dup_lsh(emb, threshold=0.9).collect()
    }
    assert len(brute) >= 40  # every copy pair is a true near-dup
    assert lsh == brute  # full recall on clustered data, identical values


# ---------------------------------------------------------------------------
# contamination / prefix dedup / repetition stats (planted cases)
# ---------------------------------------------------------------------------

def test_contamination_report_planted(spark):
    from qradar_restapi_kafka_datapipeline_spark.operators.contamination import (
        contamination_report,
    )

    # split rule: doc_id % 5 == 0 → test; BASE appears verbatim in train (id 1)
    # so test doc 0 is fully contaminated; FAR shares no 3-gram with any train
    # doc so test doc 5 is clean.
    docs = spark.createDataFrame(
        [(0, BASE), (5, FAR), (1, BASE), (2, NEAR)], ["doc_id", "text"]
    )
    rep = {r["doc_id"]: r for r in contamination_report(docs).collect()}
    assert set(rep) == {0, 5}  # only test-split docs reported
    assert rep[0]["contamination_rate"] == 1.0
    assert rep[0]["n_contaminated"] == rep[0]["n_shingles"]
    assert rep[5]["n_contaminated"] == 0 and rep[5]["contamination_rate"] == 0.0


def test_prefix_dup_groups_planted(spark):
    from qradar_restapi_kafka_datapipeline_spark.operators.dedup import (
        prefix_dup_groups,
    )

    prefix = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, prefix + " unique tail alpha"),
            (2, prefix + " different ending beta"),
            (3, "another corpus entirely with its own words"),
        ],
        ["doc_id", "text"],
    )
    groups = prefix_dup_groups(docs, n_words=20).collect()
    assert len(groups) == 1
    assert groups[0]["canonical_id"] == 1 and groups[0]["group_size"] == 2
    # a longer prefix window sees the diverging tails → no groups
    assert prefix_dup_groups(docs, n_words=22).count() == 0


def test_repetition_stats_planted(spark):
    from qradar_restapi_kafka_datapipeline_spark.operators.text import (
        repetition_stats_sql,
    )

    spark.createDataFrame(
        [(1, "a a a a"), (2, "one two three four")], ["doc_id", "text"]
    ).createOrReplaceTempView("rep_docs")
    rows = {
        r["doc_id"]: r
        for r in spark.sql(repetition_stats_sql("spark", source="rep_docs")).collect()
    }
    # "a a a a": 1 distinct of 4 words; bigram "a a" occurs 3x → capped at 1.0
    assert rows[1]["n_words"] == 4
    assert abs(rows[1]["dup_word_frac"] - 0.75) < 1e-6
    assert rows[1]["top_bigram_frac"] == 1.0
    # all-distinct: dup 0; every bigram unique → 2/4 token coverage
    assert abs(rows[2]["dup_word_frac"]) < 1e-6
    assert abs(rows[2]["top_bigram_frac"] - 0.5) < 1e-6


def test_dup_clusters_chain_collapses(spark):
    from qradar_restapi_kafka_datapipeline_spark.operators.dedup import dup_clusters

    # A~B, B~C, C~D chain plus an isolated pair: components must collapse
    # transitively to the min id, across more hops than one propagation round
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dup_clusters_random_graph_vs_union_find(spark):
    """Differential test: 200 random edges, label propagation must equal a
    driver-side union-find (the textbook reference implementation)."""
    import random

    from qradar_restapi_kafka_datapipeline_spark.operators.dedup import dup_clusters

    rng = random.Random(7)
    edges = sorted({(rng.randrange(80), rng.randrange(80)) for _ in range(200)})
    edges = [(a, b) if a < b else (b, a) for a, b in edges if a != b]

    parent = list(range(80))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {n for e in edges for n in e}
    # canonical = min node id per component (find() roots at the min because
    # unions always attach the larger root under the smaller)
    expected = {n: find(n) for n in nodes}

    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == expected


# ---------------------------------------------------------------------------
# incremental (cross-snapshot) dedup
# ---------------------------------------------------------------------------


def test_incremental_dedup_planted(spark):
    from pyspark.sql import Row

    from qradar_restapi_kafka_datapipeline_spark.operators.dedup import (
        incremental_dedup,
    )

    def docs(rows):
        return spark.createDataFrame(
            [Row(doc_id=i, text=t, source="s", lang="en") for i, t in rows]
        )

    corpus = docs([(1, "held page one"), (2, "held page two")])
    new = docs([
        (10, "held  PAGE one"),   # normalized dup of corpus doc 1 -> dropped
        (11, "fresh doc alpha"),  # genuinely new -> kept
        (12, "fresh doc beta"),   # in-batch dup pair -> min id kept
        (13, "fresh  doc BETA"),
    ])
    out = {r.doc_id for r in incremental_dedup(new, corpus).collect()}
    assert out == {11, 12}


def test_incremental_dedup_prefix_mode(spark):
    from pyspark.sql import Row

    from qradar_restapi_kafka_datapipeline_spark.operators.dedup import (
        incremental_dedup,
    )

    def docs(rows):
        return spark.createDataFrame(
            [Row(doc_id=i, text=t, source="s", lang="en") for i, t in rows]
        )

    # same 3-word head, divergent tails: exact mode keeps, prefix mode drops
    corpus = docs([(1, "common head words tail original")])
    new = docs([(10, "common head words completely different ending")])
    assert {r.doc_id for r in incremental_dedup(new, corpus).collect()} == {10}
    assert incremental_dedup(new, corpus, prefix_words=3).count() == 0


# ---------------------------------------------------------------------------
# passage-level dedup
# ---------------------------------------------------------------------------


def test_passage_dedup_planted_removal_and_order(spark):
    from pyspark.sql import Row

    from qradar_restapi_kafka_datapipeline_spark.operators.dedup import (
        passage_dedup,
    )

    # k=2 passages; "same boiler" appears in docs 0 and 1 -> removed from
    # both; doc 2 untouched; doc 3 is ENTIRELY the shared passage -> empty.
    spark.createDataFrame(
        [
            Row(doc_id=0, text="aa bb same boiler cc dd"),
            Row(doc_id=1, text="same boiler xx yy"),
            Row(doc_id=2, text="pp qq rr ss"),
            Row(doc_id=3, text="same boiler"),
        ]
    ).createOrReplaceTempView("pd_docs")
    out = {
        r.doc_id: r
        for r in passage_dedup(spark, k=2, min_dup_docs=2, table="pd_docs").collect()
    }
    assert set(out) == {0, 1, 2, 3}
    assert (out[0].n_passages, out[0].n_kept, out[0].n_dropped) == (3, 2, 1)
    assert out[0].clean_chars == len("aa bb cc dd")
    assert (out[1].n_kept, out[3].n_kept) == (1, 0)
    assert out[3].clean_chars == 0
    assert out[2].n_dropped == 0
    # order preserved: doc 0 reassembles to "aa bb cc dd", not "cc dd aa bb"
    import hashlib

    assert out[0].clean_fp == hashlib.md5(b"aa bb cc dd").hexdigest()


def test_passage_dedup_within_doc_repeat_survives(spark):
    from pyspark.sql import Row

    from qradar_restapi_kafka_datapipeline_spark.operators.dedup import (
        passage_dedup,
    )

    # passage repeated only WITHIN one doc stays (cross-document rule)
    spark.createDataFrame(
        [Row(doc_id=0, text="xx yy xx yy"), Row(doc_id=1, text="aa bb cc dd")]
    ).createOrReplaceTempView("pd_docs2")
    out = {
        r.doc_id: r
        for r in passage_dedup(spark, k=2, min_dup_docs=2, table="pd_docs2").collect()
    }
    assert out[0].n_dropped == 0 and out[0].n_kept == 2


def test_passage_dedup_dataframe_matches_sql_form(spark, sf_dir):
    """The persisted-chunks DataFrame composition must emit exactly the
    relation of the one-SQL spark-dialect builder (which is also the oracle's
    shape) — the cross-impl parity check that lets the production form
    optimize freely."""
    from qradar_restapi_kafka_datapipeline_spark.operators.dedup import (
        passage_dedup,
        passage_dedup_sql,
    )

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "pd_parity_docs"
    )
    df_form = {
        tuple(r) for r in passage_dedup(spark, table="pd_parity_docs").collect()
    }
    sql_form = {
        tuple(r)
        for r in spark.sql(
            passage_dedup_sql("spark", table="pd_parity_docs")
        ).collect()
    }
    assert df_form == sql_form and df_form


def test_incremental_minhash_equals_cross_restricted_full(spark, sf_dir):
    """The cross-snapshot pipeline must emit exactly the full pipeline's
    pairs that straddle the split (same hash family → identical banding →
    identical recall; verify makes precision exact on both)."""
    from qradar_restapi_kafka_datapipeline_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, threshold=0.3).collect()
    }
    cross_full = {
        k: v for k, v in full.items() if (k[0] % 7 == 0) != (k[1] % 7 == 0)
    }
    inc = {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])): r["jaccard"]
        for r in incremental_minhash_pairs(
            docs.where("doc_id % 7 = 0"),
            docs.where("doc_id % 7 != 0"),
            threshold=0.3,
        ).collect()
    }
    assert inc == cross_full


def test_passage_dup_spans_islands(spark):
    from pyspark.sql import Row

    from qradar_restapi_kafka_datapipeline_spark.operators.dedup import (
        passage_dup_spans_sql,
    )

    # k=2: doc 0 = [AA][BB][zz qq][AA][CC]; docs 1-3 donate AA/BB/CC dups.
    # Chunks 0,1 are a consecutive dup run (one span of 2); chunk 3(AA),4(CC)
    # are consecutive again (span of 2)?? chunk 3 = 'a1 a2', chunk 4 = 'c1 c2'
    # -> islands: {0,1} and {3,4} -> 2 spans, max 2, total 4.
    spark.createDataFrame(
        [
            Row(doc_id=0, text="a1 a2 b1 b2 zz qq a1 a2 c1 c2"),
            Row(doc_id=1, text="a1 a2 x1 x2"),
            Row(doc_id=2, text="b1 b2 y1 y2"),
            Row(doc_id=3, text="c1 c2 w1 w2"),
        ]
    ).createOrReplaceTempView("span_docs")
    out = {
        r.doc_id: (r.n_spans, r.max_span_chunks, r.n_dup_chunks)
        for r in spark.sql(
            passage_dup_spans_sql("spark", k=2, min_dup_docs=2, table="span_docs")
        ).collect()
    }
    assert out[0] == (2, 2, 4)
    assert out[1] == (1, 1, 1) and out[2] == (1, 1, 1) and out[3] == (1, 1, 1)


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    """Winnowing's coverage guarantee: documents sharing a run of at least
    window + k - 1 words share at least one selected fingerprint."""
    from pyspark.sql import Row

    from qradar_restapi_kafka_datapipeline_spark.operators.text import (
        winnow_overlap_sql,
    )

    shared = "s1 s2 s3 s4 s5 s6"  # window=4, k=3 -> guarantee at 6 words
    spark.createDataFrame(
        [
            Row(doc_id=0, text=f"p1 p2 {shared} p3 p4"),
            Row(doc_id=1, text=f"q1 {shared} q2 q3 q4"),
            Row(doc_id=2, text="r1 r2 r3 r4 r5 r6 r7 r8"),
        ]
    ).createOrReplaceTempView("winnow_docs")
    pairs = {
        (r.id_a, r.id_b)
        for r in spark.sql(
            winnow_overlap_sql(
                "spark", k=3, window=4, min_shared=1, source="winnow_docs"
            )
        ).collect()
    }
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_wav_roundtrip_and_chunk_walking(spark):
    import pytest

    from qradar_restapi_kafka_datapipeline_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    # doc_id 3: no junk chunk; doc_id 6: LIST chunk precedes fmt — the
    # decoder must walk chunks, not assume fmt at offset 12
    for doc_id, text in ((3, "short text"), (6, "x" * 37)):
        payload = encode_wav(doc_id, text)
        rate, ch, bits, n, dur, ck = decode_wav(payload)
        assert rate == 8000 + (doc_id % 4) * 4000
        assert (ch, bits) == (1, 16)
        assert n == 50 + len(text) % 100
        assert dur == n * 1000 // rate
        assert ck == sum(
            (doc_id * 31 + i * 17) % 65536 for i in range(n)
        ) % 1_000_000_007
    assert encode_wav(6, "x")[12:16] == b"LIST"  # junk chunk really present
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxNOPE")
    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x04\x00\x00\x00WAVE")  # no fmt/data chunks


def test_winnow_overlap_dataframe_matches_sql_form(spark, sf_dir):
    from qradar_restapi_kafka_datapipeline_spark.operators.text import (
        winnow_overlap,
        winnow_overlap_sql,
    )

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "wo_docs"
    )
    df_form = {
        tuple(r) for r in winnow_overlap(spark, source="wo_docs").collect()
    }
    sql_form = {
        tuple(r)
        for r in spark.sql(winnow_overlap_sql("spark", source="wo_docs")).collect()
    }
    assert df_form == sql_form and df_form


class TestExactSubstring:
    """Exact-substring dedup (Lee et al. ExactSubstr, relational form):
    planted duplicate runs must come back with exact offsets and MAXIMAL
    lengths, and sub-threshold runs must not appear."""

    def _mk(self, spark, docs):
        from pyspark.sql import Row

        spark.createDataFrame(
            [Row(doc_id=i, text=t, source="s") for i, t in docs]
        ).createOrReplaceTempView("ess_docs")

    def test_planted_run_offsets_and_maximality(self, spark):
        from qradar_restapi_kafka_datapipeline_spark.operators.dedup import (
            exact_substring_pairs,
        )

        run = " ".join(f"dup{i}" for i in range(15))  # 15-token shared run
        a = "a0 a1 a2 " + run + " a3 a4"              # run at tokens 3..17
        b = "b0 " + run + " b1 b2 b3 b4 b5"           # run at tokens 1..15
        self._mk(spark, [(0, a), (1, b), (2, "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9")])
        out = exact_substring_pairs(
            spark, n=8, min_run=12, source="ess_docs"
        ).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.id_a, r.id_b) == (0, 1)
        assert (r.start_a, r.start_b, r.run_tokens) == (3, 1, 15)

    def test_two_separate_islands_and_min_run_filter(self, spark):
        from qradar_restapi_kafka_datapipeline_spark.operators.dedup import (
            exact_substring_pairs,
        )

        r1 = " ".join(f"x{i}" for i in range(12))  # meets min_run=12
        r2 = " ".join(f"y{i}" for i in range(13))  # meets min_run=12
        short = " ".join(f"z{i}" for i in range(9))  # 9 < 12 → dropped
        a = r1 + " gapA1 gapA2 " + r2 + " tailA " + short
        b = r2 + " gapB1 " + r1 + " tailB1 tailB2 " + short
        self._mk(spark, [(0, a), (1, b)])
        out = sorted(
            (r.start_a, r.start_b, r.run_tokens)
            for r in exact_substring_pairs(
                spark, n=8, min_run=12, source="ess_docs"
            ).collect()
        )
        # r1: a tokens 0..11, b tokens 14..25; r2: a tokens 14..26, b 0..12
        assert out == [(0, 14, 12), (14, 0, 13)]

    def test_remove_cuts_run_from_later_doc_only(self, spark):
        """Apply stage: the duplicate run disappears from the HIGHER doc_id
        (earliest copy survives) and the reassembled text is exact."""
        import hashlib

        from qradar_restapi_kafka_datapipeline_spark.operators.dedup import (
            exact_substring_remove,
        )

        run = " ".join(f"d{i}" for i in range(14))
        a = "a0 a1 " + run + " a2"
        b = "b0 " + run + " b1 b2"
        self._mk(spark, [(0, a), (1, b)])
        out = {
            r.doc_id: r
            for r in exact_substring_remove(
                spark, n=8, min_run=12, source="ess_docs"
            ).collect()
        }
        # doc 0 (earlier) untouched
        assert out[0].n_removed == 0
        assert out[0].clean_fp == hashlib.md5(a.encode()).hexdigest()
        # doc 1 loses exactly the 14-token run; survivors keep order
        assert out[1].n_removed == 14
        want = "b0 b1 b2"
        assert out[1].clean_fp == hashlib.md5(want.encode()).hexdigest()
        assert out[1].clean_chars == len(want)

    def test_gram_doc_freq_cap_drops_boilerplate_grams(self, spark):
        """max_gram_doc_freq: grams present in more than the cap's docs are
        excluded from candidate generation — the boilerplate-explosion guard
        for web corpora."""
        from qradar_restapi_kafka_datapipeline_spark.operators.dedup import (
            exact_substring_pairs,
        )

        boiler = " ".join(f"b{i}" for i in range(12))  # shared by ALL docs
        uniq = " ".join(f"u{i}" for i in range(12))    # shared by docs 0,1 only
        docs = [
            (0, boiler + " x0 " + uniq),
            (1, uniq + " y0 " + boiler),
            (2, boiler + " z0 z1 z2 z3 z4"),
            (3, "w0 w1 " + boiler + " w2"),
        ]
        self._mk(spark, docs)
        # uncapped: boilerplate run pairs every doc with every other
        full = exact_substring_pairs(spark, n=8, min_run=12, source="ess_docs")
        assert full.count() > 1
        # cap 3: the all-doc boilerplate grams (df=4) drop; only the
        # doc-0/1 unique run survives
        capped = exact_substring_pairs(
            spark, n=8, min_run=12, source="ess_docs", max_gram_doc_freq=3
        ).collect()
        assert [(r.id_a, r.id_b, r.run_tokens) for r in capped] == [(0, 1, 12)]

    def test_oracle_parity_on_planted_corpus(self, spark, tmp_path):
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        from qradar_restapi_kafka_datapipeline_spark.operators.dedup import (
            exact_substring_pairs,
            exact_substring_sql,
        )

        run = " ".join(f"w{i}" for i in range(20))
        docs = [
            (0, "p0 p1 " + run + " p2"),
            (1, run + " q0 q1 q2 q3"),
            (2, "r0 r1 r2 r3 r4 r5 r6 r7 r8 r9 r10 r11"),
            (3, "p0 p1 " + run + " p2"),  # full-doc duplicate of 0
        ]
        path = str(tmp_path / "ess.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([d for d, _ in docs], pa.int64()),
                    "text": pa.array([t for _, t in docs], pa.string()),
                }
            ),
            path,
        )
        spark.read.parquet(path).createOrReplaceTempView("ess_par")
        con = duckdb.connect()
        con.execute(f"CREATE VIEW ess_par AS SELECT * FROM '{path}'")
        got = sorted(
            tuple(r)
            for r in exact_substring_pairs(
                spark, n=8, min_run=10, source="ess_par"
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in con.execute(
                exact_substring_sql("duckdb", n=8, min_run=10, source="ess_par")
            ).fetchall()
        )
        assert got == want and got
        # the full-doc duplicate must surface as one maximal 23-token run
        assert (0, 3, 0, 0, 23) in got


class TestPngDecode:
    """PNG real-decode hazards: filter reversal, multi-IDAT, CRC, chunk walk
    (pure-Python — no Spark session needed)."""

    def test_roundtrip_matches_spec(self):
        from qradar_restapi_kafka_datapipeline_spark.operators.multimodal import (
            BMP_CHECKSUM_MOD,
            decode_png,
            encode_png,
        )

        for doc_id, text in [(0, "eleven chars"), (1, "y"), (7, "abcdef")]:
            w, h, depth, ctype, n_chunks, cs = decode_png(encode_png(doc_id, text))
            ew, eh = 4 + len(text) % 8, 2 + doc_id % 5
            assert (w, h, depth, ctype) == (ew, eh, 8, 0)
            assert n_chunks == 3 + (doc_id % 3 == 0) + (doc_id % 4 == 0)
            want = sum(
                ((doc_id * 7 + (i // ew) * 13 + (i % ew) * 3) % 256)
                * (1 + i % 97)
                for i in range(ew * eh)
            ) % BMP_CHECKSUM_MOD
            assert cs == want

    def test_multi_idat_concatenation(self):
        """doc_id % 4 == 0 splits the deflate stream across two IDAT chunks —
        a per-chunk inflater would raise; concatenation must decode clean."""
        from qradar_restapi_kafka_datapipeline_spark.operators.multimodal import (
            decode_png,
            encode_png,
        )

        payload = encode_png(8, "split stream doc")
        assert payload.count(b"IDAT") == 2
        w, h, *_ = decode_png(payload)
        assert (w, h) == (4 + len("split stream doc") % 8, 2 + 8 % 5)

    def test_filter_reversal_is_exercised(self):
        """Heights >= 3 cycle through all three filters (None/Sub/Up); a
        decoder treating every scanline as filter-0 must produce a different
        checksum than the spec."""
        from qradar_restapi_kafka_datapipeline_spark.operators.multimodal import (
            BMP_CHECKSUM_MOD,
            encode_png,
        )
        import struct
        import zlib

        doc_id, text = 2, "tall image doc"  # h = 4 → filters 0,1,2,0
        payload = encode_png(doc_id, text)
        w, h = 4 + len(text) % 8, 2 + doc_id % 5
        # inflate and deliberately skip reversal: raw bytes after the filter
        # byte, summed with the same weights
        pos, idat = 8, b""
        while pos + 12 <= len(payload):
            clen = struct.unpack_from(">I", payload, pos)[0]
            if payload[pos + 4 : pos + 8] == b"IDAT":
                idat += payload[pos + 8 : pos + 8 + clen]
            pos += 12 + clen
        stream = zlib.decompress(idat)
        naive = sum(
            stream[y * (w + 1) + 1 + x] * (1 + (y * w + x) % 97)
            for y in range(h)
            for x in range(w)
        ) % BMP_CHECKSUM_MOD
        want = sum(
            ((doc_id * 7 + (i // w) * 13 + (i % w) * 3) % 256) * (1 + i % 97)
            for i in range(w * h)
        ) % BMP_CHECKSUM_MOD
        assert naive != want  # filters really change the byte stream

    def test_crc_and_signature_rejected(self):
        import pytest as _pytest

        from qradar_restapi_kafka_datapipeline_spark.operators.multimodal import (
            decode_png,
            encode_png,
        )

        with _pytest.raises(ValueError, match="not a PNG"):
            decode_png(b"GIF89a not a png")
        bad = bytearray(encode_png(5, "corrupt"))
        bad[20] ^= 0xFF
        with _pytest.raises(ValueError, match="CRC"):
            decode_png(bytes(bad))


class TestJpegDecode:
    def test_jpeg_roundtrip_matches_oracle_formula(self):
        """Encoder hazards (COM, combined DHT, byte stuffing, non-MCU dims)
        across 40 docs: decode must reproduce the SQL oracle's closed-form
        dims/segments/blocks/checksum."""
        from qradar_restapi_kafka_datapipeline_spark.operators.multimodal import (
            BMP_CHECKSUM_MOD,
            _jpeg_dc,
            _jpeg_dims,
            decode_jpeg,
            encode_jpeg,
        )

        for doc_id in range(40):
            text = "y" * (doc_id * 5 + 2)
            w, h, prec, nseg, nblk, chk = decode_jpeg(encode_jpeg(doc_id, text))
            ew, eh = _jpeg_dims(doc_id, text)
            bpr = (ew + 7) // 8
            assert (w, h, prec) == (ew, eh, 8)
            assert nblk == bpr * ((eh + 7) // 8)
            assert nseg == 7 + (doc_id % 3 == 0) - (doc_id % 4 == 0)
            exp = sum(
                (128 + 2 * _jpeg_dc(doc_id, (i // w // 8) * bpr + (i % w) // 8))
                * (1 + i % 97)
                for i in range(w * h)
            )
            assert chk == exp % BMP_CHECKSUM_MOD

    def test_jpeg_decoder_is_general_nonzero_ac_and_zigzag(self):
        """Hand-built single-block JPEG with a nonzero AC coefficient at
        zig-zag index 1: the decoder must place it at natural (0,1), run the
        full IDCT, and match an independent direct-formula IDCT reference —
        proving the AC/zig-zag/IDCT path is genuinely general, not DC-only."""
        import math
        import struct

        import numpy as np

        from qradar_restapi_kafka_datapipeline_spark.operators.multimodal import (
            _BitWriter,
            _JPEG_DC_BITS,
            _JPEG_DC_VALS,
            _jpeg_canonical_codes,
            decode_jpeg,
        )

        ac_bits = [0, 2] + [0] * 14  # two length-2 codes: EOB, (run0,size1)
        ac_vals = [0x00, 0x01]

        def seg(marker, body):
            return struct.pack(">HH", marker, len(body) + 2) + body

        qtab = [16] * 64
        out = b"\xff\xd8"
        out += seg(0xFFDB, bytes([0x00] + qtab))
        out += seg(0xFFC4, bytes([0x00] + _JPEG_DC_BITS + _JPEG_DC_VALS))
        out += seg(0xFFC4, bytes([0x10] + ac_bits + ac_vals))
        out += seg(0xFFC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
        out += seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
        dc = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
        ac = _jpeg_canonical_codes(ac_bits, ac_vals)
        bw = _BitWriter()
        code, ln = dc[4]; bw.put(code, ln); bw.put(10, 4)      # DC = +10
        code, ln = ac[0x01]; bw.put(code, ln); bw.put(1, 1)    # AC zz1 = +1
        code, ln = ac[0x00]; bw.put(code, ln)                  # EOB
        payload = out + bw.flush() + b"\xff\xd9"

        w, h, prec, nseg, nblk, chk = decode_jpeg(payload)
        assert (w, h, prec, nblk) == (8, 8, 8, 1)

        # independent reference: direct IDCT formula, natural F[0,0]=160, F[0,1]=16
        def c(u):
            return 1 / math.sqrt(2) if u == 0 else 1.0

        ref = np.zeros((8, 8))
        F = {(0, 0): 160.0, (0, 1): 16.0}
        for y in range(8):
            for x in range(8):
                s = sum(
                    c(u) * c(v) * val
                    * math.cos((2 * x + 1) * v * math.pi / 16)
                    * math.cos((2 * y + 1) * u * math.pi / 16)
                    for (u, v), val in F.items()
                )
                ref[y, x] = s / 4
        px = np.clip(np.rint(ref + 128), 0, 255).astype(int)
        exp = int(
            sum(px[y, x] * (1 + (y * 8 + x) % 97) for y in range(8) for x in range(8))
        )
        from qradar_restapi_kafka_datapipeline_spark.operators.multimodal import (
            BMP_CHECKSUM_MOD,
        )

        assert chk == exp % BMP_CHECKSUM_MOD
        assert len(set(px[0])) > 1  # the AC coefficient really shaped row 0


class TestPQ:
    """Product quantization + ADC (round 5): approximation quality vs the
    exact dot-product truth, code validity, and frozen-codebook reuse."""

    def test_adc_score_approximates_true_dot(self, spark, sf_dir, tmp_path):
        import numpy as np

        from qradar_restapi_kafka_datapipeline_spark.operators.similarity import (
            knn_pq_adc,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        emb.createOrReplaceTempView("embeddings")
        art = str(tmp_path / "books")
        got = knn_pq_adc(spark, art, query_max=3, k=10).collect()
        assert got and all(1 <= r["rk"] <= 10 for r in got)
        vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
                for r in emb.collect()}
        # ADC reconstructs dot(q, v) from m=16 codes: distortion stays well
        # under the score scale even on this worst-case random corpus
        # (measured mean err ≈ 0.05 at |dot| up to ~0.4)
        errs = [abs(float(np.dot(vecs[r["q_id"]], vecs[r["n_id"]])) - r["score"])
                for r in got]
        assert max(errs) < 0.2 and sum(errs) / len(errs) < 0.08

    def test_adc_retrieves_clusters_on_clustered_data(self, spark, tmp_path):
        """The honest quality contract: on CLUSTERED vectors (the real-world
        shape — random vectors have no structure for the codebooks to learn)
        ADC top-9 must recover a query's entire perturbed-copy cluster.
        Measured 9/9 for every query at m=8 and m=16."""
        import numpy as np

        from qradar_restapi_kafka_datapipeline_spark.operators.similarity import (
            knn_pq_adc,
        )

        rng = np.random.RandomState(7)
        rows, vid = [], 0
        for b in rng.randn(50, 64):
            for _c in range(10):
                v = b + 0.15 * rng.randn(64)
                v = v / np.linalg.norm(v)
                rows.append((vid, [float(x) for x in v]))
                vid += 1
        spark.createDataFrame(
            rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
        ).createOrReplaceTempView("embeddings")
        art = str(tmp_path / "books")
        got = knn_pq_adc(spark, art, query_max=3, k=9).collect()
        for q in range(3):
            cluster = {n for n in range(q // 10 * 10, q // 10 * 10 + 10)
                       if n != q}
            adc = {r["n_id"] for r in got if r["q_id"] == q}
            assert adc == cluster, (q, sorted(adc))

    def test_frozen_codebooks_reused_without_retrain(self, spark, sf_dir, tmp_path):
        from qradar_restapi_kafka_datapipeline_spark.operators.similarity import (
            knn_pq_adc,
            train_pq_codebooks,
            write_pq_codebooks,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        emb.createOrReplaceTempView("embeddings")
        art = str(tmp_path / "books")
        write_pq_codebooks(spark, train_pq_codebooks(emb), art)
        a = sorted(map(tuple, knn_pq_adc(spark, art, retrain=False).collect()))
        b = sorted(map(tuple, knn_pq_adc(spark, art, retrain=False).collect()))
        assert a == b and a  # deterministic serving off the frozen artifact

    def test_train_rejects_indivisible_dim(self, spark, sf_dir):
        import pytest as _pytest

        from qradar_restapi_kafka_datapipeline_spark.operators.similarity import (
            train_pq_codebooks,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        with _pytest.raises(ValueError, match="divisible"):
            train_pq_codebooks(emb, m=7)


def test_ivfpq_retrieves_clusters_end_to_end(spark, tmp_path):
    """IVF-PQ composition on clustered vectors: the pruned + compressed
    serve path must still recover a query's perturbed-copy cluster (probe
    selection finds the right lists, ADC ranks the right members)."""
    import numpy as np

    from qradar_restapi_kafka_datapipeline_spark.operators.similarity import (
        build_ivfpq_index,
        knn_ivfpq_from_index,
    )

    rng = np.random.RandomState(11)
    rows, vid = [], 0
    for b in rng.randn(30, 64):
        for _c in range(10):
            v = b + 0.15 * rng.randn(64)
            v = v / np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    emb.createOrReplaceTempView("embeddings")
    base = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, emb, base)
    got = knn_ivfpq_from_index(spark, base, dim=64, nprobe=4, query_max=3,
                               k=9).collect()
    for q in range(3):
        cluster = {n for n in range(q // 10 * 10, q // 10 * 10 + 10) if n != q}
        found = {r["n_id"] for r in got if r["q_id"] == q}
        # nprobe=4 of 16 lists: the query's own cluster list is always
        # probed; allow an edge member to straddle a list boundary
        assert len(found & cluster) >= 7, (q, sorted(found))


class TestDecontamination:
    """Train docs that leak eval shingles above the rate are dropped."""

    def _docs(self, spark):
        leak = "alpha beta gamma delta epsilon zeta"
        rows = [
            (0, leak, "s", "en"),                       # eval doc
            (1, leak + " eta theta", "s", "en"),        # train, heavy overlap
            (2, "one two three four five six seven", "s", "en"),  # clean
            (3, "alpha beta gamma nine ten eleven twelve", "s", "en"),  # light
            (5, "totally unrelated words here present now", "s", "en"),
        ]
        return spark.createDataFrame(
            rows, "doc_id BIGINT, text STRING, source STRING, lang STRING"
        )

    def test_flags_leaking_train_docs(self, spark):
        from qradar_restapi_kafka_datapipeline_spark.operators.contamination import (
            decontaminate_train,
        )

        docs = self._docs(spark)
        kept = {r["doc_id"] for r in decontaminate_train(docs).collect()}
        # docs 0 and 5 are the eval split (%5==0); train doc 1 leaks 4/6
        # distinct shingles of eval doc 0 → flagged; 2 and 3 survive
        assert kept == {2, 3}


class TestClusterRepresentatives:
    def test_rep_is_max_quality_tie_broken_by_min_id(self, spark):
        from qradar_restapi_kafka_datapipeline_spark.operators.dedup import (
            cluster_representatives,
        )

        # quality_score favors longer text with stopwords; doc 11 is the
        # clearly-best member of cluster {10, 11, 12}; 20/21 tie exactly
        # (identical text) so min id 20 must win.
        long_good = (
            "the quick brown fox and the lazy dog of the meadow ran to a "
            "stream and the day was long and the grass was soft. " * 6
        )
        rows = [
            (10, "short junk", "s", "en"),
            (11, long_good, "s", "en"),
            (12, "middling text the and of a to here", "s", "en"),
            (20, long_good, "s", "en"),
            (21, long_good, "s", "en"),
        ]
        docs = spark.createDataFrame(
            rows, "doc_id BIGINT, text STRING, source STRING, lang STRING"
        )
        pairs = spark.createDataFrame(
            [(10, 11), (11, 12), (20, 21)], "id_a BIGINT, id_b BIGINT"
        )
        got = {
            r["cluster_id"]: r for r in cluster_representatives(docs, pairs).collect()
        }
        assert got[10]["rep_doc_id"] == 11 and got[10]["n_members"] == 3
        assert got[20]["rep_doc_id"] == 20 and got[20]["n_members"] == 2


class TestCcnetBuckets:
    def test_terciles_balanced_and_ordered(self, spark):
        from qradar_restapi_kafka_datapipeline_spark.operators.text import (
            ccnet_buckets_sql,
        )

        # 12 docs: repeated formulaic bigrams (high loglik) vs token salad
        rows = [(i, "the cat sat on the mat and the cat sat", "s", "en") for i in range(4)]
        rows += [(10 + i, f"one two three four five six seven w{i}", "s", "en") for i in range(4)]
        rows += [(20 + i, f"zz{i} qq{i} jj{i} xx{i} vv{i} kk{i}", "s", "en") for i in range(4)]
        spark.createDataFrame(
            rows, "doc_id BIGINT, text STRING, source STRING, lang STRING"
        ).createOrReplaceTempView("__ccnet_docs")
        out = spark.sql(ccnet_buckets_sql("spark", source="__ccnet_docs")).collect()
        by_bucket = {}
        for r in out:
            by_bucket.setdefault(r["ccnet_bucket"], []).append(r)
        assert {len(v) for v in by_bucket.values()} == {4}
        avg = {
            b: sum(r["mean_bigram_loglik"] for r in v) / len(v)
            for b, v in by_bucket.items()
        }
        assert avg["head"] > avg["middle"] > avg["tail"]
        # the formulaic docs are the head
        assert {r["doc_id"] for r in by_bucket["head"]} == {0, 1, 2, 3}


class TestVolumeAnomalySql:
    def test_spike_scores_positive_steady_scores_zero(self, spark):
        from qradar_restapi_kafka_datapipeline_spark.streaming.rollup_stream import (
            volume_anomaly_sql,
        )

        rows = []
        for h in range(30):
            # non-constant history (zero variance would NULL every z via the
            # NULLIF guard); one 1000-volume spike in the last hour
            n = 1000 if h == 29 else 10 + (h % 3)
            rows.append((f"2024-01-01 {h % 24:02d}:00:00", "A", h, n))
        spark.createDataFrame(
            rows, "hs STRING, eventName STRING, hidx BIGINT, n BIGINT"
        ).createOrReplaceTempView("__vol_hourly")
        out = spark.sql(
            volume_anomaly_sql(
                "SELECT timestamp(hs) + make_interval(0,0,0,0,CAST(hidx DIV 24 AS INT)*24) AS h,"
                " eventName, n FROM __vol_hourly"
            )
        ).collect()
        z = {r["hour"]: r["z"] for r in out}
        spike = max(z, key=lambda k: z[k])
        assert z[spike] > 100.0
        steady = [v for k, v in z.items() if k != spike]
        assert steady and all(abs(v) < 3.0 for v in steady)


class TestMmrDiversify:
    def test_mmr_breaks_up_redundant_cluster(self, spark):
        """Corpus: a tight near-duplicate cluster close to the query plus
        spread-out singles. Plain top-k fills with the cluster; MMR must
        interleave the diverse singles after one cluster pick."""
        import numpy as np

        from qradar_restapi_kafka_datapipeline_spark.operators.similarity import (
            knn_bruteforce,
            mmr_diversify,
        )

        rng = np.random.RandomState(7)
        base = rng.randn(8)
        rows = [(0, [float(x) for x in base / np.linalg.norm(base)])]
        # ids 1-4: one near-dup cluster hugging the query
        for i in range(1, 5):
            v = base + 0.01 * rng.randn(8)
            rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
        # ids 10-13: distinct directions, still positively correlated
        for j in range(4):
            v = base + 2.5 * rng.randn(8)
            rows.append((10 + j, [float(x) for x in v / np.linalg.norm(v)]))
        emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")

        plain = [
            r["n_id"]
            for r in knn_bruteforce(emb, query_ids=[0], k=4)
            .orderBy("rk")
            .collect()
        ]
        assert set(plain) == {1, 2, 3, 4}  # redundant fill

        got = (
            mmr_diversify(emb, query_id=0, pool_k=8, k=4, lam=0.5, lam_comp=0.5)
            .orderBy("rk")
            .collect()
        )
        picks = [r["n_id"] for r in got]
        assert picks[0] == plain[0]  # first pick is pure relevance
        assert len([p for p in picks if p >= 10]) >= 2  # diversity enforced
        assert [r["rk"] for r in got] == [1, 2, 3, 4]


class TestChunkDocuments:
    """Sliding-window chunking invariants (round 7): full coverage, exact
    overlap, correct window count, text reassembly in position order."""

    def test_window_structure(self, spark, docs):
        from qradar_restapi_kafka_datapipeline_spark.operators.text import (
            chunk_documents_sql,
        )

        docs.createOrReplaceTempView("__chunk_docs")
        size, stride = 6, 4  # small windows so the tiny fixture multi-chunks
        chunks = {}
        for r in spark.sql(
            chunk_documents_sql("spark", size, stride, source="__chunk_docs")
        ).collect():
            chunks.setdefault(r["doc_id"], []).append(
                (r["chunk_start"], r["n_tokens"], r["chunk_text"])
            )
        texts = {
            r["doc_id"]: r["text"].strip().split() for r in docs.collect()
        }
        assert set(chunks) == set(texts)
        for did, toks in texts.items():
            n = len(toks)
            got = sorted(chunks[did])
            # one window at every stride multiple below n
            assert [s for s, _, _ in got] == list(range(0, n, stride))
            for s, ntok, text in got:
                want = toks[s:s + size]
                assert ntok == len(want)
                assert text.split(" ") == want  # exact ordered reassembly
            # consecutive full windows overlap by exactly size - stride
            for (s1, n1, _), (s2, _, _) in zip(got, got[1:]):
                assert s2 - s1 == stride
                if n1 == size:
                    assert (s1 + n1) - s2 == size - stride

    def test_degenerate_params_rejected(self, spark):
        import pytest as _pytest

        from qradar_restapi_kafka_datapipeline_spark.operators.text import (
            chunk_documents_sql,
        )

        with _pytest.raises(ValueError):
            chunk_documents_sql("spark", size=0, stride=4)
        with _pytest.raises(ValueError):
            chunk_documents_sql("spark", size=8, stride=0)


def test_chunk_composite_id_guard_raises_on_radix_overflow(spark):
    """ADVICE r8: the composite chunk id (doc_id·CHUNK_ID_MULT +
    chunk_start) must RAISE on a chunk_start at/over the radix instead of
    silently colliding with another document's chunks — in BOTH engines.
    A legal chunk_start must still compose and decompose exactly."""
    import duckdb
    from qradar_restapi_kafka_datapipeline_spark.operators.text import (
        CHUNK_ID_MULT,
        _chunk_composite_rel,
    )

    def lit_rel(start: int) -> str:
        return (
            f"(SELECT CAST(7 AS BIGINT) AS doc_id, "
            f"CAST({start} AS BIGINT) AS chunk_start, 'a b' AS chunk_text)"
        )

    # legal path: guard adds 0, id composes exactly
    ok = spark.sql(
        "SELECT doc_id FROM "
        + _chunk_composite_rel("spark", 64, 48, "x", chunks_rel=lit_rel(42))
        + " t"
    ).first()
    assert ok["doc_id"] == 7 * CHUNK_ID_MULT + 42
    assert duckdb.sql(
        "SELECT doc_id FROM "
        + _chunk_composite_rel("duckdb", 64, 48, "x", chunks_rel=lit_rel(42))
        + " t"
    ).fetchone()[0] == 7 * CHUNK_ID_MULT + 42

    # overflow path: both engines raise, neither emits a colliding id
    with pytest.raises(Exception, match="(?i)overflow"):
        spark.sql(
            "SELECT doc_id FROM "
            + _chunk_composite_rel(
                "spark", 64, 48, "x", chunks_rel=lit_rel(CHUNK_ID_MULT)
            )
            + " t"
        ).collect()
    with pytest.raises(Exception, match="(?i)overflow"):
        duckdb.sql(
            "SELECT doc_id FROM "
            + _chunk_composite_rel(
                "duckdb", 64, 48, "x", chunks_rel=lit_rel(CHUNK_ID_MULT)
            )
            + " t"
        ).fetchall()


def test_chunk_knn_retrieves_own_and_near_dup_chunks(spark, sf_dir):
    """RAG composition sanity on the real corpus: the query doc's own
    chunk ranks first at cosine ~1, near-dup docs' chunks rank above the
    random-pair noise floor, and every returned id decomposes into a
    valid (doc, chunk_start) pair."""
    from qradar_restapi_kafka_datapipeline_spark.operators.text import chunk_knn
    from qradar_restapi_kafka_datapipeline_spark.sources.registry import load_tables

    load_tables(spark, sf_dir)
    rows = chunk_knn(spark, query_doc=0, k=10).collect()
    assert rows and rows[0]["chunk_doc_id"] == 0 and rows[0]["cos"] >= 0.999
    for r in rows:
        assert r["chunk_start"] % 48 == 0 and r["cos"] <= 1.0
    # scores are sorted and the tail sits below the head
    cs = [r["cos"] for r in rows]
    assert cs == sorted(cs, reverse=True)


class TestIvfpqRecallContract:
    """Round 10 (VERDICT r9 #5): measured recall@k floors for the
    persisted IVF-PQ serving family vs the exact brute-force cosine
    truth.  The gate's static oracle proves the ADC pipeline computes
    its own spec; THESE pin how well that spec retrieves.  Floors sit
    with margin under measured behavior (DESIGN.md round-10 recall
    table: ADC@3 0.27-0.40, pool@20 0.43-0.55, refined@3 0.80-0.97
    across sf0.001-sf0.1 and 16x) so a probe/codebook/ADC/refine
    regression fails without data-scale flakiness."""

    @pytest.fixture(scope="class")
    def ivfpq_index(self, spark, sf_dir, tmp_path_factory):
        from qradar_restapi_kafka_datapipeline_spark.operators.similarity import (
            build_ivfpq_index,
        )
        from qradar_restapi_kafka_datapipeline_spark.sources.registry import (
            load_tables,
        )

        load_tables(spark, sf_dir)
        base = str(tmp_path_factory.mktemp("ivfpq_recall") / "index")
        build_ivfpq_index(spark, spark.table("embeddings"), base)
        return base

    def _recall(self, spark, base, **kw):
        from qradar_restapi_kafka_datapipeline_spark.operators.similarity import (
            ivfpq_recall_report,
        )

        row = ivfpq_recall_report(spark, base, dim=64, **kw).first()
        assert row["n_queries"] == 10
        return row["avg_recall"]

    def test_adc_raw_recall_floor(self, spark, ivfpq_index):
        # raw 64-bit-code ADC ranking: the floor documents the measured
        # quality of the UNREFINED serve (it is deliberately low — the
        # codes blur near-ties; knn_ivfpq_refined is the production path)
        assert self._recall(spark, ivfpq_index, k=3) >= 0.15

    def test_mmr_pool_recall_floor(self, spark, ivfpq_index):
        # k=20 IS knn_mmr_ivfpq's candidate pool (its pool comes from the
        # same ADC serve), so this floor bounds the MMR entry's input
        assert self._recall(spark, ivfpq_index, k=20) >= 0.3

    def test_refined_recall_floor(self, spark, ivfpq_index):
        # the FAISS refine step (ADC top-60 re-ranked by exact cosine)
        # must recover recall toward the probe ceiling (~0.87 measured)
        assert self._recall(spark, ivfpq_index, k=3, refine_k=60) >= 0.6

    def test_refined_beats_raw_adc(self, spark, ivfpq_index):
        raw = self._recall(spark, ivfpq_index, k=3)
        refined = self._recall(spark, ivfpq_index, k=3, refine_k=60)
        assert refined >= raw


class TestAutoIvfGeometry:
    """Round 10: nlist="auto" (∝ √n, floored at 16) — the constant
    per-query-cost geometry.  Measured at 16× (DESIGN.md): refined@3
    recall 0.60 → 0.70 while probing 4/179 lists instead of 4/16 (~11×
    fewer codes scanned) — fixed geometry dilutes, √n holds."""

    def test_auto_nlist_values(self):
        from qradar_restapi_kafka_datapipeline_spark.operators.similarity import (
            auto_nlist,
        )

        assert auto_nlist(0) == 16
        assert auto_nlist(256) == 16        # floor
        assert auto_nlist(2_000) == 45      # sf0.1 corpus
        assert auto_nlist(32_000) == 179    # 16x
        assert auto_nlist(10 ** 12) == 10 ** 6  # the 100-TB posture

    def test_auto_build_and_serve(self, spark, sf_dir, tmp_path):
        from qradar_restapi_kafka_datapipeline_spark.operators.similarity import (
            build_ivfpq_index,
            knn_ivfpq_from_index,
        )
        from qradar_restapi_kafka_datapipeline_spark.sources.registry import (
            load_tables,
        )

        load_tables(spark, sf_dir)
        base = str(tmp_path / "auto_idx")
        build_ivfpq_index(
            spark, spark.table("embeddings"), base, n_centroids="auto"
        )
        n_lists = (
            spark.read.parquet(f"{base}/centroids").count()
        )
        n_vecs = spark.table("embeddings").count()
        from qradar_restapi_kafka_datapipeline_spark.operators.similarity import (
            auto_nlist,
        )

        assert n_lists == auto_nlist(n_vecs)
        rows = knn_ivfpq_from_index(
            spark, base, dim=64, refine_k=60
        ).collect()
        assert len(rows) == 9  # 3 queries x top-3
        assert all(r["rk"] <= 3 and r["cos"] <= 1.0 for r in rows)

    def test_auto_geometry_refined_recall_floor(self, spark, sf_dir, tmp_path):
        """Round 11 (VERDICT r10 #2): the √n-built index must serve
        refined recall at least as the fixed-16 floor — auto geometry is
        the default posture, so it carries the same contract the pinned
        gate geometry does (measured: auto ≥ fixed at matched scan
        budget, BASELINE.md round-11 table)."""
        from qradar_restapi_kafka_datapipeline_spark.operators.similarity import (
            build_ivfpq_index,
            ivfpq_recall_report,
        )
        from qradar_restapi_kafka_datapipeline_spark.sources.registry import (
            load_tables,
        )

        load_tables(spark, sf_dir)
        base = str(tmp_path / "auto_recall")
        build_ivfpq_index(
            spark, spark.table("embeddings"), base, n_centroids="auto"
        )
        row = ivfpq_recall_report(
            spark, base, dim=64, query_max=10, k=3, refine_k=60
        ).first()
        assert row["n_queries"] == 10
        assert row["avg_recall"] >= 0.6

    def test_rebalance_adopts_auto_geometry(self, spark, sf_dir, tmp_path):
        """Round 11 (VERDICT r10 #2): the rebuild is the moment the index
        escapes its stale geometry — build fixed-16, grow it with a
        frozen-quantizer append, rebalance with the DEFAULT args, and
        the retrained quantizer must hold √n lists, with the serve path
        working unchanged over the new layout."""
        from qradar_restapi_kafka_datapipeline_spark.operators.similarity import (
            append_to_ivf_index,
            auto_nlist,
            build_ivf_index,
            knn_ivf_from_index,
            rebalance_ivf_index,
        )
        from qradar_restapi_kafka_datapipeline_spark.sources.registry import (
            load_tables,
        )

        load_tables(spark, sf_dir)
        emb = spark.table("embeddings")
        base = str(tmp_path / "rebal_auto")
        build_ivf_index(spark, emb.where("vec_id % 7 != 0"), base,
                        n_centroids=16)
        assert spark.read.parquet(f"{base}/centroids").count() == 16
        append_to_ivf_index(spark, base, emb.where("vec_id % 7 = 0"))
        n = rebalance_ivf_index(spark, base)  # default: adopt √n
        n_lists = spark.read.parquet(f"{base}/centroids").count()
        assert n_lists == auto_nlist(n)
        assert n_lists > 16  # the corpus outgrew the fixed default
        rows = knn_ivf_from_index(
            spark, base, emb.where("vec_id < 10"), k=3
        ).collect()
        assert len(rows) == 30 and all(r["rk"] <= 3 for r in rows)


class TestVideoContainer:
    """Round 10: the video container member of the real-decode family —
    parse honesty (magic/truncation/trailing-byte rejection), per-frame
    fill variation, and SEEK honesty: the sampler must skip unsampled
    frames via length prefixes WITHOUT parsing them."""

    def test_round_trip_all_frames(self):
        from qradar_restapi_kafka_datapipeline_spark.operators.multimodal import (
            BMP_CHECKSUM_MOD,
            decode_video_frame_samples,
            encode_video,
        )

        for doc_id, text in ((0, ""), (3, "abc def"), (17, "x" * 23)):
            payload = encode_video(doc_id, text)
            w = 4 + len(text) % 8
            h = 2 + doc_id % 5
            n = 2 + doc_id % 4
            frames = decode_video_frame_samples(payload, every_nth=1)
            assert [f[0] for f in frames] == list(range(n))
            for idx, fw, fh, psum in frames:
                assert (fw, fh) == (w, h)
                want = ((doc_id + 7 * idx) % 256) * 3 * w * h
                assert psum == want % BMP_CHECKSUM_MOD

    def test_sampling_geometry(self):
        from qradar_restapi_kafka_datapipeline_spark.operators.multimodal import (
            decode_video_frame_samples,
            encode_video,
        )

        payload = encode_video(3, "five frames here")  # n_frames = 5
        for nth, want in ((1, [0, 1, 2, 3, 4]), (2, [0, 2, 4]),
                          (3, [0, 3]), (7, [0])):
            got = [f[0] for f in decode_video_frame_samples(payload, nth)]
            assert got == want, (nth, got)

    def test_malformed_payloads_raise(self):
        import pytest as _pytest

        from qradar_restapi_kafka_datapipeline_spark.operators.multimodal import (
            decode_video_frame_samples,
            encode_video,
        )

        good = encode_video(1, "abc")
        with _pytest.raises(ValueError):
            decode_video_frame_samples(b"XXXX" + good[4:])
        with _pytest.raises(ValueError):
            decode_video_frame_samples(good[:-5])       # truncated frame
        with _pytest.raises(ValueError):
            decode_video_frame_samples(good + b"\x00")  # trailing bytes

    def test_seek_skips_unsampled_frames(self):
        """Corrupting an UNSAMPLED frame's pixel bytes must not disturb
        sampling (the seek never parses it); corrupting a SAMPLED frame's
        magic must raise — together these prove the kernel really seeks
        instead of decoding everything."""
        import struct

        import pytest as _pytest

        from qradar_restapi_kafka_datapipeline_spark.operators.multimodal import (
            decode_video_frame_samples,
            encode_video,
        )

        doc_id, text = 3, "five frames here"   # 5 frames, idx 1 unsampled
        payload = bytearray(encode_video(doc_id, text))
        # walk to frame 1's offset via the same length prefixes
        off = 12
        offsets = []
        for _ in range(5):
            ln = struct.unpack_from("<I", bytes(payload), off)[0]
            offsets.append((off + 4, ln))
            off += 4 + ln
        clean = decode_video_frame_samples(bytes(encode_video(doc_id, text)), 2)
        f1, l1 = offsets[1]
        payload[f1 + 60:f1 + 64] = b"\xff\xff\xff\xff"  # pixel bytes of idx 1
        assert decode_video_frame_samples(bytes(payload), 2) == clean
        f2, _ = offsets[2]
        payload2 = bytearray(encode_video(doc_id, text))
        payload2[f2:f2 + 2] = b"XX"                     # magic of SAMPLED idx 2
        with _pytest.raises(ValueError):
            decode_video_frame_samples(bytes(payload2), 2)
