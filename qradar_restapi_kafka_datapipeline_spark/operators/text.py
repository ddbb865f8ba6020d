"""Text-analysis operators for training-data pipelines (north-star M6).

Language-ID (n-gram/stopword heuristic), quality scoring, token counting, and
document fingerprinting over a text column — the building blocks an LLM data
pipeline runs across billions of documents.

Design: each op is an SQL expression builder valid in BOTH Spark SQL and DuckDB
(single source of truth; the oracle can't drift), exposed to DataFrame users as
Column functions via ``F.expr``.  Everything is built-in string/array functions
— JVM-side, whole-stage-codegen, no Python in the row path — so the ops scale
to a 100 TB corpus exactly like any other projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from qradar_restapi_kafka_datapipeline_spark.engine import local_relation
from qradar_restapi_kafka_datapipeline_spark.parts import (
    anti_join,
    anti_join_sql,
    append_tombstones,
    delete,
    epoch_path,
    exists,
    heal_swap,
    most_severe,
    read_tombstones,
    replay_epochs,
    require_live,
    swap_dir,
    tombstone_log,
)

# ---------------------------------------------------------------------------
# language ID — marker-phrase counting (deterministic heuristic)
# ---------------------------------------------------------------------------

_LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "es": [" el ", " la ", " los ", " y "],
    "fr": [" le ", " les ", " et ", " des "],
    "de": [" der ", " und ", " die ", " nicht "],
}


def _count_expr(col: str, marker: str) -> str:
    m = marker.replace("'", "''")
    return f"((length({col}) - length(replace({col}, '{m}', ''))) / {len(marker)})"


def lang_score_sql(col: str, lang: str) -> str:
    return "(" + " + ".join(_count_expr(col, m) for m in _LANG_MARKERS[lang]) + ")"


def lang_id_sql(col: str) -> str:
    """Argmax over marker scores; deterministic tie-break by fixed order."""
    scores = {lang: lang_score_sql(col, lang) for lang in _LANG_MARKERS}
    branches = []
    langs = list(_LANG_MARKERS)
    for i, lang in enumerate(langs):
        others = [
            (f">= {scores[o]}" if j > i else f"> {scores[o]}")
            for j, o in enumerate(langs)
            if o != lang
        ]
        cond = " AND ".join(f"{scores[lang]} {o}" for o in others)
        branches.append(f"WHEN {scores[lang]} > 0 AND {cond} THEN '{lang}'")
    return "(CASE " + " ".join(branches) + " ELSE 'und' END)"


def lang_id(col: str = "text") -> Column:
    return F.expr(lang_id_sql(col))


# ---------------------------------------------------------------------------
# token counting — whitespace + a BPE-ish estimate
# ---------------------------------------------------------------------------

def word_count_sql(col: str, dialect: str) -> str:
    if dialect == "spark":
        return f"size(split(trim({col}), '\\\\s+'))"
    return f"len(regexp_split_to_array(trim({col}), '\\s+'))"


def bpe_token_estimate_sql(col: str) -> str:
    """~1 token per 4 chars, floor at word count — the standard rough estimate."""
    return f"CAST(ceil(length({col}) / 4.0) AS BIGINT)"


# BPE pre-tokenizer-shaped split (GPT-2-style coarse classes: letter runs,
# digit runs, single non-space symbols).  RE2 ∩ java.util.regex, so the ONE
# pattern drives Spark and the DuckDB oracle identically.
_TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]"


def regex_token_count_sql(col: str, dialect: str) -> str:
    """Count of BPE-pre-tokenizer-style tokens — a sharper proxy than chars/4
    (letter runs later split into subwords; digits and punctuation are mostly
    one token each)."""
    if dialect == "spark":
        pat = _TOKEN_PATTERN.replace("\\", "\\\\")
        return f"CAST(size(regexp_extract_all({col}, '{pat}', 0)) AS BIGINT)"
    return f"CAST(len(regexp_extract_all({col}, '{_TOKEN_PATTERN}')) AS BIGINT)"


def word_count(col: str = "text") -> Column:
    return F.expr(word_count_sql(col, "spark"))


def bpe_token_estimate(col: str = "text") -> Column:
    return F.expr(bpe_token_estimate_sql(col))


# ---------------------------------------------------------------------------
# quality scoring — length / punctuation / stopword ratios
# ---------------------------------------------------------------------------

def quality_score_sql(col: str, dialect: str) -> str:
    """Composite [0,1]-ish quality score, ROUND(…, 4) for cross-engine hashing.

    Components (all deterministic integer/char counts):
    - length_score: saturating chars/2000
    - stopword_ratio: en-stopword hits per word (junk text scores ~0)
    - punct_penalty: '.'+','+';' density beyond 10% of chars
    """
    words = word_count_sql(col, dialect)
    stops = "(" + " + ".join(
        _count_expr(col, m) for m in (" the ", " and ", " of ", " a ", " to ")
    ) + ")"
    punct = (
        f"(length({col}) - length(replace(replace(replace({col}, '.', ''), "
        f"',', ''), ';', '')))"
    )
    length_score = f"LEAST(length({col}) / 2000.0, 1.0)"
    stop_score = f"LEAST({stops} * 5.0 / {words}, 1.0)"
    punct_pen = f"GREATEST({punct} * 1.0 / GREATEST(length({col}), 1) - 0.1, 0.0)"
    # +1e-9 pushes exact half-way values (e.g. len 87 → 0.02175) off the 4 dp
    # rounding boundary, where Spark and DuckDB round in opposite directions.
    return f"ROUND(0.5 * {length_score} + 0.5 * {stop_score} - {punct_pen} + 1e-9, 4)"


def quality_score(col: str = "text") -> Column:
    return F.expr(quality_score_sql(col, "spark"))


# ---------------------------------------------------------------------------
# fingerprints — md5 of normalized text + polynomial rolling hash
# ---------------------------------------------------------------------------

def normalized_md5_sql(col: str, dialect: str) -> str:
    """md5 of lower-cased whitespace-collapsed text (exact-dup fingerprint)."""
    if dialect == "spark":
        norm = f"regexp_replace(lower(trim({col})), '\\\\s+', ' ')"
    else:
        norm = f"regexp_replace(lower(trim({col})), '\\s+', ' ', 'g')"
    return f"md5({norm})"


def portable_hash60_sql(dialect: str, expr: str) -> str:
    """THE canonical dual-dialect 60-bit portable hash: first 15 hex chars of
    md5 as a BIGINT — one definition (``operators/dedup.py``'s
    ``_passage_hash`` delegates here) so a precision tweak can never break
    cross-engine parity between call sites."""
    if dialect == "spark":
        return f"CAST(CONV(SUBSTR(MD5({expr}), 1, 15), 16, 10) AS BIGINT)"
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def token_positions_sql(
    dialect: str, source: str = "documents", text_col: str = "text"
) -> str:
    """``(doc_id, pos, word)`` — 0-based whitespace-token positions, EVERY
    doc (splitting '' yields [''] in both engines, so even empty docs keep
    one row and row-count parity holds).  THE shared tokenization relation:
    the positional fingerprint and the exact-substring removal stage both
    build on it — per CLAUDE.md, writing per-engine split logic twice is how
    parity breaks."""
    if dialect == "spark":
        return (
            f"SELECT doc_id, posexplode(w) AS (pos, word) FROM "
            f"(SELECT doc_id, split(trim({text_col}), '\\\\s+') AS w "
            f"FROM {source}) d"
        )
    if dialect == "duckdb":
        return (
            f"SELECT doc_id, i - 1 AS pos, w[i] AS word FROM "
            f"(SELECT doc_id, regexp_split_to_array(trim({text_col}), '\\s+') "
            f"AS w FROM {source}) d, "
            f"UNNEST(generate_series(1, len(w))) AS u(i)"
        )
    raise ValueError(f"unknown dialect {dialect!r}")


def positional_fingerprint_sql(
    dialect: str, source: str = "documents", text_col: str = "text"
) -> str:
    """Order-sensitive document fingerprint, fully relational (VERDICT r2 #6).

    ``fp_pos`` = Σ over words of H60(word ‖ '@' ‖ position) mod 1e9+7 — the
    position is baked into each term's hash input, so permuting words changes
    the fingerprint (the property the retired char-level polynomial fold
    provided), while the combination stays a plain SUM: explode + groupBy,
    map-side partial aggregation, whole-stage codegen.  The retired form was
    ``aggregate(transform(split(col, '')))`` — a per-CHARACTER interpreted
    higher-order lambda, the exact pitfall CLAUDE.md documents (and the
    slowest expression shape Spark offers).

    H60 is the repo's portable md5-derived 60-bit hash (the
    ``PORTABLE_TOKEN_HASH`` family in ``operators/dedup.py``), so DuckDB
    reproduces each term bit-for-bit.  Each term is < 2^30 after the mod, so
    BIGINT overflow would need > 2^33 words in one document — orders of
    magnitude above any real input.

    Returns the complete per-doc relation ``(doc_id, fp_pos)``; every doc
    emits exactly one row (splitting '' yields [''], never an empty array,
    in both engines).
    """
    tok = token_positions_sql(dialect, source, text_col)
    if dialect == "spark":
        return f"""
        WITH t AS ({tok})
        SELECT doc_id,
               SUM(CAST(CONV(SUBSTR(MD5(CONCAT(word, '@', pos)), 1, 15),
                   16, 10) AS BIGINT) % 1000000007) % 1000000007 AS fp_pos
        FROM t GROUP BY doc_id
        """
    if dialect == "duckdb":
        return f"""
        WITH t AS ({tok})
        SELECT doc_id,
               CAST(SUM(CAST(('0x' || substr(md5(word || '@' || pos), 1, 15))
                    AS BIGINT) % 1000000007) % 1000000007 AS BIGINT) AS fp_pos
        FROM t GROUP BY doc_id
        """
    raise ValueError(f"unknown dialect {dialect!r}")


def normalized_md5(col: str = "text") -> Column:
    return F.expr(normalized_md5_sql(col, "spark"))


# ---------------------------------------------------------------------------
# repetition stats — Gopher-style quality signals (dup words, top bigram)
# ---------------------------------------------------------------------------

def repetition_stats_sql(dialect: str, source: str = "documents") -> str:
    """Per-document repetition signals (Rae et al. 2021 'Gopher' rules §A1.1,
    token-count flavor): ``dup_word_frac`` = 1 − distinct/total words, and
    ``top_bigram_frac`` = share of tokens covered by the most frequent word
    bigram (capped at 1).  High values flag boilerplate/spam for the curation
    funnel.

    One dialect-common body: per-doc explode → two aggregates, both shuffling
    only (doc_id, token-or-bigram) pairs partitioned by doc — the same
    distribution contract as the dedup shingle pipeline.
    """
    if dialect == "spark":
        split = "split(trim(text), '\\\\s+')"
        tok_src = f"SELECT doc_id, explode(w) AS tok FROM w"
        bg_src = (
            "SELECT doc_id, concat_ws(' ', try_element_at(w, CAST(i + 1 AS INT)), "
            "try_element_at(w, CAST(i + 2 AS INT))) AS bigram "
            "FROM (SELECT doc_id, w, "
            "explode(sequence(0, greatest(size(w) - 2, 0))) AS i FROM w) t"
        )
    elif dialect == "duckdb":
        split = "regexp_split_to_array(trim(text), '\\s+')"
        tok_src = "SELECT doc_id, unnest(w) AS tok FROM w"
        bg_src = (
            "SELECT doc_id, concat_ws(' ', w[i], w[i+1]) AS bigram "
            "FROM w, UNNEST(generate_series(1, greatest(len(w) - 1, 1))) AS t(i)"
        )
    else:
        raise ValueError(f"unknown dialect {dialect!r}")
    return f"""
    WITH w AS (SELECT doc_id, {split} AS w FROM {source}),
    tok AS ({tok_src}),
    wordstats AS (
      SELECT doc_id, COUNT(*) AS n_words, COUNT(DISTINCT tok) AS n_distinct
      FROM tok GROUP BY doc_id
    ),
    bg AS ({bg_src}),
    bgc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram),
    bgm AS (SELECT doc_id, MAX(c) AS max_bg FROM bgc GROUP BY doc_id)
    SELECT s.doc_id, CAST(s.n_words AS BIGINT) AS n_words,
           ROUND(1.0 - s.n_distinct * 1.0 / s.n_words + 1e-9, 6) AS dup_word_frac,
           ROUND(LEAST(m.max_bg * 2.0 / s.n_words, 1.0) + 1e-9, 6) AS top_bigram_frac
    FROM wordstats s JOIN bgm m ON s.doc_id = m.doc_id
    """


# ---------------------------------------------------------------------------
# domain mixing weights — per-(source, lang) token shares
# ---------------------------------------------------------------------------

def domain_mix_sql(source: str = "documents") -> str:
    """Per-(source, lang) doc/token totals and the corpus-share mixing weight
    a sampler would draw from — dialect-common (only shared functions).

    The window total (``SUM(SUM(...)) OVER ()``) runs over the few-hundred-row
    aggregate, not the corpus, so the un-partitioned window is a non-issue at
    any scale.
    """
    bpe = bpe_token_estimate_sql("text")
    return (
        "SELECT source, lang, COUNT(*) AS n_docs, "
        f"CAST(SUM({bpe}) AS BIGINT) AS n_tokens, "
        f"ROUND(SUM({bpe}) * 1.0 / SUM(SUM({bpe})) OVER () + 1e-9, 6) AS mix_weight "
        f"FROM {source} GROUP BY source, lang"
    )


def corpus_vocab_stats_sql(dialect: str, source: str = "documents") -> str:
    """One-row corpus vocabulary profile: vocab size, hapax count, total
    tokens, top-1 and top-10 frequency coverage — the Zipf diagnostics read
    before choosing tokenizer vocab sizes and frequency cutoffs.

    All counts are exact integers off one token-frequency aggregate; the
    top-10 sum is deterministic under count ties because only the COUNTS are
    summed (any tie-equivalent token choice yields the same total).
    """
    if dialect == "spark":
        tok_src = (
            "SELECT explode(split(trim(text), '\\\\s+')) AS tok "
            f"FROM {source}"
        )
    else:
        tok_src = (
            "SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok "
            f"FROM {source}"
        )
    return f"""
    WITH tok AS ({tok_src}),
    freq AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    top10 AS (
      SELECT CAST(SUM(c) AS BIGINT) AS s
      FROM (SELECT c FROM freq ORDER BY c DESC, tok LIMIT 10) t
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count,
           CAST(SUM(c) AS BIGINT) AS total_tokens,
           ROUND(MAX(c) * 1.0 / SUM(c) + 1e-9, 6) AS top1_share,
           ROUND(MAX(top10.s) * 1.0 / SUM(c) + 1e-9, 6) AS top10_share
    FROM freq CROSS JOIN top10
    """


def bigram_loglik_sql(dialect: str, source: str = "documents") -> str:
    """Per-doc mean bigram log-likelihood with add-one smoothing —
    ln((c(prev,cur)+1)/(c(prev)+V)) averaged over a doc's transitions: the
    second-order CCNet/KenLM proxy (unigram_loglik_sql is the first-order
    one).  Formulaic repeated text scores high, token-salad low, even when
    both have common unigrams.

    Plan: one bigram explode (positions 1..n-1), a bigram-count aggregate, a
    left-word count aggregate, both joined back (vocab-sized, AQE
    broadcastable), one per-doc mean.  Docs with a single word have no
    transition and are absent, by construction.
    """
    if dialect == "spark":
        w = "split(trim(text), '\\\\s+')"
        # WHERE size >= 2, not greatest(n-1, 0): Spark sequence(1, 0) yields
        # the DECREASING [1, 0], not an empty array like DuckDB's
        # generate_series — a 1-word doc would emit junk transitions.
        bg_src = (
            f"SELECT doc_id, concat_ws(' ', try_element_at(w, CAST(i AS INT)), "
            f"try_element_at(w, CAST(i + 1 AS INT))) AS bg, "
            f"try_element_at(w, CAST(i AS INT)) AS prev "
            f"FROM (SELECT doc_id, {w} AS w FROM {source}) d "
            "LATERAL VIEW explode(sequence(1, size(w) - 1)) t AS i "
            "WHERE size(w) >= 2"
        )
        tok_src = (
            "SELECT explode(split(trim(text), '\\\\s+')) AS tok "
            f"FROM {source}"
        )
    else:
        w = "regexp_split_to_array(trim(text), '\\s+')"
        bg_src = (
            "SELECT doc_id, concat_ws(' ', w[i], w[i+1]) AS bg, w[i] AS prev "
            f"FROM (SELECT doc_id, {w} AS w FROM {source}) d, "
            "UNNEST(generate_series(1, greatest(len(w) - 1, 0))) AS t(i)"
        )
        tok_src = (
            "SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok "
            f"FROM {source}"
        )
    return f"""
    WITH bg AS ({bg_src}),
    bgc AS (SELECT bg, COUNT(*) AS cb FROM bg GROUP BY bg),
    tok AS ({tok_src}),
    uni AS (SELECT tok, COUNT(*) AS cu FROM tok GROUP BY tok),
    v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab FROM uni)
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           ROUND(SUM(LN((c.cb + 1.0) / (u.cu + v.vocab))) / COUNT(*) + 1e-9, 4)
             AS mean_bigram_loglik
    FROM bg b
    JOIN bgc c ON b.bg = c.bg
    JOIN uni u ON b.prev = u.tok
    CROSS JOIN v
    GROUP BY b.doc_id
    """


def winnow_fingerprints_sql(
    dialect: str,
    k: int = 3,
    window: int = 4,
    source: str = "documents",
) -> str:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS
    algorithm): hash every word ``k``-gram, slide a ``window`` over the hash
    sequence, keep each window's minimum — the guarantee is any shared run of
    ``window + k - 1`` words between two documents shares at least one
    selected fingerprint, at ~2/(window+1) the storage of full shingling.

    Emits the DISTINCT selected hash values per doc (value set, not
    positions — ties then need no right-most rule and the set is order-free).
    All per-doc array work (hash sequence, window minima) runs inside one
    projection on 60-bit portable hashes, identical in both engines; the
    only shuffle is the final DISTINCT keyed by (doc, fp).
    """
    if dialect == "spark":
        gram = (
            "concat_ws(' ', "
            + ", ".join(
                f"try_element_at(w, CAST(i + {j} AS INT))" for j in range(k)
            )
            + ")"
        )
        h = f"CAST(CONV(SUBSTR(MD5({gram}), 1, 15), 16, 10) AS BIGINT)"
        split_w = "split(trim(text), '\\\\s+')"
        grams = (
            f"SELECT doc_id, i, {h} AS h "
            "FROM docs LATERAL VIEW explode(sequence(1, "
            f"greatest(size(w) - {k - 1}, 1))) t AS i"
        )
    else:
        gram = "concat_ws(' ', " + ", ".join(f"w[i+{j}]" for j in range(k)) + ")"
        h = f"('0x' || substr(md5({gram}), 1, 15))::BIGINT"
        split_w = "regexp_split_to_array(trim(text), '\\s+')"
        grams = (
            f"SELECT doc_id, i, {h} AS h "
            "FROM docs, UNNEST(generate_series(1, "
            f"greatest(len(w) - {k - 1}, 1))) AS t(i)"
        )
    # Relational, not array-lambda: Spark higher-order functions evaluate
    # interpreted AND CollapseProject re-inlines the split/hash arrays into
    # every lambda element (O(n²) md5 calls per doc — measured 85 s vs 2 s on
    # the 500-doc gate).  The explode + frame-window form is linear, stays in
    # codegen, and is the SAME SQL shape in both engines.
    return f"""
    WITH docs AS (SELECT doc_id, {split_w} AS w FROM {source}),
    grams AS ({grams}),
    wins AS (
      SELECT doc_id, i,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS fp,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_h
      FROM grams
    )
    SELECT DISTINCT doc_id, fp FROM wins
    WHERE i <= GREATEST(n_h - {window - 1}, 1)
    """


def winnow_overlap_sql(
    dialect: str,
    k: int = 3,
    window: int = 4,
    min_shared: int = 3,
    source: str = "documents",
) -> str:
    """Document pairs sharing ≥ ``min_shared`` winnowed fingerprints — the
    MOSS copy-detection join.  Sub-quadratic the same way LSH is: pairs only
    form on equal fingerprints (equi-join keyed on the 60-bit value), and the
    winnowing density bound keeps each doc's fingerprint set ~2/(window+1)
    of its shingle count.

    This one-SQL form inlines the fingerprint pipeline twice (Spark has no
    common-subplan reuse for inlined subqueries) — it is the ORACLE/parity
    shape; the production Spark path is :func:`winnow_overlap`, which builds
    the fingerprint relation once."""
    fps = winnow_fingerprints_sql(dialect, k, window, source)
    return f"""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
    FROM ({fps}) a JOIN ({fps}) b
      ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= {min_shared}
    """


def winnow_overlap(
    spark,
    k: int = 3,
    window: int = 4,
    min_shared: int = 3,
    source: str = "documents",
) -> DataFrame:
    """Spark production form of :func:`winnow_overlap_sql`: the fingerprint
    relation is computed ONCE and persisted, then self-joined — the inlined
    SQL form pays the gram-explode + per-gram md5 + window-minima stage (the
    dominant cost) twice.  Same relation, parity-tested.

    The source is spread first (single-file tables scan as one partition —
    the md5-heavy explode must run wave-parallel; no-op on already-split
    inputs).  Cache contract as in :func:`dedup.minhash_lsh_pairs`: the
    returned plan reads the persisted relation lazily; the next call
    releases it.
    """
    from qradar_restapi_kafka_datapipeline_spark.engine import persist_tracked
    from qradar_restapi_kafka_datapipeline_spark.operators.dedup import _spread

    fps = persist_tracked(
        spark.sql(
            winnow_fingerprints_sql("spark", k, window, "{src}"),
            src=_spread(spark.table(source), by="doc_id"),
        ),
        "__winnow_fps",
    )
    a = fps.select(F.col("doc_id").alias("id_a"), "fp")
    b = fps.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


def tfidf_topk_sql(dialect: str, k: int = 3, source: str = "documents",
                   tf_rel: str | None = None) -> str:
    """Top-``k`` TF-IDF keywords per document — the classic salience signal
    (keyword indexing, topic labeling, quality heuristics).

    tf = in-doc term count; idf = LN((N+1)/(df+1)) with add-one smoothing so
    a corpus-universal term scores ~0 instead of exploding on df=N.  Ranking
    uses the ROUNDED score with the term itself as the tiebreaker, so the
    top-k set is deterministic and engine-portable (raw float ordering would
    let a 1-ulp libm difference flip ties).

    Plan shape: one (doc, term) aggregate, one vocab-sized df aggregate
    joined back (AQE broadcasts real vocabularies), one per-doc window over
    the doc's OWN terms — group sizes bounded by per-doc vocabulary, never
    corpus size.

    ``tf_rel`` (round 11): the ``tf`` CTE is consumed by THREE downstream
    CTEs (df, n, scored) and Spark re-executes a WITH-CTE definition per
    consumer (the round-4 CacheManager finding), so the tokenize +
    aggregate ran 3× per query.  The Spark entry passes a MATERIALIZED
    (doc_id, term, tf) relation here (:func:`tfidf_topk`); the DuckDB
    oracle keeps the plain one-statement form, so the gate hash-proves
    the two formulations against each other."""
    if dialect == "spark":
        tok_src = (
            "SELECT doc_id, explode(split(trim(text), '\\\\s+')) AS term "
            f"FROM {source}"
        )
    else:
        tok_src = (
            "SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) "
            f"AS term FROM {source}"
        )
    if tf_rel is None:
        tf_defs = (
            f"WITH tok AS ({tok_src}),\n    tf AS "
            "(SELECT doc_id, term, COUNT(*) AS tf FROM tok "
            "GROUP BY doc_id, term),"
        )
    else:
        tf_defs = f"WITH tf AS ({tf_rel}),"
    return f"""
    {tf_defs}
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
    scored AS (
      SELECT t.doc_id, t.term,
             ROUND(t.tf * LN((n.n_docs + 1.0) / (d.df + 1.0)) + 1e-9, 4)
               AS tfidf
      FROM tf t JOIN df d ON t.term = d.term CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
      FROM scored
    )
    SELECT doc_id, term, tfidf, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {k}
    """


def tfidf_topk(spark, k: int = 3, source: str = "documents") -> DataFrame:
    """Spark-side TF-IDF serve: materialize the (doc_id, term, tf)
    relation ONCE, then run the df/idf/rank tail over the compact
    parquet — see the ``tf_rel`` note on :func:`tfidf_topk_sql`.
    Measured ≈neutral at sf0.1 (the 500-doc corpus' tokenize is too
    small for the 3× re-execution to dominate the scratch write), but
    the re-executed work scales with corpus size while the materialized
    relation scales with vocabulary — at real scale the single-pass
    form is the right plan, and the gate now hash-proves it against the
    plain-CTE oracle every round."""
    from qradar_restapi_kafka_datapipeline_spark.engine import materialize_view

    tok = (
        "SELECT doc_id, explode(split(trim(text), '\\\\s+')) AS term "
        f"FROM {source}"
    )
    tf = spark.sql(
        f"SELECT doc_id, term, COUNT(*) AS tf FROM ({tok}) t "
        "GROUP BY doc_id, term"
    )
    return spark.sql(
        tfidf_topk_sql(
            "spark", k, source, tf_rel="SELECT doc_id, term, tf FROM {tf}"
        ),
        tf=materialize_view(spark, tf, "__tfidf_tf"),
    )


# ---------------------------------------------------------------------------
# corpus-trained unigram LM score — the KenLM-style perplexity proxy
# ---------------------------------------------------------------------------

def unigram_loglik_sql(dialect: str, source: str = "documents") -> str:
    """Per-doc mean unigram log-likelihood under the CORPUS's own unigram
    model — the in-engine stand-in for CCNet's KenLM perplexity filter
    (Wenzek et al. 2020): documents whose tokens are globally rare score low
    (spam/garble), formulaic ones score high.  No external model: the
    "training" is one token-frequency aggregate over the same corpus.

    Plan shape at 100 TB: explode tokens (narrow (doc_id, token) rows) →
    frequency aggregate keyed by token (vocab-sized output, map-side partial
    combine does the heavy lifting) → token→freq equi-join (AQE broadcasts a
    real-world ≤ tens-of-MB vocab) → per-doc aggregate.  No Python, no
    window, no driver materialization.

    Float discipline (CLAUDE.md): ``mean_tok_freq`` is exact-integer until
    one final divide (bit-identical across engines); ``mean_loglik`` sums
    libm logs whose last-ulp may differ per engine, so it rounds at 4 dp —
    wide enough to rank documents, coarse enough that a 1e-13 accumulation
    divergence cannot flip the rounded value off a half-way boundary.
    """
    if dialect == "spark":
        tok_src = (
            "SELECT doc_id, explode(split(trim(text), '\\\\s+')) AS tok "
            f"FROM {source}"
        )
    else:
        tok_src = (
            "SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) "
            f"AS tok FROM {source}"
        )
    return f"""
    WITH tok AS ({tok_src}),
    freq AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM freq)
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           ROUND(SUM(f.c) * 1.0 / COUNT(*) + 1e-9, 6) AS mean_tok_freq,
           ROUND(SUM(LN(f.c * 1.0 / tot.n)) / COUNT(*) + 1e-9, 4) AS mean_loglik
    FROM tok t JOIN freq f ON t.tok = f.tok CROSS JOIN tot
    GROUP BY t.doc_id
    """


def ccnet_buckets_sql(dialect: str, source: str = "documents") -> str:
    """CCNet-style head/middle/tail bucketing (Wenzek et al. 2020): rank every
    document by its corpus-LM likelihood and cut the corpus into terciles —
    CCNet trains on "head" (lowest-perplexity) web text first, "middle" next,
    and discards or down-weights "tail".  The LM here is the in-engine
    second-order model (:func:`bigram_loglik_sql`, the KenLM stand-in), so
    the whole filter needs NO external artifact.

    Determinism: the tercile window orders by the ROUNDED 4-dp likelihood
    (already proven hash-identical cross-engine by the ``text_bigram_loglik``
    gate entry) with ``doc_id`` settling ties, so NTILE assigns identically
    in both engines.  Scale note: NTILE over a global ORDER BY is a single
    -partition sort of one narrow (doc_id, score) row per doc — fine to
    ~10^9 docs; past that, swap the exact tercile for sampled cut-points
    (``approxQuantile`` on the score) and a stateless CASE compare, which
    changes only the boundary docs.
    """
    return f"""
    SELECT doc_id, n_transitions, mean_bigram_loglik,
           CASE NTILE(3) OVER (ORDER BY mean_bigram_loglik DESC, doc_id)
             WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS ccnet_bucket
    FROM ({bigram_loglik_sql(dialect, source)}) ll
    """


# ---------------------------------------------------------------------------
# Feature-hashed document embeddings (hashing trick, Weinberger et al. 2009)
# — text → sparse vector → cosine pairs with NO external model, expressed so
# every intermediate is an exact BIGINT (CLAUDE.md float discipline): doubles
# appear only in the one terminal sqrt/divide, so the whole family is fully
# value-checkable cross-engine, including the approximate path.
# ---------------------------------------------------------------------------

def bigram_feats_sql(dialect: str, source: str = "documents") -> str:
    """``(doc_id, feat)`` — one row per adjacent-word bigram occurrence,
    via ONE windowed pass (LEAD over the shared tokenizer).  Positions are
    consecutive per doc by construction (posexplode / generate_series), so
    ``LEAD(word)`` is row-for-row identical to the former
    ``b.pos = a.pos + 1`` self-join — with ONE tokenize and ONE exchange
    instead of two of each (r13, guide §2.4: the join shuffled the token
    relation twice on (doc_id, pos±1) and, as a CTE, re-executed the
    tokenize on both sides).  The ``nw IS NOT NULL`` filter runs BEFORE the
    CONCAT projection: Spark's CONCAT is NULL-propagating while DuckDB's
    skips NULLs, so concatenating first would diverge on each doc's last
    token."""
    tok = token_positions_sql(dialect, source)
    return f"""
    SELECT doc_id, CONCAT(word, ' ', nw) AS feat
    FROM (SELECT doc_id, word, LEAD(word) OVER (
            PARTITION BY doc_id ORDER BY pos) AS nw FROM ({tok}) t) x
    WHERE nw IS NOT NULL
    """


def ndocs_ge2_tokens_sql(
    dialect: str, source: str = "documents", text_col: str = "text"
) -> str:
    """Scalar ``(n)`` — documents with >= 2 whitespace tokens, computed on
    the SOURCE scan (no explode, no shuffle).  A doc appears in the bigram
    tf relation iff it has >= 1 bigram iff it has >= 2 tokens, so this
    equals ``COUNT(DISTINCT doc_id) FROM tf`` exactly — but replaces a full
    re-execution of the tokenize→bigram→group pipeline (Spark re-runs a CTE
    per reference) with one narrow source scan (r13, guide §2.4/§5)."""
    if dialect == "spark":
        return (
            f"SELECT CAST(COUNT(*) AS BIGINT) AS n FROM {source} "
            f"WHERE size(split(trim({text_col}), '\\\\s+')) >= 2"
        )
    if dialect == "duckdb":
        return (
            f"SELECT CAST(COUNT(*) AS BIGINT) AS n FROM {source} "
            f"WHERE len(regexp_split_to_array(trim({text_col}), '\\s+')) >= 2"
        )
    raise ValueError(f"unknown dialect {dialect!r}")


def bigram_tf_sql(dialect: str, source: str = "documents") -> str:
    """``(doc_id, feat, c)`` — the per-doc bigram term-frequency relation
    the hashed-postings builder aggregates first.  Factored out (round 8)
    because it is per-doc LOCAL: it is the maintainable unit of an
    incremental embedding index (:func:`chunk_index_streaming` lands it
    as per-epoch parts; every global statistic downstream — df, N — is
    an aggregate OVER it, so postings from merged parts are
    value-identical to a one-shot build).  Bigrams come from
    :func:`bigram_feats_sql` (windowed LEAD) since r13 — value-identical
    to the former positional self-join, half the shuffles."""
    feats = bigram_feats_sql(dialect, source)
    return f"""
    SELECT doc_id, feat, CAST(COUNT(*) AS BIGINT) AS c
    FROM ({feats}) f
    GROUP BY doc_id, feat
    """


def hashed_embedding_postings_sql(
    dialect: str,
    dim: int = 256,
    source: str = "documents",
    tf_rel: str | None = None,
    keep_rel: str | None = None,
) -> str:
    """``(doc_id, bucket, w)`` — signed-hash feature postings: each token's
    60-bit portable hash supplies a sign bit (unbiases collisions, the
    hashing-trick trick) and a bucket in [0, dim); ``w`` = Σ sign·tf as an
    exact BIGINT.  Zero-sum buckets are dropped (a sparse vector's implicit
    zeros).  Linear: one token explode + two narrow aggregates keyed by
    (doc, token) then (doc, bucket).

    The DuckDB form pins ``tok``/``tf`` ``AS MATERIALIZED``: DuckDB
    INLINES a multi-referenced CTE by default, so ``tf``'s three
    consumers each re-expanded the whole tokenize→bigram pipeline (six
    simultaneous window-heavy subplans over a chunked source OOM'd the
    16x amplified oracle at a 100 GiB limit; materialized it runs in
    12 s).  Spark re-executes CTEs per reference too — its side is
    handled by the callers' materialize_view/persist posture, since
    Spark SQL has no MATERIALIZED keyword.

    ``tf_rel``: build postings from a MAINTAINED ``(doc_id, feat, c)``
    relation (merged per-epoch parts) instead of re-tokenizing — the
    incremental-index hook; df-damping and tf-saturation apply over the
    injected relation, so the result is value-identical to the one-shot
    form whenever the relation equals :func:`bigram_tf_sql` output.

    ``keep_rel``: inject a PRE-COMPUTED df-filter relation (one ``feat``
    column) instead of deriving ndocs/keep from ``tf_rel`` — the sharded-
    recompute hook (round 9): a shard-restricted ``tf_rel`` must still be
    damped by GLOBAL document frequencies or its weights diverge from the
    corpus-wide build.  Postings from sharded tf + global keep are
    value-identical to the one-shot form on the shard's doc ids."""
    mat = "MATERIALIZED " if dialect == "duckdb" else ""
    h = portable_hash60_sql(dialect, "feat")
    div = "DIV" if dialect == "spark" else "//"
    if tf_rel is not None:
        head = (
            f"WITH tf AS {mat}(SELECT doc_id, feat, CAST(c AS BIGINT) AS c "
            f"FROM {tf_rel} tfr),"
        )
    else:
        feats = bigram_feats_sql(dialect, source)
        head = f"""WITH tf AS {mat}(SELECT doc_id, feat, COUNT(*) AS c
                FROM ({feats}) f GROUP BY doc_id, feat),"""
    # Features are word BIGRAMS, not unigrams: unigram bag-of-words
    # degenerates on small shared vocabularies (every pair looks similar —
    # measured 83% of random pairs ≥ 0.5 on the synthetic corpus), while
    # bigrams carry local order and square the feature space.  Two
    # integer-exact damping steps keep the cosine meaningful AND the gate
    # bit-exact: corpus-stopword bigrams drop by document frequency
    # (df·2 > N — an exact integer predicate, no float idf whose last-ulp
    # ln() could diverge between engines), and tf saturates at 3
    # (sublinear weighting, LEAST is exact).
    if keep_rel is not None:
        keep_ctes = f"keep AS (SELECT feat FROM {keep_rel} kr),"
        hashed_src = f"""SELECT doc_id, {h} AS h, c FROM tf
      WHERE feat IN (SELECT feat FROM keep)"""
    else:
        # r13 (guide §2.4/§3): df per feat as a COUNT(*) window over the
        # (doc, feat)-unique tf — identical to the former GROUP BY feat +
        # COUNT(DISTINCT doc_id) + semi-join, but one exchange+sort instead
        # of two exchanges and a big-big SortMergeJoin, and it references
        # tf ONCE (Spark re-executes a CTE per reference, so the old keep
        # subquery re-ran the whole tokenize pipeline).  ndocs comes from
        # the source scan when the pipeline tokenizes inline (provably
        # equal: a doc is in tf iff it has >= 2 tokens), and stays a scalar
        # over the cheap maintained relation in the tf_rel path (the parts
        # may cover a different doc set than any source table).
        if tf_rel is not None:
            keep_ctes = "ndocs AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),"
        else:
            keep_ctes = f"ndocs AS ({ndocs_ge2_tokens_sql(dialect, source)}),"
        hashed_src = f"""SELECT doc_id, {h} AS h, c FROM (
        SELECT doc_id, feat, c,
               COUNT(*) OVER (PARTITION BY feat) AS df FROM tf) fd
      WHERE df * 2 <= (SELECT n FROM ndocs)"""
    return f"""
    {head}
    {keep_ctes}
    hashed AS (
      -- hash hoisted ONCE per (doc, feat): md5 dominates the postings
      -- build, and Catalyst does not guarantee CSE between a GROUP BY key
      -- and an aggregate input (the simhash builder's precedent)
      {hashed_src}
    ),
    post AS (
      SELECT doc_id, CAST((h {div} 2) % {dim} AS BIGINT) AS bucket,
             CAST(SUM(CASE WHEN h % 2 = 0 THEN LEAST(c, 3)
                           ELSE -LEAST(c, 3) END) AS BIGINT) AS w
      FROM hashed GROUP BY 1, 2
    )
    SELECT doc_id, bucket, w FROM post WHERE w != 0
    """


#: auto-cap candidate budget: kept buckets may generate at most this many
#: candidate pairs PER DOC on average (sum over kept buckets of C(occ,2)
#: <= AUTO_CAP_PAIRS_PER_DOC × n_docs) — candidates stay LINEAR in corpus
#: size by construction.  Swept on the adversarial synthetic corpus
#: (31-word vocabulary, the densest regime; sf0.1, dim 4096, m=4): budget
#: 64 → 6.3 s / recall 159/256, 128 → 6.9 s / 210/256, 256 → 10.7 s /
#: 256/256 (full recall, vs 15–19.8 s uncapped), 512+ → no further change.
#: 256 is the smallest full-recall budget even on this worst case; real
#: power-law corpora sit far inside it.
AUTO_CAP_PAIRS_PER_DOC = 256


def _prefix_topm_parts(
    prefix_m: int, max_bucket_docs: int | None | str, mat: str
) -> tuple[str, str]:
    """``(ranked_ctes, topm_select)`` for the AllPairs prefix relation,
    phrased against a CTE named ``post``: the df-ranked top-``prefix_m``
    buckets per doc with the occupancy cap applied.  Shared by the inline
    statement (:func:`hashed_semantic_pairs_sql`) and the standalone
    builder (:func:`semantic_topm_sql`) so the two derivations are one
    SQL text."""
    topm = f"SELECT doc_id, bucket FROM ranked WHERE rk <= {prefix_m}"
    cap_ctes = ""
    if max_bucket_docs == "auto":
        # occupancy of each top-m bucket, cheapest-first cumulative pair
        # count (2×C(c,2) = c·(c−1), exact BIGINT), cap = occupancy of
        # the last bucket inside the budget (floor: the sparsest tier
        # always participates, so candidates never vanish entirely)
        cap_ctes = f""",
        occ AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c
                FROM ({topm}) o GROUP BY bucket),
        cum AS (SELECT bucket, c,
                       SUM(c * (c - 1)) OVER (
                         ORDER BY c ASC, bucket ASC) AS cum2
                FROM occ),
        nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n
               FROM post),
        capv AS (SELECT COALESCE(
                   MAX(CASE WHEN cum2 <= {2 * AUTO_CAP_PAIRS_PER_DOC} * n
                            THEN c END),
                   MIN(c)) AS cap
                 FROM cum CROSS JOIN nd),
        okb AS (SELECT occ.bucket FROM occ CROSS JOIN capv
                WHERE occ.c <= capv.cap)"""
        topm = f"""
        SELECT t.doc_id, t.bucket FROM ({topm}) t
        JOIN okb ON t.bucket = okb.bucket"""
    elif max_bucket_docs is not None:
        topm = f"""
        SELECT t.doc_id, t.bucket FROM ({topm}) t
        JOIN (SELECT bucket FROM ranked WHERE rk <= {prefix_m}
              GROUP BY bucket HAVING COUNT(*) <= {max_bucket_docs}) ok
          ON t.bucket = ok.bucket"""
    ranked = (
        ", bdf AS (SELECT bucket, COUNT(*) AS df FROM post GROUP BY bucket)"
        f", ranked AS {mat}(SELECT post.doc_id, post.bucket, "
        "ROW_NUMBER() OVER ("
        "PARTITION BY post.doc_id ORDER BY bdf.df ASC, post.bucket ASC) "
        "AS rk FROM post JOIN bdf ON post.bucket = bdf.bucket)"
        + cap_ctes
    )
    return ranked, topm


def semantic_topm_sql(
    dialect: str,
    prefix_m: int,
    max_bucket_docs: int | None | str,
    posts_rel: str,
) -> str:
    """Standalone ``(doc_id, bucket)`` statement for the capped AllPairs
    top-m prefix relation over a precomputed postings relation — the
    Spark production path materializes THIS once per call so the final
    pair statement reads a bounded scratch relation instead of
    re-executing the df-rank window per reference (r13, guide §2.4/§5)."""
    mat = "MATERIALIZED " if dialect == "duckdb" else ""
    ranked, topm = _prefix_topm_parts(prefix_m, max_bucket_docs, mat)
    return f"""
    WITH post AS (SELECT doc_id, bucket, w FROM {posts_rel}){ranked}
    SELECT doc_id, bucket FROM ({topm}) tm
    """


def hashed_semantic_pairs_sql(
    dialect: str,
    dim: int = 256,
    threshold: float = 0.5,
    source: str = "documents",
    prefix_m: int | None = None,
    posts_rel: str | None = None,
    max_bucket_docs: int | None | str = "auto",
    topm_rel: str | None = None,
) -> str:
    """Document pairs with hashed-embedding cosine ≥ ``threshold``.

    cosine = dot/(‖a‖·‖b‖) where dot and both squared norms are EXACT
    BIGINTs (integer postings), so the two engines agree bit-for-bit until
    the single terminal sqrt/divide — even the approximate path needs no
    quality contract, the gate hash-checks it outright.

    ``prefix_m`` = None is the exhaustive inverted-index join: correct, but
    dense vectors (docs longer than ``dim`` distinct tokens) populate every
    bucket and the join degenerates to all-pairs — cap the input (the
    ``dedup_ngram_jaccard`` precedent) or use the prefix path at scale.
    ``prefix_m`` = m is the AllPairs/PPJoin-style prefix filter (Bayardo et
    al. 2007): candidates must collide on one of each doc's m RAREST
    buckets (ascending global document frequency, the canonical AllPairs
    feature order — rare features both shrink candidate groups and are the
    ones near-duplicates reliably share; measured 100% recall at m=4 vs
    89% for heaviest-weight ranking at equal budget), then the FULL exact
    cosine verifies each candidate.  Because the ranking is deterministic
    SQL (df ASC, bucket ASC tie-break), the approximate pair set is
    value-checked too.

    ``posts_rel`` names a precomputed postings relation — the PRODUCTION
    path (:func:`hashed_semantic_pairs`): Spark has no common-subplan reuse
    for inlined CTEs, so the inlined form re-tokenizes + re-hashes the
    corpus once per reference (measured 48.7 s vs seconds at 5 k docs);
    the DuckDB oracle pins its hot CTEs ``AS MATERIALIZED`` (round 8 —
    DuckDB 1.0 inlines them too, re-executing postings per consumer).
    ``max_bucket_docs`` excludes DENSE buckets (more than that many docs in
    the top-m relation) from candidate generation only — the AllPairs
    analogue of a stopword list; deterministic, so the gate still
    hash-checks the capped pair set.  The DEFAULT ``"auto"`` (VERDICT r4
    #4) derives the cap from the top-m occupancy distribution itself: keep
    the sparsest buckets whose cumulative candidate pairs fit a linear
    budget (``AUTO_CAP_PAIRS_PER_DOC`` × n_docs), so the degenerate-density
    regime (synthetic 31-word vocabulary, measured 19.8 s uncapped at
    sf0.1) is unreachable without the explicit ``None`` opt-out; the whole
    derivation is integer-only deterministic SQL, identical in both
    engines, so the auto-capped pair set stays fully hash-checked.

    ``topm_rel`` (r13) names a precomputed ``(doc_id, bucket)`` capped
    prefix relation (:func:`semantic_topm_sql`) — the Spark production
    path materializes it once so the pair statement stops re-executing
    the df-rank window per reference; value-identical by construction
    (same SQL text evaluated once)."""
    posts = posts_rel and f"SELECT doc_id, bucket, w FROM {posts_rel}"
    posts = posts or hashed_embedding_postings_sql(dialect, dim, source)
    # DuckDB inlines multi-referenced CTEs: `post` feeds n/cand/dots (and
    # the prefix chain re-reads `ranked` three times via topm), so without
    # MATERIALIZED the postings derivation re-executes per consumer — the
    # trap the funnel and postings-builder oracles hit at 16x (round 8).
    # Spark has no MATERIALIZED keyword; its side injects posts_rel.
    mat = "MATERIALIZED " if dialect == "duckdb" else ""
    if prefix_m is None:
        cand = (
            "SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
            "FROM post a JOIN post b "
            "ON a.bucket = b.bucket AND a.doc_id < b.doc_id"
        )
        ranked = ""
    else:
        if topm_rel is not None:
            # r13 (guide §2.4/§5): the Spark production path materializes
            # the bounded top-m prefix relation (n_docs × m rows) once
            # (:func:`semantic_topm_sql`) — inlined, the ranked window
            # lineage re-executed per reference (occ + both candidate
            # sides + the okb cap chain: 12 scans / 4 windows in the
            # round-13 before plan).  The oracle keeps the inline form
            # (DuckDB pins its CTEs MATERIALIZED), so the gate hash-proves
            # the served relation equals the inline derivation.
            topm = f"SELECT doc_id, bucket FROM {topm_rel}"
            ranked = ""
        else:
            ranked, topm = _prefix_topm_parts(prefix_m, max_bucket_docs, mat)
        cand = f"""
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ({topm}) a JOIN ({topm}) b
          ON a.bucket = b.bucket AND a.doc_id < b.doc_id"""
    return f"""
    WITH posts_base AS {mat}({posts}),
    post AS {mat}(SELECT doc_id, bucket, w FROM posts_base){ranked},
    n AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2
          FROM post GROUP BY doc_id),
    cand AS {mat}({cand}),
    dots AS (
      SELECT c.id_a, c.id_b, CAST(SUM(a.w * b.w) AS BIGINT) AS d
      FROM cand c
      JOIN post a ON a.doc_id = c.id_a
      JOIN post b ON b.doc_id = c.id_b AND b.bucket = a.bucket
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b,
           ROUND(d / SQRT(1.0 * na.n2 * nb.n2) + 1e-9, 6) AS cos
    FROM dots
    JOIN n na ON na.doc_id = id_a
    JOIN n nb ON nb.doc_id = id_b
    WHERE d / SQRT(1.0 * na.n2 * nb.n2) >= {threshold}
    """


def hashed_semantic_pairs(
    spark,
    dim: int = 256,
    threshold: float = 0.5,
    prefix_m: int | None = 4,
    source: str = "documents",
    max_bucket_docs: int | None | str = "auto",
) -> DataFrame:
    """Production Spark form of :func:`hashed_semantic_pairs_sql`: the
    postings relation is computed ONCE over the spread source and
    MATERIALIZED to scratch parquet — Spark shares no common subplans
    across CTE references AND CacheManager substitution does not reach
    through WITH CTEs (round-4 finding: a persisted relation consumed via
    CTE re-executes its full lineage per reference — 0 InMemoryRelation,
    72 parquet scans in the optimized plan; measured 19 s → 2.6 s capped /
    25 s → 15 s uncapped at sf0.1 after materializing).

    The DEFAULT regime is the AllPairs prefix path (``prefix_m=4``, the
    measured-100 %-recall config at the documented dim ∝ vocabulary rule) —
    the exhaustive inverted-index join degenerates toward all-pairs on dense
    documents (VERDICT r3 #3), so a caller who doesn't read the docstring
    must land in the scale-safe regime.  Passing ``prefix_m=None`` opts into
    the exhaustive join, guarded: if mean postings per doc exceed dim/2
    (every doc hits most buckets → the candidate join is quadratic), raise
    rather than silently run the wrong regime."""
    from qradar_restapi_kafka_datapipeline_spark.engine import materialize_view
    from qradar_restapi_kafka_datapipeline_spark.operators.dedup import _spread

    # materialize at EVERY size: the postings lineage (tokenize + hash +
    # df-rank window) is expensive, so recomputing it per CTE reference
    # loses even at sf0.1 (r5 three-way measurement in engine.share_view:
    # materialize 2.24 s / checkpoint 2.61 s / inline 3.64 s)
    posts = materialize_view(
        spark,
        spark.sql(
            hashed_embedding_postings_sql("spark", dim, "{src}"),
            src=_spread(spark.table(source), by="doc_id"),
        ),
        "__hse_post",
    )
    rels = {"posts": posts}
    if prefix_m is None:
        # density guard for the explicitly-requested exhaustive regime: the
        # postings are persisted anyway, so this aggregate only fronts the
        # materialization the candidate join would pay regardless.
        from pyspark.sql import functions as F

        stats = posts.agg(
            F.count(F.lit(1)).alias("np"), F.countDistinct("doc_id").alias("nd")
        ).first()
        if stats["nd"] and stats["np"] / stats["nd"] > dim / 2:
            raise ValueError(
                f"hashed_semantic_pairs: mean postings/doc "
                f"{stats['np'] / stats['nd']:.0f} > dim/2 ({dim // 2}) — the "
                "exhaustive inverted-index join would degenerate toward "
                "all-pairs on these dense documents. Raise dim (∝ corpus "
                "vocabulary), use the default prefix_m path, or cap the "
                "input relation."
            )
    else:
        # r13 (guide §2.4/§5): materialize the bounded top-m prefix
        # relation too — inlined, the df-rank window re-executed per
        # reference (both candidate sides + the occupancy-cap chain);
        # measured 12 scans / 4 windows in the capped entry's before plan.
        rels["topm"] = materialize_view(
            spark,
            spark.sql(
                semantic_topm_sql("spark", prefix_m, max_bucket_docs, "{posts}"),
                posts=posts,
            ),
            "__hse_topm",
        )
    return spark.sql(
        hashed_semantic_pairs_sql(
            "spark",
            dim,
            threshold,
            prefix_m=prefix_m,
            posts_rel="{posts}",
            max_bucket_docs=max_bucket_docs,
            topm_rel="{topm}" if "topm" in rels else None,
        ),
        **rels,
    )


def hashed_text_knn_sql(
    dialect: str,
    query_max: int = 3,
    k: int = 3,
    dim: int = 4096,
    source: str = "documents",
    posts_rel: str | None = None,
) -> str:
    """Top-``k`` most-similar documents for each query doc (ids below
    ``query_max``) by hashed-embedding cosine — "find documents like this
    one" with no external model, the search-serving form of
    :func:`hashed_semantic_pairs_sql`.

    Candidates come from the inverted index (docs sharing ANY bucket with
    the query), restricted to POSITIVE dot products before ranking: every
    positive-cosine doc necessarily shares a bucket, so the returned set is
    the exact top-k among cos > 0 neighbors — without the guard a
    negative-dot bucket-mate could outrank a true-zero NON-candidate (a
    review-caught boundary bug the gate can't see, since both engines
    agreed on it).  Queries with fewer than k positive neighbors return
    fewer rows.  Deterministic end-to-end (ties broken by n_id), so the
    top-k set is fully value-checked cross-engine.  Per-query cost is the
    query's postings × their bucket occupancy — independent of corpus size
    given the documented dim ∝ corpus rule."""
    posts = posts_rel and f"SELECT doc_id, bucket, w FROM {posts_rel}"
    posts = posts or hashed_embedding_postings_sql(dialect, dim, source)
    return f"""
    WITH post AS ({posts}),
    n AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2
          FROM post GROUP BY doc_id),
    qp AS (SELECT doc_id, bucket, w FROM post WHERE doc_id < {query_max}),
    dots AS (
      SELECT q.doc_id AS q_id, c.doc_id AS n_id,
             CAST(SUM(q.w * c.w) AS BIGINT) AS d
      FROM qp q JOIN post c
        ON q.bucket = c.bucket AND q.doc_id != c.doc_id
      GROUP BY 1, 2
      HAVING SUM(q.w * c.w) > 0
    ),
    scored AS (
      SELECT q_id, n_id, d / SQRT(1.0 * nq.n2 * nn.n2) AS cos_raw
      FROM dots
      JOIN n nq ON nq.doc_id = q_id
      JOIN n nn ON nn.doc_id = n_id
    ),
    r AS (
      SELECT q_id, n_id, cos_raw, CAST(ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY cos_raw DESC, n_id ASC) AS INT) AS rk
      FROM scored
    )
    SELECT q_id, n_id, ROUND(cos_raw + 1e-9, 6) AS cos, rk
    FROM r WHERE rk <= {k}
    """


def hashed_text_knn(
    spark,
    query_max: int = 3,
    k: int = 3,
    dim: int = 4096,
    source: str = "documents",
) -> DataFrame:
    """Production Spark form of :func:`hashed_text_knn_sql`: postings built
    once over the spread source and materialized at every size (expensive
    lineage — same measured rule as :func:`hashed_semantic_pairs`)."""
    from qradar_restapi_kafka_datapipeline_spark.engine import materialize_view
    from qradar_restapi_kafka_datapipeline_spark.operators.dedup import _spread

    posts = spark.sql(
        hashed_embedding_postings_sql("spark", dim, "{src}"),
        src=_spread(spark.table(source), by="doc_id"),
    )
    return spark.sql(
        hashed_text_knn_sql("spark", query_max, k, dim, posts_rel="{posts}"),
        posts=materialize_view(spark, posts, "__htk_post"),
    )


# ---------------------------------------------------------------------------
# Persisted text-search index (round 4) — the text analogue of the persisted
# IVF path (operators/similarity.py): build the hashed-bigram postings ONCE
# as parquet PARTITIONED BY bucket group, ship the corpus stoplist with the
# index, and serve "documents like this text" queries whose scans file-prune
# to only the query's posting groups.  Per-query cost is the query's
# postings × their bucket occupancy — independent of corpus size.
# ---------------------------------------------------------------------------


def build_text_index(
    spark,
    path: str,
    dim: int = 4096,
    source: str = "documents",
    n_groups: int = 64,
) -> None:
    """Materialize the search index: ``postings/`` (doc_id, bucket, w)
    PARTITIONED BY ``bucket_group = bucket % n_groups`` (bounded directory
    count; a query's scan prunes to its own groups), ``norms/`` (doc_id,
    n2), and ``stoplist/`` — the corpus-stopword bigrams the postings
    pipeline drops (df·2 > N).  The stoplist ships WITH the index because
    the query-side featurizer must drop exactly the same features: a
    stopword bigram's hash bucket still holds OTHER features' weights, so a
    query that hashed it anyway would add false dot-product contributions.
    (Real search engines ship index-time analyzers for the same reason.)
    """
    from qradar_restapi_kafka_datapipeline_spark.engine import (
        read_artifact,
        write_artifact,
    )
    from qradar_restapi_kafka_datapipeline_spark.operators.dedup import _spread

    src = _spread(spark.table(source), by="doc_id")
    posts = spark.sql(hashed_embedding_postings_sql("spark", dim, "{src}"), src=src)
    postings = f"{path}/postings"
    write_artifact(
        spark,
        posts.withColumn(
            "bucket_group", F.pmod(F.col("bucket"), F.lit(n_groups)).cast("int")
        ),
        postings,
        partition_by="bucket_group",
    )
    write_artifact(
        spark,
        read_artifact(spark, postings, base_path=postings).groupBy("doc_id").agg(
            F.sum(F.col("w") * F.col("w")).cast("long").alias("n2")
        ),
        f"{path}/norms",
    )
    feats = bigram_feats_sql("spark", "{src}")
    write_artifact(
        spark,
        spark.sql(
            f"""
            WITH tf AS (SELECT doc_id, feat FROM ({feats}) f
                        GROUP BY doc_id, feat),
            ndocs AS ({ndocs_ge2_tokens_sql("spark", "{src}")})
            SELECT DISTINCT feat FROM (
              SELECT feat, COUNT(*) OVER (PARTITION BY feat) AS df FROM tf) x
            WHERE df * 2 > (SELECT n FROM ndocs)
            """,
            src=src,
        ).coalesce(1),
        f"{path}/stoplist",
    )


def _index_stoplist(spark, path: str) -> frozenset:
    """The text index at ``path``'s stoplist, read once per session under
    ``("stoplist", <stoplist tree>)``.  Rewriting or swapping the tree
    drops the entry (``engine.forget_tree_memos``)."""
    from qradar_restapi_kafka_datapipeline_spark.engine import (
        read_artifact,
        session_state,
    )

    memo = session_state(spark)
    key = ("stoplist", f"{path}/stoplist")
    if key not in memo:
        memo[key] = frozenset(
            r["feat"] for r in read_artifact(spark, key[1]).collect()
        )
    return memo[key]


def _query_postings(text: str, stoplist: set, dim: int) -> dict[int, int]:
    """Driver-side featurizer for ONE query text — the exact Python replica
    of :func:`hashed_embedding_postings_sql`'s per-doc pipeline (whitespace
    bigrams, stoplist drop, 60-bit md5 portable hash, sign by parity,
    bucket by div-2 mod dim, tf saturated at 3, zero-sum buckets dropped).
    Bounded work: one document's features."""
    import hashlib
    from collections import Counter

    words = text.strip().split()
    tf = Counter(
        f"{a} {b}" for a, b in zip(words, words[1:])
    )
    posts: dict[int, int] = {}
    for feat, c in tf.items():
        if feat in stoplist:
            continue
        h = int(hashlib.md5(feat.encode("utf-8")).hexdigest()[:15], 16)
        w = min(c, 3) if h % 2 == 0 else -min(c, 3)
        b = (h // 2) % dim
        posts[b] = posts.get(b, 0) + w
    return {b: w for b, w in posts.items() if w != 0}


def text_knn_from_index(
    spark,
    path: str,
    query_text: str,
    k: int = 3,
    dim: int = 4096,
    n_groups: int = 64,
    query_id: int = -1,
    exclude_id: int | None = None,
) -> DataFrame:
    """Top-``k`` most-similar indexed documents for a QUERY TEXT, served
    from the persisted index: the postings scan carries static
    ``bucket_group IN (...)`` AND ``bucket IN (...)`` predicates (the
    query's posting buckets are driver-side constants, like the IVF probe
    lists), so only the touched partition directories are read.  Scoring is
    identical to :func:`hashed_text_knn_sql` — exact BIGINT dots, positive
    filter, one terminal sqrt/divide, (cos DESC, n_id) ties — so a query
    using an indexed document's own text reproduces that entry's rows
    exactly (the gate proves it).

    A serve runs no job for values the driver already holds: the stoplist
    is read once per session (:func:`_index_stoplist`), and the query
    weights ride in the plan as a literal map, which the ``bucket IN``
    predicate guarantees holds every scanned row's bucket."""
    from qradar_restapi_kafka_datapipeline_spark.engine import read_artifact

    qp = _query_postings(query_text, _index_stoplist(spark, path), dim)
    if not qp:
        return local_relation(
            spark, [], "q_id LONG, n_id LONG, cos DOUBLE, rk INT"
        )
    groups = sorted({b % n_groups for b in qp})
    weights = ", ".join(f"{b}L, {w}L" for b, w in qp.items())
    n2q = sum(w * w for w in qp.values())
    cand = (
        read_artifact(
            spark, f"{path}/postings", base_path=f"{path}/postings"
        )
        .where(F.col("bucket_group").isin(groups))
        .where(F.col("bucket").isin([int(b) for b in qp]))
        .withColumn("qw", F.expr(f"element_at(map({weights}), bucket)"))
    )
    if exclude_id is not None:
        cand = cand.where(F.col("doc_id") != exclude_id)
    # tombstones (delete_from_text_index) masked on the candidate scan, so
    # a deleted document can never rank; compaction drops the rows
    cand = anti_join(cand, read_tombstones(spark, tombstone_log(path)))
    dots = (
        cand.groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("qw")).cast("long").alias("d"))
        .where(F.col("d") > 0)
    )
    norms = read_artifact(spark, f"{path}/norms")
    scored = dots.join(norms, "doc_id").select(
        F.lit(query_id).cast("long").alias("q_id"),
        F.col("doc_id").alias("n_id"),
        F.expr(f"d / SQRT(1.0 * {n2q} * n2)").alias("cos_raw"),
    )
    from pyspark.sql.window import Window

    w_rk = Window.partitionBy("q_id").orderBy(
        F.col("cos_raw").desc(), F.col("n_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w_rk).cast("int"))
        .where(F.col("rk") <= k)
        .select(
            "q_id",
            "n_id",
            F.expr("ROUND(cos_raw + 1e-9, 6)").alias("cos"),
            "rk",
        )
    )


def append_to_text_index(
    spark,
    path: str,
    new_source: str,
    dim: int = 4096,
    n_groups: int = 64,
) -> None:
    """Incremental index maintenance: featurize NEW documents with the
    index's FROZEN analyzer (the shipped stoplist — exactly like IVF append
    reusing the persisted quantizer) and append their postings/norms into
    the partitioned layout; existing entries are untouched (new files land
    inside the affected ``bucket_group=`` directories only).

    The stoplist deliberately does NOT retrain: a drifting analyzer would
    silently re-score the existing corpus.  Rebuild the index when df drift
    degrades retrieval (the IVF recall-contract posture).  Append postings
    are provably what the frozen featurizer emits — per-doc equality
    against :func:`_query_postings` is pytest-pinned."""
    from qradar_restapi_kafka_datapipeline_spark.operators.dedup import _spread

    feats = bigram_feats_sql("spark", "{src}")
    h = portable_hash60_sql("spark", "feat")
    posts = spark.sql(
        f"""
        WITH tf AS (SELECT doc_id, feat, COUNT(*) AS c FROM ({feats}) f
                    GROUP BY doc_id, feat),
        hashed AS (
          SELECT doc_id, {h} AS h, c FROM tf
          WHERE feat NOT IN (SELECT feat FROM {{stop}})
        ),
        post AS (
          SELECT doc_id, CAST((h DIV 2) % {dim} AS BIGINT) AS bucket,
                 CAST(SUM(CASE WHEN h % 2 = 0 THEN LEAST(c, 3)
                               ELSE -LEAST(c, 3) END) AS BIGINT) AS w
          FROM hashed GROUP BY 1, 2
        )
        SELECT doc_id, bucket, w FROM post WHERE w != 0
        """,
        src=_spread(spark.table(new_source), by="doc_id"),
        stop=spark.read.parquet(f"{path}/stoplist"),
    )
    posts.withColumn(
        "bucket_group", F.pmod(F.col("bucket"), F.lit(n_groups)).cast("int")
    ).write.mode("append").partitionBy("bucket_group").parquet(f"{path}/postings")
    posts.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).cast("long").alias("n2")
    ).write.mode("append").parquet(f"{path}/norms")


def delete_from_text_index(spark, path: str, ids) -> None:
    """Tombstone deletes for the persisted text index (round 12 — the
    takedown path every training-data pipeline needs: GDPR erasure,
    opt-out, DMCA).  Mirrors ``delete_from_ivf_index``
    (similarity.py): append the doc ids to a ``tombstones/`` log —
    O(|ids|) regardless of index size, no postings rewrite — and let
    the serve path mask them (:func:`text_knn_from_index` anti-joins
    the log) until :func:`compact_text_index` physically drops the
    rows and clears the log.  Append-only log ⇒ idempotent (a repeated
    delete adds duplicate ids; every reader collapses them with
    DISTINCT) and crash-safe (a torn append leaves at most a missing
    part file, never a corrupt index)."""
    append_tombstones(ids, tombstone_log(path))


def _index_staging(path: str, name: str) -> tuple[str, str]:
    """``(tmp, old)`` staging dirs of a text-index relation swap."""
    return f"{path}/.{name}_compact_tmp", f"{path}/.{name}_compact_old"


def recover_text_index_norms(spark, path: str) -> str:
    """Startup repair for a norms OR postings swap killed mid-swap (the
    round-7 `recover_sketch_parts` contract applied to the text index):
    :func:`...parts.heal_swap` over both relations' staging dirs; returns
    the more severe outcome.  Idempotent; called automatically by
    :func:`compact_text_index`."""
    return most_severe([
        heal_swap(spark, f"{path}/{name}", *_index_staging(path, name))
        for name in ("norms", "postings")
    ])


def compact_text_index(
    spark, path: str, target_files_per_partition: int = 1
) -> int:
    """Background-merge pass for the persisted text index (the
    ``compact_rollup`` pattern applied to the serving layout): every
    :func:`append_to_text_index` lands one new file set inside the affected
    ``bucket_group=`` directories and appends to ``norms/``, so a
    frequently-maintained index accretes exactly the small-files state that
    erodes the file-pruned serving scan.  Rewrites each bucket-group
    partition to ``target_files_per_partition`` files and collapses
    ``norms/`` to one file — value-neutral by construction (same rows, new
    layout), pinned by ``tests/test_analytics.py``'s serve-before ≡
    serve-after check.  Returns the number of postings partitions rewritten.

    Round 12: compaction also APPLIES the tombstone log
    (:func:`delete_from_text_index`) — deleted docs' postings and norms
    rows are physically dropped and the log is cleared, completing the
    takedown lifecycle (mask at serve, drop at compaction — the IVF
    convention).  Crash ordering is safe at every point: postings swap,
    then norms swap, then log delete — a kill between any two leaves the
    tombstone log in place, so the serve anti-join still masks, and the
    next compaction's drops are no-ops on already-dropped rows.  A full
    delete (every document tombstoned) raises ``ValueError`` before
    anything is staged, leaving the index and its log as they were.
    """
    from qradar_restapi_kafka_datapipeline_spark.operators.maintenance import (
        compact_rollup,
    )

    recover_text_index_norms(spark, path)  # self-heal a prior mid-swap kill
    tomb = read_tombstones(spark, tombstone_log(path))
    postings = f"{path}/postings"
    if tomb is not None:
        # Filtered rewrite of the whole postings tree (can't reuse
        # compact_rollup — it rewrites layout, not rows), swapped in like
        # norms below.
        live = anti_join(
            spark.read.option("basePath", postings).parquet(postings), tomb
        )
        require_live(live, "compact_text_index", path)
        swap_dir(
            spark, postings, *_index_staging(path, "postings"),
            lambda tmp: live.repartition("bucket_group").write
            .mode("overwrite").partitionBy("bucket_group").parquet(tmp),
            "compact_text_index",
        )
        n = spark.read.parquet(postings).select(
            "bucket_group"
        ).distinct().count()
    else:
        n = compact_rollup(
            spark,
            postings,
            target_files_per_partition,
            partition_col="bucket_group",
        )
    # norms is small and unpartitioned: Spark refuses an in-place overwrite
    # of a path it is reading, so stage to a dotted temp dir (invisible to
    # listings) and swap it in.
    norms = anti_join(spark.read.parquet(f"{path}/norms"), tomb)
    swap_dir(
        spark, f"{path}/norms", *_index_staging(path, "norms"),
        lambda tmp: norms.coalesce(1).write.mode("overwrite").parquet(tmp),
        "compact_text_index",
    )
    if tomb is not None:
        # both swaps committed: the log's rows are physically gone, so the
        # log itself can drop (a crash before this line is harmless — the
        # anti-joins are no-ops on the already-dropped rows)
        delete(spark, tombstone_log(path))
    return n


def bm25_topk_sql(
    dialect: str,
    query_doc: int = 0,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    source: str = "documents",
    tf_rel: str | None = None,
) -> str:
    """Top-``k`` documents by Okapi BM25 for the query "the distinct words
    of document ``query_doc``" — the classic ranked-retrieval scorer
    (Robertson & Walker 1994), fully relational and dialect-shared:

        score(q, d) = Σ_t  idf(t) · tf(t,d)·(k1+1)
                            / (tf(t,d) + k1·(1 − b + b·len_d/avgdl))
        idf(t)      = ln((N − df(t) + 0.5) / (df(t) + 0.5) + 1)

    Plan shape at 100 TB: token explode → per-(doc, term) tf aggregate +
    per-doc length aggregate + vocab-sized df aggregate; the query's term
    set is itself a relation (no driver featurization), the contribution
    join is query-terms-sized per doc, and everything shuffles on doc_id or
    term only.  Cross-engine float discipline: each per-term contribution
    becomes an INTEGER micro-score (``floor(x·1e6 + 0.5)`` — the CLAUDE.md
    half-up idiom; the ln's possible last-ulp difference between libm and
    Java Math.log would need x·1e6 within ~2e-9 of a half-way boundary to
    flip it), so the per-doc SUM is exact BIGINT arithmetic — order-free —
    and ranking ties break on doc_id.  The emitted ``score`` is the integer
    sum scaled back once.

    ``tf_rel``: serve from a MAINTAINED ``(doc_id, word, tf)`` relation
    instead of re-tokenizing the corpus — the incremental-index hook
    (:func:`bm25_index_streaming` folds per-epoch tf parts; tf is per-doc
    LOCAL, and every corpus-wide statistic BM25 needs — doc length
    Σtf, N, avgdl, df — is an aggregate OVER that relation, so serving
    from merged parts is value-IDENTICAL to the one-shot build).
    """
    x = (
        f"LN((ns.n - df.df + 0.5) / (df.df + 0.5) + 1.0) * "
        f"(tf.tf * ({k1} + 1)) / "
        f"(tf.tf + {k1} * (1 - {b} + {b} * dl.len / ns.avgdl))"
    )
    if tf_rel is not None:
        head = f"""
    WITH tf AS (SELECT doc_id, word, CAST(tf AS BIGINT) AS tf
                FROM {tf_rel} tfr),
    dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS len
           FROM tf GROUP BY doc_id),
    """
        q_src = f"SELECT DISTINCT word FROM tf WHERE doc_id = {query_doc}"
    else:
        tok = token_positions_sql(dialect, source)
        head = f"""
    WITH tok AS ({tok}),
    tf AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok WHERE word != '' GROUP BY doc_id, word),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len
           FROM tok WHERE word != '' GROUP BY doc_id),
    """
        q_src = (
            f"SELECT DISTINCT word FROM tok "
            f"WHERE doc_id = {query_doc} AND word != ''"
        )
    return f"""{head}
    ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
           FROM dl),
    df AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY word),
    q AS ({q_src}),
    contrib AS (
      SELECT tf.doc_id,
             CAST(FLOOR(({x}) * 1000000 + 0.5) AS BIGINT) AS ci
      FROM tf
      JOIN q ON q.word = tf.word
      JOIN df ON df.word = tf.word
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN ns
      WHERE tf.doc_id != {query_doc}
    ),
    scores AS (
      SELECT doc_id, CAST(SUM(ci) AS BIGINT) AS si
      FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, ROUND(CAST(si AS DOUBLE) / 1000000, 6) AS score, rk
    FROM (
      SELECT doc_id, si, CAST(ROW_NUMBER() OVER (
        ORDER BY si DESC, doc_id ASC) AS INT) AS rk
      FROM scores
    ) ranked WHERE rk <= {k}
    """


def hybrid_rrf_sql(
    dialect: str,
    k: int = 10,
    pool: int = 20,
    query_doc: int = 0,
    rrf_k: int = 60,
    dim: int = 4096,
    source: str = "documents",
) -> str:
    """Hybrid lexical + dense retrieval via Reciprocal Rank Fusion
    (Cormack et al. 2009) — the production search-stack composition:
    fuse the BM25 top-``pool`` (:func:`bm25_topk_sql`) and the
    hashed-embedding cosine top-``pool`` (:func:`hashed_text_knn_sql`)
    with ``score(d) = Σ_r 1/(rrf_k + rank_r(d))``, emit the fused
    top-``k``.

    Cross-engine exactness: each reciprocal becomes an INTEGER
    micro-unit ``floor(1e9/(rrf_k + rank) + 0.5)`` (the CLAUDE.md
    half-up idiom; both constituent ranks are already deterministic
    integer ranks), so the fused score is an exact BIGINT sum — no
    float ordering anywhere.  ``in_lex``/``in_dense`` expose which
    ranking(s) contributed, the standard fusion diagnostic.

    Scale shape: both constituents are bounded top-``pool`` relations
    (the heavy work — postings, df, tf — lives inside them and carries
    their documented 100-TB postures); the fusion itself is a
    ``≤ 2·pool``-row aggregate.

    This one-statement composition is the ORACLE form: nesting both
    builders under one optimizer defeats AQE's size estimation (the
    re-inlined CTEs hide relation sizes and the constituent joins fall
    to SortMergeJoin — plan-report caught exactly that).  The Spark
    entry runs :func:`hybrid_rrf` instead — each constituent executes
    standalone with its normal broadcast plan and the fusion runs over
    the two bounded results — so the gate hash-proves the two
    formulations against each other."""
    lex = bm25_topk_sql(dialect, query_doc=query_doc, k=pool, source=source)
    den = hashed_text_knn_sql(dialect, query_max=query_doc + 1, k=pool,
                              dim=dim, source=source)
    micro = f"CAST(FLOOR(1000000000.0 / ({rrf_k} + rk) + 0.5) AS BIGINT)"
    return f"""
    WITH u AS (
      SELECT doc_id, rk, 0 AS is_den FROM ({lex}) lex0
      UNION ALL
      SELECT n_id AS doc_id, rk, 1 AS is_den FROM ({den}) den0
      WHERE q_id = {query_doc}
    ),
    fused AS (
      SELECT doc_id,
             CAST(SUM({micro}) AS BIGINT) AS rrf_micro,
             CAST(SUM(is_den) AS BIGINT) AS in_dense,
             CAST(SUM(1 - is_den) AS BIGINT) AS in_lex
      FROM u GROUP BY doc_id
    )
    SELECT doc_id, rrf_micro, in_lex, in_dense, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT doc_id, rrf_micro, in_lex, in_dense,
             ROW_NUMBER() OVER (ORDER BY rrf_micro DESC, doc_id ASC) AS rk
      FROM fused
    ) ranked WHERE rk <= {k}
    """


def hybrid_rrf(
    spark,
    k: int = 10,
    pool: int = 20,
    query_doc: int = 0,
    rrf_k: int = 60,
    dim: int = 4096,
    source: str = "documents",
    posts_rel: str | None = None,
    tf_rel: str | None = None,
) -> DataFrame:
    """Spark serve form of :func:`hybrid_rrf_sql`: run the two
    constituent rankings as their own queries (each keeps its
    broadcast-join plan) and fuse the two bounded top-``pool`` results
    as a DataFrame aggregate — the bounded-constant posture.

    ``posts_rel``: serve the dense side from an already-materialized
    ``(doc_id, bucket, w)`` postings relation; ``tf_rel``: serve the
    lexical side from a maintained ``(doc_id, word, tf)`` relation —
    with BOTH set (the :func:`build_hybrid_text_index` artifact) a
    serve never re-tokenizes the corpus: two index reads plus the
    bounded fusion, the production search-stack shape."""
    lex = spark.sql(
        bm25_topk_sql("spark", query_doc=query_doc, k=pool,
                      source=source, tf_rel=tf_rel)
    )
    if posts_rel is not None:
        den_df = spark.sql(
            hashed_text_knn_sql("spark", query_max=query_doc + 1, k=pool,
                                dim=dim, source=source, posts_rel=posts_rel)
        )
    else:
        den_df = hashed_text_knn(spark, query_max=query_doc + 1, k=pool,
                                 dim=dim, source=source)
    den = (
        den_df
        .where(F.col("q_id") == query_doc)
        .select(F.col("n_id").alias("doc_id"), "rk")
    )
    return rrf_fuse(lex, den, k=k, rrf_k=rrf_k)


def rrf_fuse(lex, den, k: int = 10, rrf_k: int = 60):
    """Fuse two bounded ``(doc_id, rk)`` rankings by Reciprocal Rank
    Fusion with integer micro-unit scores (the exact-BIGINT discipline
    of :func:`hybrid_rrf_sql`) — the shared fusion tail for ANY pair of
    constituent retrievers (hashed-dense, BM25, the production IVF-PQ
    dense index in ``operators/similarity.py``).  Both inputs are
    bounded top-``pool`` relations, so the fusion is a ``≤ 2·pool``-row
    aggregate regardless of corpus size."""
    from pyspark.sql import Window

    lex = lex.select("doc_id", "rk").withColumn("is_den", F.lit(0))
    den = den.select("doc_id", "rk").withColumn("is_den", F.lit(1))
    micro = F.floor(
        F.lit(1_000_000_000.0) / (F.lit(rrf_k) + F.col("rk")) + F.lit(0.5)
    ).cast("bigint")
    fused = (
        lex.unionByName(den)
        .groupBy("doc_id")
        .agg(
            F.sum(micro).cast("bigint").alias("rrf_micro"),
            F.sum(F.lit(1) - F.col("is_den")).cast("bigint").alias("in_lex"),
            F.sum("is_den").cast("bigint").alias("in_dense"),
        )
    )
    w = Window.orderBy(F.col("rrf_micro").desc(), F.col("doc_id").asc())
    return (
        fused.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= k)
        .select("doc_id", "rrf_micro", "in_lex", "in_dense", "rk")
    )


def build_hybrid_text_index(
    spark, path: str, dim: int = 4096, source: str = "documents"
) -> None:
    """Materialize BOTH hybrid-RRF constituents' maintainable relations
    as an on-disk artifact (round 12, VERDICT r11 #3 — replaces the
    per-(session, sf) memo, so a fresh process READS instead of
    rebuilding):

    - ``tf/`` — ``(doc_id, word, tf)``, BM25's per-doc-local unit (the
      same relation :func:`bm25_index_streaming` maintains as parts);
      df/N/avgdl derive from it at serve, so serving from the artifact
      is value-identical to the inline build.
    - ``btf/`` — ``(doc_id, feat, c)`` bigram term frequencies
      (:func:`bigram_tf_sql`), ALSO per-doc local — the maintainable
      unit the postings derive from.
    - ``posts/`` — ``(doc_id, bucket, w)`` signed-hash bigram postings,
      derived FROM ``btf`` (value-identical to the direct form by the
      tf_rel contract), so maintenance can re-derive them without a
      corpus re-tokenize.

    Maintenance: :func:`append_to_hybrid_index` appends new docs' tf and
    btf rows (per-doc local — exact) and re-derives ``posts/`` from the
    merged btf — the GLOBAL df-damping recomputes, so the appended
    artifact is row-identical to a rebuild over the union, at
    vocabulary-scale cost (re-execution scales with corpus;
    materialization with vocabulary).  Takedown via the tombstone
    convention.  This builder is the one-shot form the gate's rebuild
    oracle recomputes — a stale artifact hash-fails."""
    from qradar_restapi_kafka_datapipeline_spark.operators.dedup import _spread

    src = _spread(spark.table(source), by="doc_id")
    tok = token_positions_sql("spark", "{src}")
    spark.sql(
        f"SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf "
        f"FROM ({tok}) t WHERE word != '' GROUP BY doc_id, word",
        src=src,
    ).write.mode("overwrite").parquet(f"{path}/tf")
    spark.sql(bigram_tf_sql("spark", "{src}"), src=src).write.mode(
        "overwrite"
    ).parquet(f"{path}/btf")
    spark.sql(
        hashed_embedding_postings_sql(
            "spark", dim,
            tf_rel=f"(SELECT doc_id, feat, c FROM parquet.`{path}/btf`)",
        )
    ).write.mode("overwrite").parquet(f"{path}/posts")


def append_to_hybrid_index(
    spark, path: str, new_source: str, dim: int = 4096
) -> None:
    """Incremental maintenance for the hybrid artifact: tokenize ONLY the
    new documents (tf and btf are per-doc local, so their appends are
    exact), then re-derive ``posts/`` from the merged btf — the global
    df-damping (stopword keep set, N) recomputes over the union, so the
    result is row-identical to :func:`build_hybrid_text_index` over the
    union corpus (pinned in pytest).  The posts rewrite is an aggregate
    over the STORED btf relation, never a corpus re-tokenize — one
    corpus-grain columnar scan whose measured cost stays ≤0.43× a full
    rebuild at 1–64× corpus and 1–3× vocabulary (DESIGN.md round-13
    append-cost curve; the incremental keep-set-delta design is recorded
    there for when a future curve tips the ratio); it swaps in behind
    the same two-rename protocol as the text-index compactions
    (heal-at-entry covers a prior mid-swap kill).  ``dim`` must match
    the build's.

    Replay safety (ADVICE r12 medium): the tf/btf appends are
    INDEPENDENTLY dedup'd — each new-doc relation anti-joins the already
    -stored doc_ids for THAT relation before appending, so a crash landing
    anywhere between the tf append, the btf append and the posts swap is
    healed by simply re-running the append: the already-landed rows append
    nothing (empty anti-join), the missing ones land, and the posts
    re-derive from the merged btf.  The probe joins broadcast the (batch
    -bounded) new-id set, so the stored-side scan is a pruned single
    -column pass — the O(batch) shape, never O(index)."""
    from qradar_restapi_kafka_datapipeline_spark.operators.dedup import _spread

    _recover_hybrid_index(spark, path)  # heal a prior mid-swap kill
    src = _spread(spark.table(new_source), by="doc_id")
    new_ids = spark.table(new_source).select("doc_id").distinct()

    def _dedup_new(df, stored: str):
        # doc_ids from the batch ALREADY present in the stored relation
        # (tiny: a subset of the batch) — a replayed append lands nothing.
        present = (
            spark.read.parquet(stored).select("doc_id")
            .join(F.broadcast(new_ids), "doc_id", "left_semi").distinct()
        )
        return df.join(F.broadcast(present), "doc_id", "left_anti")

    tok = token_positions_sql("spark", "{src}")
    _dedup_new(
        spark.sql(
            f"SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf "
            f"FROM ({tok}) t WHERE word != '' GROUP BY doc_id, word",
            src=src,
        ),
        f"{path}/tf",
    ).write.mode("append").parquet(f"{path}/tf")
    _dedup_new(
        spark.sql(bigram_tf_sql("spark", "{src}"), src=src), f"{path}/btf"
    ).write.mode("append").parquet(f"{path}/btf")
    _hybrid_swap(spark, path, "posts", _hybrid_posts(spark, path, dim),
                 "append_to_hybrid_index")


def delete_from_hybrid_index(spark, path: str, ids) -> None:
    """Tombstone deletes for the hybrid artifact — same append-only log
    convention as every other maintained index (idempotent, O(|ids|))."""
    append_tombstones(ids, tombstone_log(path))


def hybrid_index_rels(spark, path: str) -> tuple[str, str]:
    """``(tf_rel, posts_rel)`` for serving :func:`hybrid_rrf` from the
    artifact, with any tombstones masked.  Two-phase semantics, each
    side at its honest strength:

    - BM25 (tf) side: masking IS rebuild-exact immediately — df, N and
      avgdl all derive from the served relation at query time, so the
      anti-joined tf equals a rebuild over the remaining docs.
    - dense (posts) side: masking excludes deleted docs from results,
      but the postings' df-damping stays the one baked at build — the
      FROZEN-analyzer posture (``append_to_text_index``'s documented
      contract) until :func:`compact_hybrid_index` re-derives the
      postings from the remaining bigram-tf, after which the whole
      artifact is rebuild-exact again (pytest-pinned)."""
    tf = f"parquet.`{path}/tf`"
    posts = f"parquet.`{path}/posts`"
    log = tombstone_log(path)
    if not exists(spark, log):
        return tf, posts
    return (
        anti_join_sql(tf, ["doc_id", "word", "tf"], log),
        anti_join_sql(posts, ["doc_id", "bucket", "w"], log),
    )


def compact_hybrid_index(spark, path: str, dim: int = 4096) -> None:
    """Physical takedown for the hybrid artifact: drop the tombstoned
    docs' rows from ``tf/`` and ``btf/``, re-derive ``posts/`` from the
    remaining bigram-tf (the global df-damping recomputes — exactly the
    :func:`append_to_hybrid_index` motif), and clear the log.  After
    this the artifact is row-identical to a one-shot build over the
    remaining documents in all three relations.  Each relation swaps in
    behind the two-rename protocol; crash ordering is safe because the
    log is deleted last (interrupted states keep masking via
    :func:`hybrid_index_rels`)."""
    _recover_hybrid_index(spark, path)  # heal a prior mid-swap kill
    tomb = read_tombstones(spark, tombstone_log(path))
    if tomb is None:
        return
    for name in ("tf", "btf"):
        _hybrid_swap(
            spark, path, name,
            anti_join(spark.read.parquet(f"{path}/{name}"), tomb),
            "compact_hybrid_index",
        )
    _hybrid_swap(spark, path, "posts", _hybrid_posts(spark, path, dim),
                 "compact_hybrid_index")
    delete(spark, tombstone_log(path))


def _hybrid_staging(path: str, name: str) -> tuple[str, str]:
    """``(tmp, old)`` staging dirs of a hybrid-artifact relation swap."""
    return f"{path}/.{name}_swap_tmp", f"{path}/.{name}_swap_old"


def _recover_hybrid_index(spark, path: str) -> str:
    """Startup repair of the hybrid artifact: :func:`...parts.heal_swap`
    over the tf, btf and posts swaps; returns the most severe outcome."""
    return most_severe([
        heal_swap(spark, f"{path}/{name}", *_hybrid_staging(path, name))
        for name in ("tf", "btf", "posts")
    ])


def _hybrid_swap(spark, path: str, name: str, df, what: str) -> None:
    """Swap ``df`` in as the hybrid artifact's ``name`` relation."""
    swap_dir(
        spark, f"{path}/{name}", *_hybrid_staging(path, name),
        lambda tmp: df.write.mode("overwrite").parquet(tmp), what,
    )


def _hybrid_posts(spark, path: str, dim: int):
    """The hybrid artifact's postings, re-derived from its stored btf."""
    return spark.sql(hashed_embedding_postings_sql(
        "spark", dim,
        tf_rel=f"(SELECT doc_id, feat, c FROM parquet.`{path}/btf`)",
    ))


def _replay_docs(spark, source: str, n_batches: int, prefix: str, part_of,
                 crash_after_write_epoch, parts_out) -> str:
    """Replay the ``(doc_id, text)`` documents of ``source`` split by
    doc_id into per-epoch ``tf_parts`` under a fresh scratch dir; returns
    the parts dir (``parts_out`` gets it and the checkpoint)."""
    import os

    from qradar_restapi_kafka_datapipeline_spark.engine import scratch_dir

    base = scratch_dir(prefix)
    parts = os.path.join(base, "tf_parts")
    ckpt = replay_epochs(
        spark, spark.table(source).select("doc_id", "text"), ["doc_id"],
        n_batches, base, parts, part_of,
        crash_after_write_epoch=crash_after_write_epoch,
    )
    if parts_out is not None:
        parts_out.extend([parts, ckpt])
    return parts


def bm25_index_streaming(
    spark,
    query_doc: int = 0,
    k: int = 10,
    n_batches: int = 3,
    source: str = "documents",
    _crash_after_write_epoch: int | None = None,
    _parts_out: list | None = None,
):
    """Incremental full-text index maintenance (round 8): replay the
    corpus as an ``n_batches`` document stream and fold each micro-batch's
    ``(doc_id, word, tf)`` term relation as a PER-EPOCH immutable part
    (``tf_parts/epoch=N``) — the ClickHouse-parts commit protocol the
    sketch folds use (CLAUDE.md r7: replay overwrites exactly its own
    part; no read-merge-overwrite window exists).  tf is per-doc LOCAL,
    so disjoint-doc epochs never collide on a (doc, word) key, and every
    global BM25 statistic (df, N, avgdl) is an aggregate over the merged
    parts — serving from them is value-IDENTICAL to a one-shot build,
    which is exactly what the gate oracle checks (a lost or double-folded
    batch shifts df/avgdl and hash-fails).

    At 100 TB this is how the text index stays FRESH: each arriving
    partition lands one bounded tf part (tokenize + one narrow aggregate,
    no corpus rescan), reads merge per query, and
    :func:`...sketches.compact_sketch_parts` bounds the part count in the
    background ((doc_id, word) keys, ``{"tf": "sum"}`` — additive-safe
    even mid-stream because epochs partition documents).

    ``_crash_after_write_epoch``: crash-injection hook (raise once AFTER
    the part write, restart from the same checkpoint — the replay test).
    ``_parts_out``: appends the parts/checkpoint dirs for tests that
    compact or inspect the tree."""
    def tf(batch):
        return batch.sparkSession.sql(
            "SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM "
            f"({token_positions_sql('spark', '{batch}')}) t "
            "WHERE word != '' GROUP BY doc_id, word",
            batch=batch,
        )

    parts = _replay_docs(spark, source, n_batches, "bm25_stream_", tf,
                         _crash_after_write_epoch, _parts_out)
    merged = f"(SELECT doc_id, word, tf FROM parquet.`{parts}`)"
    return spark.sql(bm25_topk_sql("spark", query_doc, k, tf_rel=merged))


def chunk_index_streaming(
    spark,
    query_doc: int = 0,
    k: int = 10,
    size: int = 64,
    stride: int = 48,
    dim: int = 1024,
    n_batches: int = 3,
    source: str = "documents",
    _crash_after_write_epoch: int | None = None,
    _parts_out: list | None = None,
):
    """Incrementally-maintained RAG chunk index (round 8) — the
    :func:`bm25_index_streaming` motif applied to chunk retrieval: each
    document micro-batch lands its chunks' ``(composite_id, bigram, c)``
    term relation as an immutable per-epoch part (chunking is per-doc
    LOCAL, so batch-wise chunking equals corpus chunking restricted to
    the batch; replay overwrites exactly its own part).  Serving builds
    the hashed postings FROM the merged parts — df-damping and N are
    aggregates over that relation, so the streamed index answers
    :func:`chunk_knn_sql` value-identically to a one-shot build, which
    is what the gate oracle (static one-shot DuckDB) checks.  At 100 TB
    this is RAG index FRESHNESS: new documents contribute chunks with
    one bounded tokenize+chunk pass, no corpus rescan."""
    def chunk_tf(batch):
        return batch.sparkSession.sql(
            bigram_tf_sql(
                "spark", _chunk_composite_rel("spark", size, stride, "{batch}")
            ),
            batch=batch,
        )

    parts = _replay_docs(spark, source, n_batches, "chunk_ix_stream_",
                         chunk_tf, _crash_after_write_epoch, _parts_out)
    merged = f"(SELECT doc_id, feat, c FROM parquet.`{parts}`)"
    cp_sql = hashed_embedding_postings_sql("spark", dim, tf_rel=merged)
    return spark.sql(chunk_knn_sql(
        "spark", query_doc, k, size, stride, dim, source,
        chunk_postings_rel=cp_sql,
    ))


# ---------------------------------------------------------------------------
# Sliding-window document chunking (round 7) — the RAG/embedding-prep op:
# fixed-size token windows with stride/overlap, the preprocessing every
# retrieval corpus and long-context training mix runs before embedding.
# ---------------------------------------------------------------------------


def chunk_documents_sql(
    dialect: str,
    size: int = 64,
    stride: int = 48,
    source: str = "documents",
) -> str:
    """``(doc_id, chunk_start, n_tokens, chunk_text)`` — token windows of
    ``size`` starting at every multiple of ``stride`` below the doc
    length (the standard sliding window; consecutive chunks overlap by
    ``size - stride`` tokens).

    Scale shape: NO range join and NO per-doc sequence generation (the
    correlated generate_series trap, CLAUDE.md).  Each token at position
    p belongs to at most ``ceil(size/stride)`` windows, so membership is
    a CONSTANT-fan-out cross join with the K-row seeds relation:
    start = (p DIV stride − i)·stride for i < K, kept when start ≥ 0 and
    p − start < size.  One groupBy on (doc_id, start) reassembles chunks;
    the shuffle carries corpus tokens × K, linear at any scale.  Chunk
    text is deterministic in both engines (Spark: sort_array of (pos,
    word) structs; DuckDB: string_agg ORDER BY pos), so the entry
    hash-checks the exact chunk contents, not just counts."""
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    from qradar_restapi_kafka_datapipeline_spark.operators.sketches import (
        _seeds,
    )

    k = -(-size // stride)  # ceil: max windows containing one token
    tok = token_positions_sql(dialect, source)
    div = "DIV" if dialect == "spark" else "//"
    if dialect == "spark":
        text_agg = (
            "concat_ws(' ', transform(array_sort(collect_list("
            "named_struct('pos', pos, 'word', word))), x -> x.word))"
        )
    else:
        text_agg = "string_agg(word, ' ' ORDER BY pos)"
    return f"""
    WITH tok AS ({tok}),
    cand AS (
      SELECT t.doc_id, t.pos, t.word,
             ((t.pos {div} {stride}) - s.i) * {stride} AS cs
      FROM tok t CROSS JOIN ({_seeds(dialect, k)}) s
      WHERE ((t.pos {div} {stride}) - s.i) >= 0
        AND t.pos - ((t.pos {div} {stride}) - s.i) * {stride} < {size}
    )
    SELECT doc_id, CAST(cs AS BIGINT) AS chunk_start,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           {text_agg} AS chunk_text
    FROM cand
    GROUP BY doc_id, cs
    """


#: Composite chunk-id radix: ``doc_id · CHUNK_ID_MULT + chunk_start``.
#: 1e9 leaves room for ~9.2e9 documents AND a 1-billion-token chunk_start
#: (no real document approaches either).  The composite is internal — the
#: serving SQL decomposes it back — so the radix never shows in results.
CHUNK_ID_MULT = 1_000_000_000


def _chunk_composite_rel(
    dialect: str,
    size: int,
    stride: int,
    source: str,
    chunks_rel: str | None = None,
) -> str:
    """The chunked corpus re-keyed by the composite id, with an in-plan
    overflow guard (ADVICE r7): a chunk_start at or beyond the radix
    would silently collide with another document's chunks, so the guard
    RAISES (Spark ``assert_true``, DuckDB ``error``) instead of producing
    a wrong-but-plausible id.  The guard term adds 0 on every legal row
    and lives inside the doc_id expression so no optimizer prunes it."""
    if dialect == "spark":
        guard = (
            f"COALESCE(CAST(assert_true(chunk_start < {CHUNK_ID_MULT}, "
            f"'chunk_start overflows composite chunk id radix') "
            f"AS BIGINT), 0)"
        )
    else:
        guard = (
            f"CASE WHEN chunk_start < {CHUNK_ID_MULT} THEN 0 ELSE "
            f"CAST(error('chunk_start overflows composite chunk id radix')"
            f" AS BIGINT) END"
        )
    inner = chunks_rel or f"({chunk_documents_sql(dialect, size, stride, source)})"
    return (
        f"(SELECT doc_id * {CHUNK_ID_MULT} + chunk_start + {guard} "
        f"AS doc_id, chunk_text AS text "
        f"FROM {inner} ch)"
    )


def chunk_knn_sql(
    dialect: str,
    query_doc: int = 0,
    k: int = 10,
    size: int = 64,
    stride: int = 48,
    dim: int = 1024,
    source: str = "documents",
    chunk_postings_rel: str | None = None,
) -> str:
    """Retrieval over CHUNKS — the RAG serving composition (round 7):
    slide windows over the corpus (:func:`chunk_documents_sql`), embed
    each chunk with the shared signed-hash bigram features, and return
    the top-``k`` chunks for a query document by exact-integer cosine
    (BIGINT dot and squared norms, ONE final sqrt/divide — the discipline
    that keeps even approximate pipelines hash-checkable).

    Chunk identity rides a composite BIGINT id (``doc_id·CHUNK_ID_MULT +
    chunk_start``, overflow-guarded in-plan — see
    :func:`_chunk_composite_rel`) through the unchanged postings
    machinery and is decomposed back in the output.  Plan: postings build is linear in
    corpus tokens; the query vector is ≤ dim rows and broadcasts into the
    dot join; ranking is a global top-k.  ``chunk_postings_rel`` lets the
    Spark path inject a materialized postings relation (the one-statement
    form references it twice — dot and norms — and Spark re-executes a
    CTE per reference)."""
    chunks_rel = _chunk_composite_rel(dialect, size, stride, source)
    cp = chunk_postings_rel or hashed_embedding_postings_sql(
        dialect, dim, chunks_rel
    )
    # query vector = the corpus-wide postings restricted to the query doc:
    # the builder's df damping needs corpus statistics (a single-doc source
    # gives every bigram df=1 and the stopword predicate drops them ALL)
    qp = (
        f"SELECT doc_id, bucket, w FROM "
        f"({hashed_embedding_postings_sql(dialect, dim, source)}) qsrc "
        f"WHERE doc_id = {query_doc}"
    )
    div = "DIV" if dialect == "spark" else "//"
    # cp feeds both the norm aggregate and the dot join (and qp both qn
    # and dots): pin them MATERIALIZED for duckdb — inlined, the chunk
    # postings pipeline re-ran per consumer and the 64x-amplified oracle
    # OOM'd (round 8; the Spark path injects a materialized view instead).
    mat = "MATERIALIZED " if dialect == "duckdb" else ""
    return f"""
    WITH cp AS {mat}({cp}),
    qp AS {mat}({qp}),
    qn AS (SELECT CAST(SUM(w * w) AS BIGINT) AS n2 FROM qp),
    cn AS (
      SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2
      FROM cp GROUP BY doc_id
    ),
    dots AS (
      SELECT /*+ BROADCAST(q) */ c.doc_id,
             CAST(SUM(c.w * q.w) AS BIGINT) AS dot
      FROM cp c JOIN qp q ON q.bucket = c.bucket
      GROUP BY c.doc_id
    )
    SELECT CAST(d.doc_id {div} {CHUNK_ID_MULT} AS BIGINT) AS chunk_doc_id,
           CAST(d.doc_id % {CHUNK_ID_MULT} AS BIGINT) AS chunk_start,
           ROUND(CAST(d.dot AS DOUBLE)
                 / SQRT(CAST(cn.n2 AS DOUBLE) * CAST(qn.n2 AS DOUBLE))
                 + 1e-9, 6) AS cos
    FROM dots d
    JOIN cn ON cn.doc_id = d.doc_id
    CROSS JOIN qn
    WHERE d.dot > 0
    ORDER BY cos DESC, chunk_doc_id ASC, chunk_start ASC
    LIMIT {k}
    """


def chunk_knn(
    spark,
    query_doc: int = 0,
    k: int = 10,
    size: int = 64,
    stride: int = 48,
    dim: int = 1024,
    source: str = "documents",
    chunk_postings_df: DataFrame | None = None,
    doc_postings_df: DataFrame | None = None,
):
    """Spark path: materialize the chunk postings once (tokenize + chunk +
    hash lineage, referenced twice downstream — the expensive-lineage
    contract; pass ``chunk_postings_df`` to reuse a memoized one across
    queries, the serving posture), and PIN the ≤ dim-row query vector as a
    literal — the one-statement form re-derives the corpus-wide query
    postings per CTE reference (two extra tokenize passes).  With BOTH
    memoized relations supplied (``doc_postings_df`` for the query side), a
    repeated query pays only a pruned postings scan + the bounded rank."""
    cp = chunk_postings_df
    if cp is None:
        cp = build_chunk_postings(spark, size, stride, dim, source)
    q = (
        doc_postings_df
        if doc_postings_df is not None
        else spark.sql(hashed_embedding_postings_sql("spark", dim, source))
    ).where(f"doc_id = {query_doc}").select("doc_id", "bucket", "w")
    sql = chunk_knn_sql(
        "spark", query_doc, k, size, stride, dim, source,
        chunk_postings_rel="SELECT doc_id, bucket, w FROM {cp}",
    )
    # swap the inline query-postings derivation for the pinned vector
    return spark.sql(
        _swap_qp(sql, "{qvec}"),
        cp=cp,
        qvec=local_relation(spark, q.toArrow(), q.schema),
    )


def _swap_qp(sql: str, qname: str) -> str:
    """Replace the ``qp AS (...)`` derivation in :func:`chunk_knn_sql`'s
    output with a scan of the pinned query-vector relation (same columns)."""
    head, _, rest = sql.partition("qp AS (")
    depth, i = 1, 0
    while depth and i < len(rest):
        if rest[i] == "(":
            depth += 1
        elif rest[i] == ")":
            depth -= 1
        i += 1
    return (
        head
        + f"qp AS (SELECT doc_id, bucket, w FROM {qname})"
        + rest[i:]
    )


def chunk_postings(
    spark,
    size: int = 64,
    stride: int = 48,
    dim: int = 1024,
    source: str = "documents",
):
    """The chunk postings relation (the index-build half of chunk
    retrieval), unmaterialized."""
    chunks_rel = _chunk_composite_rel("spark", size, stride, source)
    return spark.sql(hashed_embedding_postings_sql("spark", dim, chunks_rel))


def build_chunk_postings(
    spark,
    size: int = 64,
    stride: int = 48,
    dim: int = 1024,
    source: str = "documents",
) -> DataFrame:
    """Materialize :func:`chunk_postings` and return the read-back
    relation.  The fixed materialize key keeps only the newest generations,
    so a caller that reuses the relation across queries materializes
    :func:`chunk_postings` under its own key instead."""
    from qradar_restapi_kafka_datapipeline_spark.engine import materialize_view

    return materialize_view(
        spark, chunk_postings(spark, size, stride, dim, source),
        "__chunk_postings",
    )


# ---------------------------------------------------------------------------
# Takedown path for the STREAMED text-side indexes (round 12, VERDICT r11 #1):
# deletes arrive as their own stream and land as per-epoch immutable tombstone
# parts — the exact commit protocol the tf parts use (replay overwrites its
# own part; no read-merge-overwrite window).  Serving anti-joins the merged
# tombstones, and because every global statistic (BM25 df/N/avgdl, postings
# df-damping) is an aggregate OVER the served tf relation, serve-after-delete
# is value-IDENTICAL to a one-shot rebuild over the remaining documents —
# which is exactly what the gate oracle recomputes.  compact_tf_parts drops
# the rows physically and clears the log.
# ---------------------------------------------------------------------------


def _stream_delete_parts(
    spark,
    deletes_df,
    n_batches: int = 2,
    _crash_after_write_epoch: int | None = None,
) -> str:
    """Stream a ``(doc_id)`` delete feed into per-epoch immutable tombstone
    parts (``del_parts/epoch=N``) and return the parts dir.  Same
    crash-replay contract as the tf-part folds: the epoch-keyed overwrite
    is the commit, a replayed batch rewrites its own part with the same
    deterministic rows, and the injected-crash hook restarts from the
    same checkpoint to prove it."""
    import os

    from qradar_restapi_kafka_datapipeline_spark.engine import scratch_dir

    base = scratch_dir("text_del_stream_")
    parts = os.path.join(base, "del_parts")
    replay_epochs(
        spark, deletes_df.select(F.col("doc_id").cast("bigint")).distinct(),
        ["doc_id"], n_batches, base, parts,
        lambda batch: batch.select("doc_id").distinct(),
        crash_after_write_epoch=_crash_after_write_epoch,
    )
    return parts


def text_index_delete_streaming(
    spark,
    query_doc: int = 1,
    k: int = 10,
    n_batches: int = 3,
    delete_pred: str = "doc_id % 9 = 0",
    n_delete_batches: int = 2,
    source: str = "documents",
    _crash_after_write_epoch: int | None = None,
    _parts_out: list | None = None,
):
    """The BM25 index takedown lifecycle end to end: build the streamed
    per-epoch tf parts (:func:`bm25_index_streaming`'s protocol), stream
    the documents matching ``delete_pred`` as per-epoch tombstone parts,
    and serve BM25 from MERGED-TF-ANTI-JOIN-MERGED-TOMBSTONES.  df, N and
    avgdl are aggregates over the served relation, so they shrink with the
    deletions — the non-trivial part of BM25 takedown (a doc's removal
    re-weights every query term it contained) falls out of the relational
    formulation for free, and the result is value-identical to a one-shot
    rebuild over the remaining documents (the gate oracle recomputes
    exactly that; a leaked tombstone or a stale df hash-fails).

    The crash hook injects a kill AFTER a tombstone-part write and
    restarts from the same checkpoint — replay overwrites its own part,
    so the served result is unchanged (pytest-pinned)."""
    po: list = []
    # stage 1: the maintained index — per-epoch tf parts over the corpus
    bm25_index_streaming(spark, query_doc, k, n_batches, source,
                         _parts_out=po)
    parts = po[0]
    # stage 2: the delete stream — per-epoch immutable tombstone parts
    dels = spark.table(source).where(delete_pred).select("doc_id")
    del_parts = _stream_delete_parts(
        spark, dels, n_delete_batches,
        _crash_after_write_epoch=_crash_after_write_epoch,
    )
    if _parts_out is not None:
        _parts_out.extend([parts, del_parts])
    # stage 3: serve from merged parts minus merged tombstones
    merged = anti_join_sql(f"parquet.`{parts}`", ["doc_id", "word", "tf"],
                           del_parts)
    return spark.sql(bm25_topk_sql("spark", query_doc, k, tf_rel=merged))


def chunk_index_delete_streaming(
    spark,
    query_doc: int = 1,
    k: int = 10,
    size: int = 64,
    stride: int = 48,
    dim: int = 1024,
    n_batches: int = 3,
    delete_pred: str = "doc_id % 9 = 0",
    n_delete_batches: int = 2,
    source: str = "documents",
    _crash_after_write_epoch: int | None = None,
    _parts_out: list | None = None,
):
    """Takedown for the RAG chunk index: document-grain tombstones mask
    every chunk of a deleted doc (the composite chunk id decodes its
    document — ``doc_id DIV CHUNK_ID_MULT`` — so the anti-join needs no
    chunk-level delete fan-out), and the postings df-damping/N rebuild
    over the remaining chunks at serve, value-identical to a one-shot
    chunk build over the remaining documents (the gate oracle).  The
    query side featurizes against the REMAINING corpus too — deletion
    shifts corpus df statistics, and a query vector damped by the stale
    corpus would diverge from the rebuild."""
    po: list = []
    chunk_index_streaming(spark, query_doc, k, size, stride, dim, n_batches,
                          source, _parts_out=po)
    parts = po[0]
    dels = spark.table(source).where(delete_pred).select("doc_id")
    del_parts = _stream_delete_parts(
        spark, dels, n_delete_batches,
        _crash_after_write_epoch=_crash_after_write_epoch,
    )
    if _parts_out is not None:
        _parts_out.extend([parts, del_parts])
    merged = anti_join_sql(f"parquet.`{parts}`", ["doc_id", "feat", "c"],
                           del_parts, key_mult=CHUNK_ID_MULT)
    cp_sql = hashed_embedding_postings_sql("spark", dim, tf_rel=merged)
    return spark.sql(
        chunk_knn_sql(
            "spark", query_doc, k, size, stride, dim, "{rem}",
            chunk_postings_rel=cp_sql,
        ),
        rem=spark.table(source).where(f"NOT ({delete_pred})"),
    )


def compact_tf_parts(
    spark, parts: str, del_parts: str | None = None, key_mult: int = 1
) -> int:
    """Physically fold the per-epoch tf parts MINUS the tombstoned docs
    into a single ``epoch=0`` part and drop the tombstone log — the
    maintenance step that bounds both the part count and the masked-row
    debt (the ``compact_ivf_index`` role for the text-side parts trees).
    ``key_mult``: composite-id radix for chunk-grain parts (doc-grain
    tombstones apply at ``doc_id DIV key_mult``).  Same two-rename swap
    protocol as the index compactions; serve-before ≡ serve-after is
    pytest-pinned.  Returns the number of live rows."""
    from qradar_restapi_kafka_datapipeline_spark.operators.sketches import (
        _compact_staging,
        recover_sketch_parts,
    )

    recover_sketch_parts(spark, parts)  # heal-at-entry (ADVICE r12)
    rel = spark.read.option("basePath", parts).parquet(parts)
    rel = rel.select(*[c for c in rel.columns if c != "epoch"])
    if del_parts is not None:
        rel = anti_join(rel, read_tombstones(spark, del_parts),
                        key_mult=key_mult)

    def write(tmp: str) -> int:
        rel.write.mode("overwrite").parquet(epoch_path(tmp, 0))
        return spark.read.parquet(epoch_path(tmp, 0)).count()

    n = swap_dir(spark, parts, *_compact_staging(parts), write,
                 "compact_tf_parts")
    if del_parts is not None:
        delete(spark, del_parts)
    return n
