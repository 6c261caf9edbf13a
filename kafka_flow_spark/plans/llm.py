"""LLM-data-pipeline queries over ``documents`` and ``embeddings`` (SURVEY.md §7 Phase 4).

Dedup (exact / word-set Jaccard / MinHash-LSH / SimHash), text analysis
(tokens, quality, language ID, fingerprints) and embedding similarity search.
Oracle notes are inline — everything except SimHash and the LSH ANN variant is
checked value-exact against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_flow_spark.operators import text as T
from kafka_flow_spark.operators.dedup import (
    duplicate_spans,
    remove_duplicate_spans,
    exact_duplicates,
    jaccard_pairs_blocked,
    minhash_lsh_pairs,
    simhash,
    winnowing_fingerprints,
)
from kafka_flow_spark.operators.similarity import (
    cosine_near_dup_pairs_matmul,
    knn_bruteforce,
    knn_lsh,
)
from kafka_flow_spark.plans.registry import register
from kafka_flow_spark.tables import load

# DuckDB expression for the distinct word-shingle set of normalized text
# (mirrors operators.text.normalize_text + word_shingles(n=1))
_DD_WORDSET = (
    "list_distinct(string_split_regex(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))"
)
# word 3-gram shingles over whitespace tokens of trimmed text
_DD_3GRAM = (
    "list_distinct(list_transform("
    " range(1, greatest(len(string_split_regex(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) - 2, 0) + 1),"
    " i -> list_aggr(list_slice(string_split_regex(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' '), i, i + 2),"
    "               'string_agg', ' ')))"
)


# --- exact dedup: single hash-aggregate on content fingerprint ---
@register(
    "q_dedup_exact",
    oracle="""
    SELECT md5(trim(lower(regexp_replace(text, '\\s+', ' ', 'g')))) AS text_hash,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
           COUNT(*) AS n_dups
    FROM documents GROUP BY 1
    """,
    bench=True,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_duplicates(load(spark, sf_dir, "documents"), "text", "doc_id")


# --- blocked exact word-set Jaccard near-dup pairs ---
@register(
    "q_dedup_wordset_jaccard",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, n_chars, {_DD_WORDSET} AS sh FROM documents)
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           ROUND(len(list_intersect(a.sh, b.sh)) * 1.0
                 / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jac
    FROM t a JOIN t b
      ON a.lang = b.lang AND a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 30
    WHERE ROUND(len(list_intersect(a.sh, b.sh)) * 1.0
                / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.95
    """,
)
def q_dedup_wordset_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs_blocked(
        load(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        block_cols=["lang"],
        length_col="n_chars",
        length_band=30,
        threshold=0.95,
    )


# --- MinHash+LSH near-dup candidates, exact-verified (oracle = all-pairs truth) ---
@register(
    "q_dedup_minhash_lsh",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DD_3GRAM} AS sh FROM documents)
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           ROUND(len(list_intersect(a.sh, b.sh)) * 1.0
                 / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jac
    FROM t a JOIN t b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.7
    """,
    bench=True,
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates + exact verify ≥ 0.7 on word-3-gram shingles.

    The oracle is the brute-force all-pairs truth; LSH recall at these
    parameters (k=64, 16 bands × 4 rows) is deterministic-complete for the
    testdata (verified in tests) and ~1 - 4e-8 for jac=0.9 pairs generally.
    """
    return minhash_lsh_pairs(
        load(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        k=64,
        bands=16,
        threshold=0.7,
    )


# --- SimHash fingerprints: md5-bit token hashes + 64 bit-vote aggregates, all
# JVM-side; the oracle regenerates the identical bits from DuckDB's md5 ---
def _simhash_oracle(table: str = "documents") -> str:
    votes = []
    for b in range(64):
        i, j = b // 4 + 1, 3 - (b % 4)  # nibble index (1-based), MSB-first bit
        votes.append(
            f"SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
            f" >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        )
    bits = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END" for b in range(63)
    )
    bits += f" + CASE WHEN v63 > 0 THEN CAST({-(1 << 63)} AS BIGINT) ELSE 0 END"
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_distinct(string_split(
               trim(lower(regexp_replace(COALESCE(text, ''), '\\s+', ' ', 'g'))), ' '))) AS tok
      FROM {table}),
    th AS (SELECT doc_id, md5(tok) AS h FROM toks WHERE tok <> ''),
    votes AS (SELECT doc_id, {", ".join(votes)} FROM th GROUP BY doc_id)
    SELECT d.doc_id, CAST(COALESCE(({bits}), 0) AS BIGINT) AS simhash
    FROM {table} d LEFT JOIN votes v ON d.doc_id = v.doc_id
    """


@register("q_simhash_fingerprints", oracle=_simhash_oracle())
def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(load(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "q_simhash_near_dup_pairs",
    oracle=f"""
    WITH dd AS (SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text),
    sh AS ({_simhash_oracle("dd")})
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def q_simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-≤3 SimHash near-dup pairs via pigeonhole chunk blocking
    (operators/dedup.py simhash_pairs) — exact recall over the fingerprints,
    (k+1)-chunk equi-join, no quadratic scan; the oracle brute-forces
    all-pairs XOR popcount over the same bit-exact fingerprints.  Dedupe-
    first: byte-identical texts collapse to a representative before pair
    discovery (the standard exact-then-near pipeline order — identical
    texts have identical fingerprints, so carrying them through blocking
    just multiplies every block by the duplicate count)."""
    from kafka_flow_spark.operators.dedup import simhash_pairs

    dd = (
        load(spark, sf_dir, "documents")
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return simhash_pairs(dd, "doc_id", "text", max_hamming=3)


# --- winnowing (rolling-hash) fingerprints.  The operator's md5 hash mode
# exists exactly so this oracle can reproduce fingerprint VALUES: DuckDB folds
# the same first-15-hex-digits of md5(3-gram) by Horner and runs the same
# sliding-min window.  The substring-sharing guarantee is additionally
# property-tested in tests/test_winnowing.py ---
_WINNOW_ORACLE = """
    WITH t AS (
      SELECT doc_id,
             string_split(trim(lower(regexp_replace(COALESCE(text, ''), '\\s+', ' ', 'g'))), ' ') AS toks
      FROM documents),
    g AS (SELECT doc_id, unnest(range(1, greatest(len(toks) - 1, 1))) AS i, toks FROM t),
    h AS (
      SELECT doc_id, CAST(i - 1 AS INT) AS pos,
             list_reduce(
               list_transform(range(1, 16), d ->
                 CAST(strpos('0123456789abcdef',
                      substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), d, 1)) - 1
                      AS BIGINT)),
               (a, b) -> a * 16 + b) % 2147483647 AS fh
      FROM g),
    w AS (
      SELECT doc_id, pos,
             MIN(fh) OVER win AS fingerprint,
             COUNT(*) OVER win = 4 AS is_full
      FROM h
      WINDOW win AS (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING))
    SELECT DISTINCT doc_id, fingerprint FROM w WHERE is_full OR pos = 0
    """


@register("q_winnowing_fingerprints", oracle=_WINNOW_ORACLE)
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnowing_fingerprints(load(spark, sf_dir, "documents"), "doc_id", "text")


# --- exact duplicated token spans (substring-level dedup, Lee et al. 2021
# semantics at n-gram granularity).  Oracle shares the md5→first-15-hex→Horner
# fold with the winnowing oracle, generalized to 8-grams, then runs the same
# duplicate-hash semi-join + gaps-and-islands merge in SQL. ---
def _span_oracle(n: int = 8) -> str:
    gram = " || ' ' || ".join(f"toks[i+{j}]" if j else "toks[i]" for j in range(n))
    return f"""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(lower(regexp_replace(COALESCE(text, ''), '\\s+', ' ', 'g'))), ' ') AS toks
      FROM documents),
    g AS (SELECT doc_id, unnest(range(1, greatest(len(toks) - {n - 2}, 1))) AS i, toks FROM t),
    h AS (
      SELECT doc_id, CAST(i - 1 AS INT) AS pos,
             list_reduce(
               list_transform(range(1, 16), d ->
                 CAST(strpos('0123456789abcdef', substr(md5({gram}), d, 1)) - 1
                      AS BIGINT)),
               (a, b) -> a * 16 + b) % 2147483647 AS fh
      FROM g),
    dup AS (SELECT fh FROM h GROUP BY fh HAVING COUNT(*) >= 2),
    hits AS (SELECT doc_id, pos FROM h WHERE fh IN (SELECT fh FROM dup)),
    isl AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN prev IS NULL OR pos - prev > {n} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM (SELECT doc_id, pos,
                   LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
            FROM hits))
    SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + {n - 1} AS span_end,
           MAX(pos) + {n - 1} - MIN(pos) + 1 AS span_tokens
    FROM isl GROUP BY doc_id, island
    """


def _span_cut_oracle(n: int = 8) -> str:
    """Span detection (as _span_oracle) + the keep-first cut: fingerprint each
    span occurrence by md5 of its token slice, cut rank>=2 occurrences, rebuild
    each doc from the uncut positions of the normalized token stream."""
    gram = " || ' ' || ".join(f"toks[i+{j}]" if j else "toks[i]" for j in range(n))
    return f"""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(lower(regexp_replace(COALESCE(text, ''), '\\s+', ' ', 'g'))), ' ') AS toks
      FROM documents),
    g AS (SELECT doc_id, unnest(range(1, greatest(len(toks) - {n - 2}, 1))) AS i, toks FROM t),
    h AS (
      SELECT doc_id, CAST(i - 1 AS INT) AS pos,
             list_reduce(
               list_transform(range(1, 16), d ->
                 CAST(strpos('0123456789abcdef', substr(md5({gram}), d, 1)) - 1
                      AS BIGINT)),
               (a, b) -> a * 16 + b) % 2147483647 AS fh
      FROM g),
    dup AS (SELECT fh FROM h GROUP BY fh HAVING COUNT(*) >= 2),
    hits AS (SELECT doc_id, pos FROM h WHERE fh IN (SELECT fh FROM dup)),
    isl AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN prev IS NULL OR pos - prev > {n} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM (SELECT doc_id, pos,
                   LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
            FROM hits)),
    sp AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + {n - 1} AS e
           FROM isl GROUP BY doc_id, island),
    fp AS (SELECT sp.doc_id, sp.s, sp.e,
                  md5(array_to_string(list_slice(t.toks, sp.s + 1, sp.e + 1), ' ')) AS f
           FROM sp JOIN t ON sp.doc_id = t.doc_id),
    cut AS (SELECT doc_id, s, e FROM (
              SELECT doc_id, s, e,
                     ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id, s) AS rk
              FROM fp)
            WHERE rk > 1),
    tk AS (SELECT doc_id, CAST(unnest(range(len(toks))) AS INT) AS pos, toks FROM t),
    tk2 AS (SELECT doc_id, pos, toks[pos + 1] AS tok FROM tk),
    clean AS (
      SELECT tk2.doc_id,
             string_agg(tk2.tok, ' ' ORDER BY tk2.pos) AS clean_text,
             COUNT(*) AS n_kept
      FROM tk2 LEFT JOIN cut c
        ON tk2.doc_id = c.doc_id AND tk2.pos BETWEEN c.s AND c.e
      WHERE c.doc_id IS NULL
      GROUP BY tk2.doc_id)
    SELECT t.doc_id,
           COALESCE(clean.clean_text, '') AS clean_text,
           CAST(len(t.toks) - COALESCE(clean.n_kept, 0) AS INT) AS n_tokens_removed
    FROM t LEFT JOIN clean ON t.doc_id = clean.doc_id
    """


@register("q_remove_duplicate_spans", oracle=_span_cut_oracle(8))
def q_remove_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cut step of substring dedup: rewrite documents with duplicated
    8-gram spans removed, first occurrence of each repeated passage kept."""
    return remove_duplicate_spans(
        load(spark, sf_dir, "documents"), "doc_id", "text", shingle_n=8
    )


@register("q_duplicate_spans", oracle=_span_oracle(8))
def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated 8-gram token spans across the corpus — the
    substring-dedup primitive (find what's repeated, then cut or drop)."""
    return duplicate_spans(load(spark, sf_dir, "documents"), "doc_id", "text", shingle_n=8)


# --- text statistics / quality scoring ---
@register(
    "q_text_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, text,
             CASE WHEN trim(text) = '' THEN []
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks,
             length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct
      FROM documents),
    s AS (
      SELECT doc_id, text, n_punct,
             CAST(len(toks) AS INT) AS n_tokens,
             CAST(len(list_filter(toks, x -> list_contains(
                  ['the','a','and','of','to','is'], lower(x)))) AS INT) AS n_stopwords
      FROM t)
    SELECT doc_id, n_tokens, n_stopwords, CAST(n_punct AS INT) AS n_punct,
           CASE WHEN n_tokens = 0 THEN 0.0
                ELSE n_stopwords * 1.0 / n_tokens END AS stop_ratio,
           ROUND(LEAST(n_tokens / 50.0, 1.0) * 0.5
                 + LEAST(CASE WHEN n_tokens = 0 THEN 0.0
                              ELSE n_stopwords * 1.0 / n_tokens END * 5.0, 1.0) * 0.5
                 - LEAST(n_punct * 1.0 / GREATEST(length(text), 1) * 2.0, 1.0) * 0.25,
                 4) AS quality
    FROM s
    """,
    bench=True,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize ONCE, derive every stat from the materialized token array.

    The à-la-carte helpers (T.token_count, T.quality_score, …) each re-split
    the text; composing five of them re-tokenizes five times because Catalyst
    does not do common-subexpression elimination across higher-order-function
    trees — measured 2× slower at sf0.1.  Staging the token array (and the
    punct count) in one projection keeps a single split/regex pass per row,
    which is the shape that matters when the corpus is 100 TB of text.
    """
    d = load(spark, sf_dir, "documents")
    stops = F.array(*[F.lit(s) for s in T.STOPWORDS["en"]])
    base = d.select(
        "doc_id",
        "text",
        T.tokens("text").alias("_toks"),
        T.punct_count("text").alias("_np"),
    ).select(
        "doc_id",
        "text",
        "_np",
        F.size("_toks").alias("_nt"),
        F.size(F.filter("_toks", lambda t: F.array_contains(stops, F.lower(t)))).alias("_ns"),
    )
    stop_ratio = F.when(F.col("_nt") == 0, F.lit(0.0)).otherwise(
        F.col("_ns").cast("double") / F.col("_nt").cast("double")
    )
    return base.select(
        "doc_id",
        F.col("_nt").alias("n_tokens"),
        F.col("_ns").alias("n_stopwords"),
        F.col("_np").cast("int").alias("n_punct"),
        stop_ratio.alias("stop_ratio"),
        F.round(
            F.least(F.col("_nt").cast("double") / F.lit(50.0), F.lit(1.0)) * 0.5
            + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.5
            - F.least(
                F.col("_np").cast("double")
                / F.greatest(F.length("text").cast("double"), F.lit(1.0))
                * 2.0,
                F.lit(1.0),
            )
            * 0.25,
            4,
        ).alias("quality"),
    )


# --- heuristic language identification ---
@register(
    "q_lang_id",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             CASE WHEN trim(text) = '' THEN []
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks,
             length(text) - length(regexp_replace(text, '[^\\u4e00-\\u9fff]', '', 'g')) AS cjk
      FROM documents),
    s AS (
      SELECT doc_id, lang, cjk,
        CAST(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','is'], lower(x)))) AS BIGINT) AS s_en,
        CAST(len(list_filter(toks, x -> list_contains(['el','la','de','que','los'], lower(x)))) AS BIGINT) AS s_es,
        CAST(len(list_filter(toks, x -> list_contains(['le','la','les','et','des'], lower(x)))) AS BIGINT) AS s_fr,
        CAST(len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], lower(x)))) AS BIGINT) AS s_de
      FROM t)
    SELECT doc_id, lang,
           CASE WHEN cjk > 0 THEN 'zh'
                WHEN GREATEST(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
                WHEN s_en = GREATEST(s_en, s_es, s_fr, s_de) THEN 'en'
                WHEN s_es = GREATEST(s_en, s_es, s_fr, s_de) THEN 'es'
                WHEN s_fr = GREATEST(s_en, s_es, s_fr, s_de) THEN 'fr'
                ELSE 'de' END AS predicted_lang
    FROM s
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", T.lang_id("text").alias("predicted_lang"))


@register(
    "q_langid_confusion",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             CASE WHEN trim(text) = '' THEN []
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks,
             length(text) - length(regexp_replace(text, '[^\\u4e00-\\u9fff]', '', 'g')) AS cjk
      FROM documents),
    s AS (
      SELECT doc_id, lang, cjk,
        CAST(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','is'], lower(x)))) AS BIGINT) AS s_en,
        CAST(len(list_filter(toks, x -> list_contains(['el','la','de','que','los'], lower(x)))) AS BIGINT) AS s_es,
        CAST(len(list_filter(toks, x -> list_contains(['le','la','les','et','des'], lower(x)))) AS BIGINT) AS s_fr,
        CAST(len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], lower(x)))) AS BIGINT) AS s_de
      FROM t),
    p AS (
      SELECT lang,
             CASE WHEN cjk > 0 THEN 'zh'
                  WHEN GREATEST(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
                  WHEN s_en = GREATEST(s_en, s_es, s_fr, s_de) THEN 'en'
                  WHEN s_es = GREATEST(s_en, s_es, s_fr, s_de) THEN 'es'
                  WHEN s_fr = GREATEST(s_en, s_es, s_fr, s_de) THEN 'fr'
                  ELSE 'de' END AS predicted_lang
      FROM s)
    SELECT lang, predicted_lang, COUNT(*) AS n,
           CAST((COUNT(*) * 1000000)
                // SUM(COUNT(*)) OVER (PARTITION BY lang) AS BIGINT) AS row_ppm
    FROM p GROUP BY lang, predicted_lang
    """,
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: labeled lang vs heuristic prediction,
    with per-true-lang row fractions in exact ppm — the model-eval summary
    on top of q_lang_id's per-doc predictions (same proven oracle
    fragment).  One map-combinable aggregate + a window over the tiny
    (lang, predicted) domain."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    p = d.select("lang", T.lang_id("text").alias("predicted_lang"))
    counts = p.groupBy("lang", "predicted_lang").agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.withColumn("_total", F.sum("n").over(Window.partitionBy("lang")))
        .withColumn("row_ppm", F.expr("(n * 1000000) div _total"))
        .drop("_total")
    )


# --- document fingerprinting ---
@register(
    "q_doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(lower(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", T.fingerprint("text").alias("fingerprint"))


# --- BPE-ish token counting ---
@register(
    "q_token_bpe_count",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS INT)
             AS n_bpe_tokens
    FROM documents
    """,
)
def q_token_bpe_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", T.bpe_token_count("text").alias("n_bpe_tokens"))


# --- embedding norms (per-row, ordered fold → bit-exact both sides) ---
@register(
    "q_embedding_norms",
    oracle="""
    SELECT vec_id, label,
           ROUND(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
    FROM embeddings
    """,
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    return e.select("vec_id", "label", F.round(F.sqrt(sq), 4).alias("l2_norm"))


# --- exact top-k cosine similarity search ---
# shared by q_knn_bruteforce and q_knn_bruteforce_arrow: both operators promise
# the identical output contract (top-5 cosine, ties on neighbor_id ASC), so the
# same all-pairs truth is the oracle for each
_KNN_ORACLE = """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
    sims AS (
      SELECT q.vec_id AS q_id, v.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(q.e, v.e),
                      p -> p[1] * p[2]))
             / (sqrt(list_sum(list_transform(q.e, x -> x * x)))
                * sqrt(list_sum(list_transform(v.e, x -> x * x)))) AS sim
      FROM v q JOIN v ON q.vec_id < 10 AND v.vec_id != q.vec_id)
    SELECT q_id, neighbor_id, ROUND(sim, 4) AS sim, rank FROM (
      SELECT q_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM sims)
    WHERE rank <= 5
    """


@register("q_knn_bruteforce", oracle=_KNN_ORACLE)
def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    out = knn_bruteforce(e, e.filter(F.col("vec_id") < 10), k=5)
    return out.select("q_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rank")


# --- binary sign codes + Hamming kNN (the 1-bit ANN scale path) -------------

# md5-free bit idiom: sign-bit packing + xor/popcount are native integer ops
# in BOTH engines, so the oracle mirrors the arithmetic directly.
def _bq_word(w: int) -> str:
    """One 32-bit sign word: MSB-first acc*2+bit fold — the exact fold
    binary_quantize runs, so words are engine-identical."""
    return (
        f"""list_reduce(list_transform(range(32),
        i -> CASE WHEN embedding[{w} * 32 + i + 1] > 0 THEN CAST(1 AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END), (a, b) -> a * 2 + b)"""
    )


_BQ_SIG = f"[{_bq_word(0)}, {_bq_word(1)}]"


@register(
    "q_knn_hamming",
    oracle=f"""
    WITH s AS (SELECT vec_id, {_BQ_SIG} AS sig FROM embeddings
              WHERE embedding IS NOT NULL),
    q AS (SELECT vec_id AS q_id, sig AS q_sig FROM s WHERE vec_id < 10),
    d AS (SELECT q.q_id, s.vec_id AS neighbor_id,
                 CAST(list_sum(list_transform(list_zip(q.q_sig, s.sig),
                      p -> bit_count(xor(p[1], p[2])))) AS INT) AS dist
          FROM q JOIN s ON s.vec_id <> q.q_id)
    SELECT q_id, neighbor_id, dist, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
                 PARTITION BY q_id ORDER BY dist ASC, neighbor_id ASC) AS INT) AS rank
      FROM d) WHERE rank <= 5
    """,
)
def q_knn_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors by Hamming distance over sign-bit binary codes
    (operators/similarity.py knn_hamming) — the 1-bit quantized ANN path
    next to int8 (q_knn_quantized): 32× less corpus I/O, xor+popcount
    distance.  Same probe set as q_knn_bruteforce; the oracle mirrors the
    bit arithmetic exactly (no rounding anywhere)."""
    from kafka_flow_spark.operators.similarity import knn_hamming

    e = load(spark, sf_dir, "embeddings")
    return knn_hamming(e, e.filter(F.col("vec_id") < 10), dim=64, k=5)


@register(
    "q_knn_hamming_rerank",
    oracle=f"""
    WITH s AS (SELECT vec_id, {_BQ_SIG} AS sig, embedding FROM embeddings
               WHERE embedding IS NOT NULL),
    q AS (SELECT vec_id AS q_id, sig AS q_sig, embedding AS q_emb FROM s WHERE vec_id < 10),
    d AS (SELECT q.q_id, s.vec_id AS neighbor_id,
                 CAST(list_sum(list_transform(list_zip(q.q_sig, s.sig),
                      p -> bit_count(xor(p[1], p[2])))) AS INT) AS dist
          FROM q JOIN s ON s.vec_id <> q.q_id),
    cand AS (SELECT q_id, neighbor_id FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist, neighbor_id) AS hr
      FROM d) WHERE hr <= 20),
    r AS (SELECT c.q_id, c.neighbor_id,
                 list_sum(list_transform(list_zip(
                     list_transform(q.q_emb, x -> CAST(x AS DOUBLE)),
                     list_transform(s.embedding, x -> CAST(x AS DOUBLE))),
                   p -> p[1] * p[2]))
                 / (sqrt(list_sum(list_transform(q.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(s.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                 AS sim
          FROM cand c JOIN q ON c.q_id = q.q_id
                      JOIN s ON c.neighbor_id = s.vec_id)
    SELECT q_id, neighbor_id, ROUND(sim, 4) AS sim, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank
      FROM r) WHERE rank <= 5
    """,
)
def q_knn_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-index search with exact refine (operators/similarity.py
    knn_hamming_rerank): Hamming top-20 sign-code candidates, exact cosine
    re-rank to top-5 — the faiss binary+refine pattern, fully
    oracle-mirrored (bit arithmetic + the established round-4 cosine)."""
    from kafka_flow_spark.operators.similarity import knn_hamming_rerank

    e = load(spark, sf_dir, "embeddings")
    out = knn_hamming_rerank(e, e.filter(F.col("vec_id") < 10), dim=64, k=5, m=20)
    return out.select(
        "q_id", "neighbor_id", F.round("sim", 4).alias("sim"), F.col("rank").cast("int").alias("rank")
    )


# --- JL random projection (Achlioptas sparse signs, FLOOR-e6 exact) ---------


def _rp_oracle(in_dim: int = 64, out_dim: int = 8, tag: str = "rp-v1") -> str:
    """Generated mirror of operators/similarity.random_projection: the SAME
    hashlib-derived sign matrix is unrolled into literal signed-term chains,
    so both engines evaluate the identical left-assoc double fold."""
    import hashlib

    sel = ["vec_id"]
    for j in range(out_dim):
        terms = []
        for i in range(in_dim):
            h = int(hashlib.md5(f"{tag}:{j}:{i}".encode()).hexdigest()[:6], 16) % 6
            if h == 0:
                terms.append(("+", i))
            elif h == 1:
                terms.append(("-", i))
        if not terms:
            expr = "0.0"
        else:
            s0, i0 = terms[0]
            expr = ("-" if s0 == "-" else "") + f"CAST(embedding[{i0 + 1}] AS DOUBLE)"
            for s, i in terms[1:]:
                expr += f" {s} CAST(embedding[{i + 1}] AS DOUBLE)"
        sel.append(f"CAST(FLOOR(({expr}) * 1000000.0) AS BIGINT) AS p{j}")
    return "SELECT " + ", ".join(sel) + " FROM embeddings"


@register("q_random_projection", oracle=_rp_oracle())
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64 -> 8 dim JL reduction (operators/similarity.random_projection) —
    the ANN-preprocessing step between raw embeddings and the quantized/
    binary index paths.  Zero shuffles; FLOOR-e6 bigint output keeps the
    cross-engine compare exact."""
    from kafka_flow_spark.operators.similarity import random_projection

    return random_projection(load(spark, sf_dir, "embeddings"))


# --- embedding-cosine near-dup pairs (lossless band blocking; oracle = all-pairs) ---
@register(
    "q_dedup_embedding_cosine",
    oracle="""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings)
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           ROUND(list_sum(list_transform(list_zip(a.e, b.e), p -> p[1] * p[2]))
                 / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
                    * sqrt(list_sum(list_transform(b.e, x -> x * x)))), 4) AS cos_sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(list_zip(a.e, b.e), p -> p[1] * p[2]))
          / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
             * sqrt(list_sum(list_transform(b.e, x -> x * x)))) >= 0.40
    """,
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs at cosine ≥ 0.40 (the testdata has no planted
    high-cosine dups — max pair ≈ 0.51 — so the gate threshold sits below
    that).  At low thresholds no metric blocking can prune, so this uses the
    exact block-matmul path (cosine_near_dup_pairs_matmul); the band-blocked
    variant (cosine_near_dup_pairs) is the high-threshold strategy and is
    equivalence-tested against this one.  Oracle = brute-force all-pairs truth.

    NOT bench-flagged: the t=0.40 all-pairs matmul is quadratic BY DESIGN
    and refuses past `_auto_n_blocks` — a correctness gate, not a plan that
    survives 100×.  The bench's embedding near-dup line is
    ``q_semantic_dedup_pairs`` (cluster-then-prune, O(N²/cells)).
    """
    return cosine_near_dup_pairs_matmul(
        load(spark, sf_dir, "embeddings"), threshold=0.40
    )


@register("q_semantic_dedup_pairs", bench=True)
def q_semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs at cosine ≥ 0.9 via SemDeDup cluster-then-prune —
    the embedding near-dup plan that SURVIVES scale: spherical-k-means cells
    sized to ~200 vectors (n_cells grows with the corpus), quadratic only
    within a cell, int-keyed cell-join shuffle.  Random-projection banding
    cannot prune isotropic high-dim data (projections concentrate in
    ~1/sqrt(dim), far narrower than the t=0.9 band width sqrt(2-2t)), and
    the exact matmul is quadratic — cluster-then-prune is the 100 TB
    strategy (Abbas et al. 2023, arXiv:2303.09540).  Rows-only: the trained
    quantizer is not SQL-expressible; recall and subset tests vs the exact
    operator live in tests/test_similarity.py."""
    from kafka_flow_spark.operators.similarity import semantic_dedup_pairs

    e = load(spark, sf_dir, "embeddings")
    n_cells = max(16, min(2048, e.count() // 200))
    return semantic_dedup_pairs(e, threshold=0.9, n_cells=n_cells, n_probe=2)


# --- IVF ANN (coarse-quantizer inverted lists; rows-only, recall-tested) ---
@register("q_knn_ivf")
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flow_spark.operators.similarity import knn_ivf

    e = load(spark, sf_dir, "embeddings")
    out = knn_ivf(e, e.filter(F.col("vec_id") < 10), k=5, n_cells=16, n_probe=4)
    return out.select("q_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rank")


# --- quantized-centroid Lloyd: the VALUE-EXACT member of the ANN training
# story (operators/clustering.py) — fixed-iteration k-means over FLOOR-e6
# vectors with sum-div-n integer centroids, mirrored as an unrolled CTE
# chain (the PageRank-oracle pattern) ---
_KM_K, _KM_ITERS = 8, 2
_KM_NPROBE, _KM_TOPK, _KM_NQUERIES = 2, 5, 100

_QUANT = (
    "list_transform(embedding, v -> "
    "CAST(FLOOR(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))"
)


def _kmeans_ctes(k: int, iters: int) -> tuple[str, str]:
    """The unrolled Lloyd CTE chain; returns (cte_sql, final_assign_alias).
    Each round: d<i> scores every (point, centroid) pair with the exact
    bigint squared distance, a<i> keeps the argmin (ties to smaller cid),
    s<i>/c<i> re-quantize centroids via truncating `//` (== Spark div)."""
    parts = [
        f"pts AS (SELECT vec_id, {_QUANT} AS xe FROM embeddings)",
        "c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INT) AS cid,"
        " xe AS ce FROM (SELECT vec_id, xe FROM pts ORDER BY vec_id"
        f" LIMIT {k}))",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"d{i} AS (SELECT p.vec_id, p.xe, c.cid, "
            "CAST(list_sum(list_transform(list_zip(p.xe, c.ce), "
            "q -> (q[1]-q[2])*(q[1]-q[2]))) AS BIGINT) AS dist "
            f"FROM pts p CROSS JOIN c{i-1} c)"
        )
        parts.append(
            f"a{i} AS (SELECT vec_id, xe, cid, dist FROM "
            "(SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id "
            f"ORDER BY dist, cid) AS rn FROM d{i}) WHERE rn = 1)"
        )
        if i < iters:
            parts.append(
                f"s{i} AS (SELECT cid, i AS d, CAST(SUM(xe[i+1]) AS BIGINT)"
                " AS s, COUNT(*) AS n FROM (SELECT cid, xe,"
                f" UNNEST(range(len(xe))) AS i FROM a{i}) GROUP BY cid, i)"
            )
            parts.append(
                f"c{i} AS (SELECT cid, list(s // n ORDER BY d) AS ce"
                f" FROM s{i} GROUP BY cid)"
            )
    return ",\n    ".join(parts), f"a{iters}"


def _kmeans_cells_oracle() -> str:
    ctes, fin = _kmeans_ctes(_KM_K, _KM_ITERS)
    return f"""
    WITH {ctes}
    SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(CAST(dist AS HUGEINT)) // 1000000 AS BIGINT) AS inertia_e6
    FROM {fin} GROUP BY cid
    """


@register("q_kmeans_cells", oracle=_kmeans_cells_oracle(), bench=True)
def q_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration quantized-centroid Lloyd over the embeddings corpus
    (operators/clustering.kmeans_quantized): 8 cells, deterministic
    smallest-id init, 2 assignment rounds, integer-exact throughout —
    k-means TRAINING as an oracle-checked query (the sampled iterative
    trainers behind q_knn_ivf/ivfpq stay rows-only; this is their
    value-exact sibling).  Per-cell (n_points, inertia_e6) pins both the
    final assignment and the distance geometry."""
    from kafka_flow_spark.operators.clustering import kmeans_summary

    e = load(spark, sf_dir, "embeddings")
    return kmeans_summary(e, "vec_id", "embedding", k=_KM_K, iters=_KM_ITERS)


def _ivf_exact_oracle() -> str:
    ctes, fin = _kmeans_ctes(_KM_K, _KM_ITERS)
    # the FINAL centroids are the ones the last assignment used: c<iters-1>
    cfin = f"c{_KM_ITERS - 1}"
    return f"""
    WITH {ctes},
    q AS (SELECT vec_id AS qid, {_QUANT} AS qxe,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id < {_KM_NQUERIES}),
    pq AS (SELECT qid, qv, cid FROM
            (SELECT q.qid, q.qv, c.cid,
                    ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                      CAST(list_sum(list_transform(list_zip(q.qxe, c.ce),
                        z -> (z[1]-z[2])*(z[1]-z[2]))) AS BIGINT), c.cid) AS pr
             FROM q CROSS JOIN {cfin} c)
           WHERE pr <= {_KM_NPROBE}),
    corp AS (SELECT a.vec_id AS nid, a.cid,
                    list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS nv
             FROM {fin} a JOIN embeddings e ON e.vec_id = a.vec_id),
    cand AS (SELECT pq.qid, corp.nid,
                    CAST(FLOOR(
                      list_sum(list_transform(list_zip(pq.qv, corp.nv),
                                              z -> z[1] * z[2]))
                      / (sqrt(list_sum(list_transform(pq.qv, x -> x * x)))
                         * sqrt(list_sum(list_transform(corp.nv, x -> x * x))))
                      * 1000000.0) AS BIGINT) AS cos_e6
             FROM pq JOIN corp ON corp.cid = pq.cid
             WHERE corp.nid != pq.qid)
    SELECT query_id, rank, neighbor_id, cos_e6 FROM
      (SELECT qid AS query_id, nid AS neighbor_id, cos_e6,
              CAST(ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY cos_e6 DESC, nid) AS INT) AS rank
       FROM cand)
    WHERE rank <= {_KM_TOPK}
    """


@register("q_knn_ivf_exact", oracle=_ivf_exact_oracle())
def q_knn_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with every stage value-exact (operators/clustering.
    ivf_exact_knn): quantized-Lloyd cells (q_kmeans_cells' training), probe
    the 2 nearest cells per query (first 100 vec_ids), exact FLOOR-e6
    cosine re-rank of ONLY the probed cells — the oracle-gated twin of the
    rows-only sampled-IVF q_knn_ivf: same search shape and the same
    deterministic cell-bounded recall, but train → probe → re-rank all
    hash-match DuckDB."""
    from kafka_flow_spark.operators.clustering import ivf_exact_knn

    e = load(spark, sf_dir, "embeddings")
    return ivf_exact_knn(
        e, "vec_id", "embedding",
        queries=e.filter(F.col("vec_id") < _KM_NQUERIES),
        k=_KM_TOPK, n_cells=_KM_K, iters=_KM_ITERS, nprobe=_KM_NPROBE,
    )


# --- IVF-PQ (Jégou et al. TPAMI'11): product-quantized inverted file with
# ADC shortlist + exact re-rank.  Rows-only: the trained coarse + residual
# codebooks are not SQL-expressible; recall vs brute force and re-ranked
# sim exactness are pinned in tests/test_similarity.py ---
@register("q_knn_ivfpq")
def q_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flow_spark.operators.similarity import knn_ivfpq

    e = load(spark, sf_dir, "embeddings")
    out = knn_ivfpq(e, e.filter(F.col("vec_id") < 10), k=5, n_cells=16, n_probe=4)
    return out.select("q_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rank")


# --- PQ encode arithmetic, oracle-gated against constant-grid codebooks.
# k-means training keeps q_knn_ivfpq rows-only, but the encode math
# (normalize / subspace slice / per-code squared distance / argmin
# first-index tie-break / reconstruction error) is codebook-agnostic —
# this query pins it value-exact vs DuckDB, and the numpy-vs-expression
# differential in tests/test_similarity.py carries the proof to the
# trained-codebook pq_encode path (VERDICT r5 next-round #5) ---
_PQ_LEVELS = (-0.3, -0.1, 0.1, 0.3)
_PQ_M = 8


def _pq_grid_fragments():
    """Shared SQL fragments of the grid-codebook gates (encode + ADC):
    normalized vector, per-(subspace, level) 6dp-rounded squared-distance
    columns, argmin code CASEs, per-subspace min terms."""
    norm = "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    vn = (
        "list_transform(embedding, x -> CAST(x AS DOUBLE) / "
        f"greatest({norm}, 1e-12))"
    )
    sub = f"(len(vn) // {_PQ_M})"
    score_cols, code_cases, err_terms = [], [], []
    for mi in range(_PQ_M):
        sl = f"list_slice(vn, {mi} * {sub} + 1, ({mi} + 1) * {sub})"
        for j, g in enumerate(_PQ_LEVELS):
            score_cols.append(
                f"ROUND(list_sum(list_transform({sl}, "
                f"x -> (x - ({g})) * (x - ({g})))), 6) AS s{mi}_{j}"
            )
        least = f"least({', '.join(f's{mi}_{j}' for j in range(len(_PQ_LEVELS)))})"
        case = "CASE " + " ".join(
            f"WHEN s{mi}_{j} = {least} THEN {j}"
            for j in range(len(_PQ_LEVELS))
        ) + " END"
        code_cases.append(case)
        err_terms.append(least)
    return vn, score_cols, code_cases, err_terms


def _pq_grid_oracle() -> str:
    vn, score_cols, code_cases, err_terms = _pq_grid_fragments()
    return f"""
    WITH v AS (SELECT vec_id, {vn} AS vn FROM embeddings),
    s AS (SELECT vec_id, {', '.join(score_cols)} FROM v)
    SELECT vec_id,
           array_to_string([{', '.join(code_cases)}], '-') AS codes,
           ROUND({' + '.join(err_terms)}, 4) AS recon_err
    FROM s
    """


@register("q_pq_codes", oracle=_pq_grid_oracle())
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-codebook PQ encode over the embeddings corpus — the
    oracle-gated proof of the PQ encode arithmetic (see
    operators/similarity.py pq_encode_grid_expr).

    The codes array is flattened to a '-'-joined string: the driver's
    canonicalizer hashes via pandas and cannot hash list cells, so every
    oracle-gated query must emit scalar top-level columns only (enforced
    registry-wide by tests/test_plan_audit.py::test_oracle_outputs_are_scalar).
    """
    from kafka_flow_spark.operators.similarity import pq_encode_grid_expr

    e = load(spark, sf_dir, "embeddings")
    out = pq_encode_grid_expr(
        e, "vec_id", "embedding", levels=_PQ_LEVELS, m_subspaces=_PQ_M
    )
    return out.select(
        "vec_id",
        F.array_join(F.col("codes").cast("array<string>"), "-").alias("codes"),
        "recon_err",
    )


def _adc_grid_oracle(shortlist: int = 20) -> str:
    """Generated mirror of operators/similarity.adc_shortlist_grid: corpus
    codes from the proven encode fragments, per-query LUT = the same 6dp
    score columns, ADC = left-assoc sum of code-selected terms, FLOOR-e6."""
    vn, score_cols, code_cases, _ = _pq_grid_fragments()
    code_sel = [f"({case}) AS c{mi}" for mi, case in enumerate(code_cases)]
    terms = []
    for mi in range(_PQ_M):
        sel = "CASE c.c" + str(mi) + " " + " ".join(
            f"WHEN {j} THEN q.s{mi}_{j}" for j in range(len(_PQ_LEVELS))
        ) + " END"
        terms.append(f"({sel})")
    return f"""
    WITH v AS (SELECT vec_id, {vn} AS vn FROM embeddings),
    s AS (SELECT vec_id, {', '.join(score_cols)} FROM v),
    c AS (SELECT vec_id, {', '.join(code_sel)} FROM s),
    q AS (SELECT * FROM s WHERE vec_id < 10),
    a AS (SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
                 CAST(FLOOR(({' + '.join(terms)}) * 1000000.0) AS BIGINT) AS adc_e6
          FROM q JOIN c ON c.vec_id != q.vec_id)
    SELECT q_id, neighbor_id, adc_e6, rank FROM (
      SELECT q_id, neighbor_id, adc_e6,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY q_id ORDER BY adc_e6, neighbor_id) AS INT) AS rank
      FROM a)
    WHERE rank <= {shortlist}
    """


@register("q_ivfpq_adc_shortlist", oracle=_adc_grid_oracle())
def q_ivfpq_adc_shortlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-codebook ADC shortlist over the embeddings corpus — the oracle-
    gated proof of the IVF-PQ SEARCH arithmetic (see
    operators/similarity.py adc_shortlist_grid; encode half proven by
    q_pq_codes, LUT+lookup+rank half proven here)."""
    from kafka_flow_spark.operators.similarity import adc_shortlist_grid

    e = load(spark, sf_dir, "embeddings")
    return adc_shortlist_grid(
        e,
        e.filter(F.col("vec_id") < 10),
        levels=_PQ_LEVELS,
        m_subspaces=_PQ_M,
        shortlist=20,
    )


# --- SemDeDup (Abbas et al. 2023): cluster-then-prune semantic dedup.
# r7: the REGISTERED query runs the prune contract on deterministic
# sign-bucket cells (operators/similarity.semantic_dedup_lsh) so the
# driver can value-check the dedup decision end-to-end; the trained
# spherical-k-means + BLAS path (semantic_dedup / q_semantic_dedup_pairs)
# stays the 100 TB throughput form, rows-only, with the n_planes=0 ==
# n_cells=1 differential in tests/test_similarity.py tying the two. ---


def _semantic_dedup_lsh_oracle(
    dim: int = 64, n_planes: int = 4, seed: int = 7, threshold: float = 0.40
) -> str:
    from kafka_flow_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed=seed)
    dot_cols = []
    for i in range(n_planes):
        chain = " + ".join(
            f"CAST(embedding[{d + 1}] AS DOUBLE) * ({planes[i][d]!r})"
            for d in range(dim)
        )
        dot_cols.append(f"({chain}) AS d_{i}")
    bucket = " + ".join(
        f"(CASE WHEN d_{i} >= 0 THEN {1 << i} ELSE 0 END)" for i in range(n_planes)
    )
    return f"""
    WITH dots AS (SELECT vec_id, label, embedding, {', '.join(dot_cols)} FROM embeddings),
    v AS (SELECT vec_id, label, ({bucket}) AS cell,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM dots),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE list_sum(list_transform(list_zip(a.e, b.e), p -> p[1] * p[2]))
            / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
               * sqrt(list_sum(list_transform(b.e, x -> x * x)))) >= {threshold})
    SELECT label, COUNT(*) AS n_kept, MIN(vec_id) AS min_vec_id
    FROM v WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
    GROUP BY label
    """


@register("q_semantic_dedup", oracle=_semantic_dedup_lsh_oracle())
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flow_spark.operators.similarity import semantic_dedup_lsh

    e = load(spark, sf_dir, "embeddings")
    kept = semantic_dedup_lsh(e, threshold=0.40, dim=64, n_planes=4)
    return kept.groupBy("label").agg(
        F.count("*").alias("n_kept"),
        F.min("vec_id").alias("min_vec_id"),
    )


# --- approximate ANN via hyperplane LSH — FULLY oracle-gated (r7):
# unlike IVF/IVF-PQ there is NO training step anywhere in this query — the
# hyperplanes are a seeded deterministic matrix (operators/similarity.py
# _hyperplanes), so every stage (sign-bucket assignment, multiprobe XOR
# fan-out, candidate equi-join, exact cosine re-rank, top-k) has an exact
# SQL form.  The plane dots are unrolled literal signed-term chains (the
# q_random_projection generated-oracle pattern — left-assoc double folds
# are IEEE-identical across engines), so a bucket sign can never flip
# cross-engine; the re-rank cosine is the established round-4 contract. ---


def _lsh_oracle(
    dim: int = 64, n_planes: int = 4, n_tables: int = 8, k: int = 5
) -> str:
    from kafka_flow_spark.operators.similarity import _hyperplanes

    dot_cols, bucket_cols = [], []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed=42 + t)
        for i in range(n_planes):
            chain = " + ".join(
                f"CAST(embedding[{d + 1}] AS DOUBLE) * ({planes[i][d]!r})"
                for d in range(dim)
            )
            dot_cols.append(f"({chain}) AS d_{t}_{i}")
        b = " + ".join(
            f"(CASE WHEN d_{t}_{i} >= 0 THEN {1 << i} ELSE 0 END)"
            for i in range(n_planes)
        )
        bucket_cols.append(f"({b}) AS b_{t}")
    corpus = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, b_{t} AS bucket, embedding FROM b"
        for t in range(n_tables)
    )
    probe_rows = []
    for t in range(n_tables):
        probe_rows.append(f"SELECT vec_id, {t} AS tbl, b_{t} AS bucket FROM qb")
        for i in range(n_planes):
            probe_rows.append(
                f"SELECT vec_id, {t} AS tbl, xor(b_{t}, {1 << i}) AS bucket FROM qb"
            )
    probes = " UNION ALL ".join(probe_rows)
    # MATERIALIZED: inlined, the 2048-term plane dots would be re-planned and
    # recomputed for each of the ~50 references to ``b`` (20x the time).
    return f"""
    WITH dots AS MATERIALIZED (SELECT vec_id, embedding, {', '.join(dot_cols)} FROM embeddings),
    b AS MATERIALIZED (SELECT vec_id, embedding, {', '.join(bucket_cols)} FROM dots),
    corpus AS ({corpus}),
    qb AS (SELECT * FROM b WHERE vec_id < 10),
    probes AS ({probes}),
    cand AS (
      SELECT DISTINCT p.vec_id AS q_id, c.vec_id AS neighbor_id
      FROM probes p JOIN corpus c ON p.tbl = c.tbl AND p.bucket = c.bucket
      WHERE c.vec_id != p.vec_id),
    sims AS (
      SELECT cand.q_id, cand.neighbor_id,
             list_sum(list_transform(list_zip(
                 list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
                 v.e), p -> p[1] * p[2]))
             / (sqrt(list_sum(list_transform(q.embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(v.e, x -> x * x)))) AS sim
      FROM cand
      JOIN qb q ON cand.q_id = q.vec_id
      JOIN (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings) v ON cand.neighbor_id = v.vec_id)
    SELECT q_id, neighbor_id, ROUND(sim, 4) AS sim, rank FROM (
      SELECT q_id, neighbor_id, sim,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank
      FROM sims)
    WHERE rank <= {k}
    """


@register("q_knn_lsh", oracle=_lsh_oracle())
def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table multiprobe hyperplane-LSH kNN — value-exact vs the
    generated literal-plane oracle (rows-only until r7; the seeded plane
    matrix makes the whole query deterministic, so the driver can gate
    bucket assignment, probe fan-out, AND the re-ranked result)."""
    e = load(spark, sf_dir, "embeddings")
    out = knn_lsh(e, e.filter(F.col("vec_id") < 10), k=5, dim=64)  # tuned defaults (4×8)
    return out.select("q_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rank")


# --- BLAS-path exact kNN (mapInPandas matmul; same contract as the expression
# path, so it shares the all-pairs oracle).  This is the scale path — SIMD
# matmul per Arrow block vs interpreted per-element HOF cosines — so IT
# carries the bench flag; the expression path stays as the pure-JVM baseline ---
@register("q_knn_bruteforce_arrow", oracle=_KNN_ORACLE, bench=True)
def q_knn_bruteforce_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flow_spark.operators.similarity import knn_bruteforce_arrow

    e = load(spark, sf_dir, "embeddings")
    out = knn_bruteforce_arrow(e, e.filter(F.col("vec_id") < 10), k=5)
    return out.select("q_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rank")


# --- 1→N unnest (UDTF/explode surface): per-word counts over documents ---
@register(
    "q_explode_word_counts",
    oracle="""
    WITH words AS (
      SELECT UNNEST(string_split_regex(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS w
      FROM documents WHERE length(trim(text)) > 0
    )
    SELECT w AS word, COUNT(*) AS n
    FROM words WHERE w <> ''
    GROUP BY w HAVING COUNT(*) >= 10
    """,
)
def q_explode_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode = the UDTF-shaped 1→N operator (SURVEY.md §2.2 UDTF row);
    partial aggregation collapses word counts map-side before one shuffle."""
    d = load(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    words = d.select(
        F.explode(T.tokens(T.normalize_text("text"))).alias("word")
    ).filter(F.col("word") != "")
    return words.groupBy("word").agg(F.count("*").alias("n")).filter(F.col("n") >= 10)


# --- exact edit-distance pairs (record linkage; lossless length-band blocking) ---
@register(
    "q_fuzzy_customer_names",
    oracle="""
    WITH g AS (SELECT c_name, MIN(c_custkey) AS rid FROM customer GROUP BY c_name)
    SELECT a.rid AS a_id, b.rid AS b_id,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
    FROM g a JOIN g b ON a.rid < b.rid
    WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
      AND levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def q_fuzzy_customer_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customer-name pairs within edit distance 1 — dedupe-first
    record linkage (operators/dedup.py edit_distance_pairs; exact, recall
    1.0 via positional deletion-neighborhood blocking).  Identical names are
    grouped to a representative key first — the operationally-correct
    linkage shape at scale (the all-id-pairs expansion is |group_a|x
    |group_b| per linked name pair: a join on the output, not a reason to
    carry duplicates through the quadratic discovery step)."""
    from kafka_flow_spark.operators.dedup import edit_distance_pairs

    g = (
        load(spark, sf_dir, "customer")
        .groupBy("c_name")
        .agg(F.min("c_custkey").alias("rid"))
    )
    return edit_distance_pairs(g, "rid", "c_name", max_dist=1)


# --- prefix-filtered EXACT set-similarity self-join (All-Pairs/PPJoin
# candidate rule) — lossless Jaccard >= t with no semantic blocking; the
# oracle is the plain quadratic truth over the same 3-gram shingle sets ---
_SH3 = (
    "list_distinct(list_transform("
    "range(1, greatest(len(string_split_regex(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) - 2, 0) + 1),"
    " i -> array_to_string((string_split_regex(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))[i:i+2], ' ')))"
)


@register(
    "q_dedup_jaccard_prefix",
    oracle=f"""
    WITH dd AS (SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text),
    t AS (SELECT doc_id, {_SH3} AS sh FROM dd WHERE len({_SH3}) > 0)
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           ROUND(len(list_intersect(a.sh, b.sh)) * 1.0
                 / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jac
    FROM t a JOIN t b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
    """,
)
def q_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard ≥ 0.8 pairs via rare-first prefix
    filtering (operators/dedup.py jaccard_pairs_prefix) — recall 1.0, no
    blocking assumptions; the oracle brute-forces all pairs.  Dedupe-first
    (same pipeline order as q_simhash_near_dup_pairs): byte-identical texts
    collapse to a representative before pair discovery — identical texts
    are jac-1.0 by definition, and carrying them through the prefix index
    multiplies every rare-shingle posting by the duplicate count."""
    from kafka_flow_spark.operators.dedup import jaccard_pairs_prefix

    dd = (
        load(spark, sf_dir, "documents")
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return jaccard_pairs_prefix(dd, "doc_id", "text", threshold=0.8, shingle_n=3)


@register(
    "q_containment_pairs",
    oracle=f"""
    WITH dd AS (SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text),
    t AS (SELECT doc_id, {_SH3} AS sh FROM dd WHERE len({_SH3}) > 0)
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 / len(a.sh), 4)
             AS containment
    FROM t a JOIN t b ON a.doc_id != b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0 / len(a.sh) >= 0.9
    """,
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional 3-gram-shingle containment >= 0.9 pairs (doc a mostly
    inside doc b) via the asymmetric prefix filter
    (operators/dedup.py containment_pairs_prefix) — the excerpt/boilerplate
    inclusion case Jaccard misses; oracle brute-forces all directed pairs.
    Dedupe-first, same rationale as q_dedup_jaccard_prefix."""
    from kafka_flow_spark.operators.dedup import containment_pairs_prefix

    dd = (
        load(spark, sf_dir, "documents")
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return containment_pairs_prefix(dd, "doc_id", "text", threshold=0.9, shingle_n=3)


@register(
    "q_dedup_incremental",
    bench=True,
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DD_3GRAM} AS sh FROM documents),
    p AS (
      SELECT a.doc_id AS x, b.doc_id AS y,
             len(list_intersect(a.sh, b.sh)) * 1.0
             / len(list_distinct(list_concat(a.sh, b.sh))) AS jac
      FROM t a JOIN t b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.7
        AND (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0))
    SELECT CASE WHEN x % 10 = 0 THEN x ELSE y END AS a_id,
           CASE WHEN x % 10 = 0 THEN y ELSE x END AS b_id,
           ROUND(jac, 4) AS jac
    FROM p
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-increment near-dup discovery: docs with doc_id % 10 = 0 play the
    incoming batch, the rest the already-indexed corpus; only pairs touching
    the new batch are discovered (operators/dedup.py
    minhash_lsh_pairs_incremental), never old-vs-old.  Same k=64/16-band/
    jac>=0.7 contract as q_dedup_minhash_lsh; oracle is the brute-force
    truth restricted to new-touching pairs, a_id normalized to the new doc."""
    from kafka_flow_spark.operators.dedup import minhash_lsh_pairs_incremental

    docs = load(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 10 == 0)
    old = docs.where(F.col("doc_id") % 10 != 0)
    return minhash_lsh_pairs_incremental(
        old, new, id_col="doc_id", text_col="text", k=64, bands=16, threshold=0.7
    )


@register(
    "q_dedup_indexed_increment",
    bench=True,
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DD_3GRAM} AS sh FROM documents),
    p AS (
      SELECT a.doc_id AS x, b.doc_id AS y,
             len(list_intersect(a.sh, b.sh)) * 1.0
             / len(list_distinct(list_concat(a.sh, b.sh))) AS jac
      FROM t a JOIN t b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.7
        AND (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0))
    SELECT CASE WHEN x % 10 = 0 THEN x ELSE y END AS a_id,
           CASE WHEN x % 10 = 0 THEN y ELSE x END AS b_id,
           ROUND(jac, 4) AS jac
    FROM p
    """,
)
def q_dedup_indexed_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORED-INDEX form of q_dedup_incremental — same split, same
    brute-force oracle, but the old side is materialized once as a parquet
    LSH index (operators/dedup.py save_minhash_index: partitioned band
    table + shingle-set table + params contract) and the increment query
    reads it back (minhash_lsh_pairs_indexed) instead of re-computing the
    corpus signatures.  This is the production daily-increment shape: the
    index build amortizes across every future increment, and at sf10 the
    indexed query runs 8.1 s vs 25.4 s recompute, same window (PERF.md
    r6).  Both forms
    hash-match the same oracle, which IS the index-read == recompute proof
    at the driver's gate (plus the explicit roundtrip differential in
    tests/test_curation.py)."""
    import os

    import kafka_flow_spark
    from kafka_flow_spark.operators.dedup import (
        ensure_minhash_index,
        minhash_lsh_pairs_indexed,
    )

    docs = load(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 10 == 0)
    old = docs.where(F.col("doc_id") % 10 != 0)
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    # anchored at the repo root (not the cwd) so the driver can invoke the
    # registry from anywhere; spark-warehouse/ is the gitignored scratch area
    root = os.path.dirname(os.path.dirname(os.path.abspath(kafka_flow_spark.__file__)))
    path = os.path.join(root, "spark-warehouse", f"minhash_index_{tag}")
    # build-if-absent: the index is durable storage, not a cache — repeated
    # invocations (the sweep, bench's per-run rebuild of cache-bearing
    # handles) must time the INCREMENT, not the one-time build
    ensure_minhash_index(old, "doc_id", "text", path, k=64, bands=16, shingle_n=3)
    return minhash_lsh_pairs_indexed(
        new, "doc_id", "text", path, threshold=0.7
    )


# --- bigram-LM perplexity filtering (CCNet/KenLM-style) ---------------------

_LM_TOKS = """
    CASE WHEN trim(text) = '' THEN []
         ELSE string_split_regex(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') END
"""


@register(
    "q_lm_perplexity",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source = 'src0' AS is_ref, {_LM_TOKS} AS toks
      FROM documents),
    pr AS (SELECT doc_id, is_ref, toks, UNNEST(range(len(toks) - 1)) AS i
           FROM t WHERE len(toks) >= 2),
    g AS (SELECT doc_id, is_ref, toks[i + 1] AS w1, toks[i + 2] AS w2 FROM pr),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM g WHERE is_ref GROUP BY w1, w2),
    c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY w1),
    vv AS (SELECT COUNT(DISTINCT tok) AS v
           FROM (SELECT UNNEST(toks) AS tok FROM t WHERE is_ref)),
    dg AS (SELECT doc_id, w1, w2, COUNT(*) AS n
           FROM g WHERE NOT is_ref GROUP BY doc_id, w1, w2),
    sc AS (SELECT dg.doc_id, dg.n,
                  CAST(ROUND(LN(CAST(COALESCE(c12.c12, 0) + 1 AS DOUBLE)
                                / CAST(COALESCE(c1.c1, 0) + vv.v AS DOUBLE))
                             * 1000000) AS BIGINT) AS term
           FROM dg LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1)
           CROSS JOIN vv)
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_bigrams,
           CAST(SUM(n * term) AS BIGINT) AS logprob_scaled,
           CAST(SUM(n * term) // SUM(n) AS BIGINT) AS avg_logprob_scaled
    FROM sc GROUP BY doc_id
    """,
)
def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filter signal (operators/lm.py
    bigram_lm_scores): every non-src0 document scored under the add-one
    bigram LM fit on the src0 slice — exact micro-nat bigint sums, so the
    length-normalized avg_logprob_scaled column is the engine-independent
    keep/bucket signal a curation pipeline thresholds on."""
    from kafka_flow_spark.operators.lm import bigram_lm_scores

    docs = load(spark, sf_dir, "documents")
    return bigram_lm_scores(
        docs, "doc_id", "text", F.col("source") == "src0"
    )


_LM_LN, _LM_LD = 7, 10  # λ = 0.7, the interpolation weight


@register(
    "q_lm_perplexity_interp",
    bench=True,
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source = 'src0' AS is_ref, {_LM_TOKS} AS toks
      FROM documents),
    pr AS (SELECT doc_id, is_ref, toks, UNNEST(range(len(toks) - 1)) AS i
           FROM t WHERE len(toks) >= 2),
    g AS (SELECT doc_id, is_ref, toks[i + 1] AS w1, toks[i + 2] AS w2 FROM pr),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM g WHERE is_ref GROUP BY w1, w2),
    c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY w1),
    u AS (SELECT UNNEST(toks) AS tok FROM t WHERE is_ref),
    c2 AS (SELECT tok AS w2, COUNT(*) AS c2 FROM u GROUP BY tok),
    vv AS (SELECT COUNT(DISTINCT tok) AS v, COUNT(*) AS ntok FROM u),
    sc AS (SELECT dg.doc_id, dg.n,
                  CAST(ROUND(LN(
                    CAST(CASE WHEN COALESCE(c1.c1, 0) > 0
                         THEN {_LM_LN} * CAST(COALESCE(c12.c12, 0) AS HUGEINT)
                                * (vv.ntok + vv.v)
                              + {_LM_LD - _LM_LN}
                                * CAST(COALESCE(c2.c2, 0) + 1 AS HUGEINT) * c1.c1
                         ELSE CAST(COALESCE(c2.c2, 0) + 1 AS HUGEINT) END AS DOUBLE)
                    / CAST(CASE WHEN COALESCE(c1.c1, 0) > 0
                           THEN {_LM_LD} * CAST(c1.c1 AS HUGEINT) * (vv.ntok + vv.v)
                           ELSE CAST(vv.ntok + vv.v AS HUGEINT) END AS DOUBLE))
                    * 1000000) AS BIGINT) AS term
           FROM (SELECT doc_id, w1, w2, COUNT(*) AS n
                 FROM g WHERE NOT is_ref GROUP BY doc_id, w1, w2) dg
           LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1)
           LEFT JOIN c2 USING (w2)
           CROSS JOIN vv)
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_bigrams,
           CAST(SUM(n * term) AS BIGINT) AS logprob_scaled,
           CAST(SUM(n * term) // SUM(n) AS BIGINT) AS avg_logprob_scaled
    FROM sc GROUP BY doc_id
    """,
)
def q_lm_perplexity_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stolcke-interpolated bigram LM scoring (operators/lm.py
    bigram_lm_scores_interp, λ=0.7): the KenLM-family upgrade of
    q_lm_perplexity — frequent reference bigrams keep ~λ·ML probability
    instead of being crushed by the add-one +V denominator, unseen grams
    fall to the unigram floor 1/(N+V), so the keep/drop margin widens
    (strict-separation differential in tests/test_lm.py).  Exact integer
    numerator/denominator polynomials in DECIMAL(38,0)/HUGEINT, one double
    division + ln per distinct gram, micro-nat bigint sums."""
    from kafka_flow_spark.operators.lm import bigram_lm_scores_interp

    docs = load(spark, sf_dir, "documents")
    return bigram_lm_scores_interp(
        docs, "doc_id", "text", F.col("source") == "src0", lam_num=_LM_LN,
        lam_den=_LM_LD,
    )


_TG_L3, _TG_L2, _TG_L1 = 5, 3, 2  # trigram interpolation weights /10


@register(
    "q_lm_perplexity_trigram",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source = 'src0' AS is_ref, {_LM_TOKS} AS toks
      FROM documents),
    tp AS (SELECT doc_id, is_ref, toks, UNNEST(range(len(toks) - 2)) AS i
           FROM t WHERE len(toks) >= 3),
    tg AS (SELECT doc_id, is_ref, toks[i + 1] AS w1, toks[i + 2] AS w2,
                  toks[i + 3] AS w3 FROM tp),
    c123 AS (SELECT w1, w2, w3, COUNT(*) AS c123 FROM tg WHERE is_ref
             GROUP BY w1, w2, w3),
    c12 AS (SELECT w1, w2, SUM(c123) AS c12 FROM c123 GROUP BY w1, w2),
    bp AS (SELECT is_ref, toks, UNNEST(range(len(toks) - 1)) AS i
           FROM t WHERE len(toks) >= 2),
    c23 AS (SELECT toks[i + 1] AS w2, toks[i + 2] AS w3, COUNT(*) AS c23
            FROM bp WHERE is_ref GROUP BY 1, 2),
    c2 AS (SELECT w2, SUM(c23) AS c2 FROM c23 GROUP BY w2),
    u AS (SELECT UNNEST(toks) AS tok FROM t WHERE is_ref),
    c3 AS (SELECT tok AS w3, COUNT(*) AS c3 FROM u GROUP BY tok),
    vv AS (SELECT COUNT(DISTINCT tok) AS v, COUNT(*) AS ntok FROM u),
    dg AS (SELECT doc_id, w1, w2, w3, COUNT(*) AS n
           FROM tg WHERE NOT is_ref GROUP BY doc_id, w1, w2, w3),
    sc AS (SELECT dg.doc_id, dg.n,
                  CAST(ROUND(LN(
                    CAST(CASE
                      WHEN COALESCE(c12.c12, 0) > 0 AND COALESCE(c2.c2, 0) > 0
                      THEN {_TG_L3} * CAST(COALESCE(c123.c123, 0) AS HUGEINT)
                             * c2.c2 * (vv.ntok + vv.v)
                           + {_TG_L2} * CAST(COALESCE(c23.c23, 0) AS HUGEINT)
                             * c12.c12 * (vv.ntok + vv.v)
                           + {_TG_L1} * CAST(COALESCE(c3.c3, 0) + 1 AS HUGEINT)
                             * c12.c12 * c2.c2
                      WHEN COALESCE(c2.c2, 0) > 0
                      THEN {_TG_L2} * CAST(COALESCE(c23.c23, 0) AS HUGEINT)
                             * (vv.ntok + vv.v)
                           + {_TG_L1} * CAST(COALESCE(c3.c3, 0) + 1 AS HUGEINT)
                             * c2.c2
                      ELSE CAST(COALESCE(c3.c3, 0) + 1 AS HUGEINT) END AS DOUBLE)
                    / CAST(CASE
                      WHEN COALESCE(c12.c12, 0) > 0 AND COALESCE(c2.c2, 0) > 0
                      THEN {_TG_L3 + _TG_L2 + _TG_L1}
                             * CAST(c12.c12 AS HUGEINT) * c2.c2 * (vv.ntok + vv.v)
                      WHEN COALESCE(c2.c2, 0) > 0
                      THEN {_TG_L2 + _TG_L1} * CAST(c2.c2 AS HUGEINT)
                             * (vv.ntok + vv.v)
                      ELSE CAST(vv.ntok + vv.v AS HUGEINT) END AS DOUBLE))
                    * 1000000) AS BIGINT) AS term
           FROM dg LEFT JOIN c123 USING (w1, w2, w3) LEFT JOIN c12 USING (w1, w2)
           LEFT JOIN c23 USING (w2, w3) LEFT JOIN c2 USING (w2)
           LEFT JOIN c3 USING (w3)
           CROSS JOIN vv)
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_trigrams,
           CAST(SUM(n * term) AS BIGINT) AS logprob_scaled,
           CAST(SUM(n * term) // SUM(n) AS BIGINT) AS avg_logprob_scaled
    FROM sc GROUP BY doc_id
    """,
)
def q_lm_perplexity_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram interpolated LM scoring (operators/lm.py
    trigram_lm_scores_interp, λ = 0.5/0.3/0.2 down the tri→bi→uni ladder) —
    the deepest SQL-provable rung of the KenLM family: longer context where
    the reference has the counts, mass-preserving renormalized backoff
    where it doesn't.  Exact DECIMAL(38,0)/HUGEINT branch polynomials, ONE
    double division + ln per distinct scored trigram, micro-nat bigints."""
    from kafka_flow_spark.operators.lm import trigram_lm_scores_interp

    docs = load(spark, sf_dir, "documents")
    return trigram_lm_scores_interp(
        docs, "doc_id", "text", F.col("source") == "src0",
        l3=_TG_L3, l2=_TG_L2, l1=_TG_L1,
    )


@register(
    "q_ccnet_buckets",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, source = 'src0' AS is_ref, {_LM_TOKS} AS toks
      FROM documents),
    pr AS (SELECT doc_id, is_ref, toks, UNNEST(range(len(toks) - 1)) AS i
           FROM t WHERE len(toks) >= 2),
    g AS (SELECT doc_id, is_ref, toks[i + 1] AS w1, toks[i + 2] AS w2 FROM pr),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM g WHERE is_ref GROUP BY w1, w2),
    c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY w1),
    vv AS (SELECT COUNT(DISTINCT tok) AS v
           FROM (SELECT UNNEST(toks) AS tok FROM t WHERE is_ref)),
    dg AS (SELECT doc_id, w1, w2, COUNT(*) AS n
           FROM g WHERE NOT is_ref GROUP BY doc_id, w1, w2),
    sc AS (SELECT dg.doc_id, dg.n,
                  CAST(ROUND(LN(CAST(COALESCE(c12.c12, 0) + 1 AS DOUBLE)
                                / CAST(COALESCE(c1.c1, 0) + vv.v AS DOUBLE))
                             * 1000000) AS BIGINT) AS term
           FROM dg LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1)
           CROSS JOIN vv),
    w AS (SELECT doc_id, CAST(SUM(n * term) // SUM(n) AS BIGINT) AS avg_logprob_scaled
          FROM sc GROUP BY doc_id),
    lbl AS (SELECT w.doc_id, t.lang, w.avg_logprob_scaled,
                   NTILE(3) OVER (PARTITION BY t.lang
                                  ORDER BY w.avg_logprob_scaled DESC, w.doc_id) AS nt
            FROM w JOIN t ON w.doc_id = t.doc_id)
    SELECT doc_id, lang, avg_logprob_scaled,
           CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
    FROM lbl
    """,
)
def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail corpus split (Wenzek et al. 2020): per-
    LANGUAGE terciles of the bigram-LM score (operators/lm.py
    perplexity_buckets over bigram_lm_scores) — head = most reference-like
    third of each language, the slice CCNet keeps by default.  Exact
    rank-based NTILE on integer micro-nat scores, fully oracle-mirrored.

    Scale posture: the NTILE window sorts each LANGUAGE's scored docs in
    one partition — exact boundaries, right up to ~10^8 rows per language.
    Beyond that, the sampled-threshold form (operators/quality.py
    score_buckets / q_perplexity_buckets — CCNet's own
    fit-cutoffs-on-a-sample design) is the 100 TB path; the two are the
    exact/approximate pair of the same split, like knn_bruteforce vs the
    ANN family."""
    from kafka_flow_spark.operators.lm import bigram_lm_scores, perplexity_buckets

    docs = load(spark, sf_dir, "documents")
    scores = bigram_lm_scores(docs, "doc_id", "text", F.col("source") == "src0")
    scored = scores.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "lang", "avg_logprob_scaled"
    )
    return perplexity_buckets(scored, "lang", "avg_logprob_scaled", "doc_id")


# --- bitext margin mining (Artetxe & Schwenk margin criterion) -------------

def _bm_cos(left: str, right: str) -> str:
    return (
        f"(list_sum(list_transform(list_zip({left}, {right}), p -> p[1] * p[2]))"
        f" / (sqrt(list_sum(list_transform({left}, x -> x * x)))"
        f" * sqrt(list_sum(list_transform({right}, x -> x * x)))))"
    )


_BM_K = 4
_BM_MIN = 10200


@register(
    "q_bitext_margin",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
    a AS (SELECT * FROM v WHERE label % 2 = 0),
    b AS (SELECT * FROM v WHERE label % 2 = 1),
    qa AS (SELECT * FROM a WHERE vec_id < 200),
    fs AS (SELECT qa.vec_id AS x, b.vec_id AS y, {_bm_cos("qa.e", "b.e")} AS sim
           FROM qa CROSS JOIN b WHERE b.vec_id != qa.vec_id),
    fr AS (SELECT x, y, sim, ROW_NUMBER() OVER (PARTITION BY x ORDER BY sim DESC, y) AS rk
           FROM fs),
    f9 AS (SELECT x, y, CAST(FLOOR(sim * 1000000000.0) AS BIGINT) AS sim_e9
           FROM fr WHERE rk <= {_BM_K}),
    sx AS (SELECT x, SUM(sim_e9) AS sx FROM f9 GROUP BY x),
    cb AS (SELECT DISTINCT y FROM f9),
    bq AS (SELECT b.* FROM b JOIN cb ON b.vec_id = cb.y),
    bs AS (SELECT bq.vec_id AS yq, a.vec_id AS z, {_bm_cos("bq.e", "a.e")} AS sim
           FROM bq CROSS JOIN a WHERE a.vec_id != bq.vec_id),
    br AS (SELECT yq, sim, ROW_NUMBER() OVER (PARTITION BY yq ORDER BY sim DESC, z) AS rk
           FROM bs),
    sy AS (SELECT yq, SUM(CAST(FLOOR(sim * 1000000000.0) AS BIGINT)) AS sy
           FROM br WHERE rk <= {_BM_K} GROUP BY yq)
    SELECT f9.x AS a_id, f9.y AS b_id, f9.sim_e9,
           CAST(FLOOR(({2 * _BM_K * 10000}.0 * f9.sim_e9) / (sx.sx + sy.sy)) AS BIGINT)
             AS margin_bp
    FROM f9 JOIN sx ON f9.x = sx.x JOIN sy ON f9.y = sy.yq
    WHERE (sx.sx + sy.sy) > 0
      AND CAST(FLOOR(({2 * _BM_K * 10000}.0 * f9.sim_e9) / (sx.sx + sy.sy)) AS BIGINT)
          >= {_BM_MIN}
    """,
)
def q_bitext_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-criterion pair mining between the even-label and odd-label
    embedding populations (stand-ins for two languages): forward-kNN pairs
    of probes vec_id < 200 scored by neighborhood-normalized cosine
    (operators/similarity.bitext_margin_pairs), kept at margin >= 1.02."""
    from kafka_flow_spark.operators.similarity import bitext_margin_pairs

    e = load(spark, sf_dir, "embeddings")
    side_a = e.where(F.col("label") % 2 == 0)
    side_b = e.where(F.col("label") % 2 == 1)
    return bitext_margin_pairs(
        side_a,
        side_b,
        k=_BM_K,
        margin_bp_min=_BM_MIN,
        queries_a=side_a.where(F.col("vec_id") < 200),
    )


# --- deterministic negative sampling (contrastive-training pairs) -----------


def _fold6_llm(expr: str) -> str:
    """md5 6-hex Horner fold — the established cross-engine bucket idiom."""
    return (
        "list_reduce(list_transform(range(1, 7), d -> "
        f"CAST(strpos('0123456789abcdef', substr(md5({expr}), d, 1)) - 1 AS BIGINT)), "
        "(a, b) -> a * 16 + b)"
    )


_NEG_K = 3
_NEG_B = 16


@register(
    "q_negative_samples",
    oracle=f"""
    WITH r AS (
      SELECT vec_id, label,
             {_fold6_llm("'neg-v1:b:' || CAST(vec_id AS VARCHAR)")} % {_NEG_B} AS b,
             substring(md5('neg-v1:p:' || CAST(vec_id AS VARCHAR)), 1, 6) AS p
      FROM embeddings),
    rk AS (SELECT vec_id, label, b, p,
                  ROW_NUMBER() OVER (PARTITION BY b ORDER BY p, vec_id) AS r,
                  COUNT(*) OVER (PARTITION BY b) AS n
           FROM r),
    a AS (SELECT vec_id AS anchor_id, label AS anchor_label, b, r, n,
                 UNNEST([{", ".join(str(j) for j in range(1, _NEG_K + 1))}]) AS j
          FROM rk),
    t AS (SELECT anchor_id, anchor_label, b, j, ((r - 1 + j) % n) + 1 AS tr
          FROM a WHERE j <= n - 1)
    SELECT t.anchor_id, CAST(t.j AS INT) AS j, p2.vec_id AS neg_id,
           t.anchor_label, p2.label AS neg_label
    FROM t JOIN rk p2 ON p2.b = t.b AND p2.r = t.tr
    WHERE p2.vec_id != t.anchor_id
      AND t.anchor_label IS DISTINCT FROM p2.label
    """,
)
def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-ring negative sampling over the embeddings corpus
    (operators/sampling.negative_samples): 3 content-addressed ring
    successors per anchor, same-label collisions dropped — the auditable
    replacement for rand()-based in-batch negatives; bucketed ring, no
    global sort."""
    from kafka_flow_spark.operators.sampling import negative_samples

    e = load(spark, sf_dir, "embeddings")
    return negative_samples(
        e, "vec_id", k=_NEG_K, label_col="label", n_buckets=_NEG_B
    )


# --- hard negative mining (LSH-bucketed top-k cross-label neighbors) ---------

_HN_K, _HN_PLANES, _HN_SEED, _HN_DIM = 2, 12, 7, 64


def _mined_pairs_oracle(same_label: bool, partner: str, k: int) -> str:
    from kafka_flow_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(_HN_DIM, _HN_PLANES, seed=_HN_SEED)
    dot_cols = []
    for i in range(_HN_PLANES):
        chain = " + ".join(
            f"CAST(embedding[{d + 1}] AS DOUBLE) * ({planes[i][d]!r})"
            for d in range(_HN_DIM)
        )
        dot_cols.append(f"({chain}) AS d_{i}")
    bucket = " + ".join(
        f"(CASE WHEN d_{i} >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(_HN_PLANES)
    )
    pred = (
        "a.label IS NOT DISTINCT FROM b.label AND b.vec_id != a.vec_id"
        if same_label
        else "a.label IS DISTINCT FROM b.label"
    )
    pid, plbl = f"{partner}_id", f"{partner}_label"
    return f"""
    WITH dots AS (SELECT vec_id, label, embedding, {', '.join(dot_cols)} FROM embeddings),
    v AS (SELECT vec_id, label, ({bucket}) AS cell,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM dots),
    p AS (SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
                 b.vec_id AS {pid}, b.label AS {plbl},
                 CAST(FLOOR(
                   list_sum(list_transform(list_zip(a.e, b.e), q -> q[1] * q[2]))
                   / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
                      * sqrt(list_sum(list_transform(b.e, x -> x * x))))
                   * 1000000.0) AS BIGINT) AS cos_e6
          FROM v a JOIN v b ON a.cell = b.cell
          WHERE {pred})
    SELECT anchor_id, rank, {pid}, cos_e6, anchor_label, {plbl}
    FROM (SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY anchor_id ORDER BY cos_e6 DESC, {pid}) AS INT) AS rank
          FROM p)
    WHERE rank <= {k}
    """


def _hard_negatives_oracle() -> str:
    return _mined_pairs_oracle(same_label=False, partner="neg", k=_HN_K)


@register("q_hard_negatives", oracle=_hard_negatives_oracle())
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD negative mining (operators/sampling.hard_negatives): per anchor,
    the 2 most-cosine-similar DIFFERENT-label vectors from its seeded-
    hyperplane LSH bucket — the targeted complement of q_negative_samples'
    uniform ring draws (hard negatives carry the contrastive gradient).
    FLOOR-e6 bigint ranking + generated literal-plane oracle make bucket,
    candidate set, and top-k order value-exact; WindowGroupLimit bounds the
    final exchange to k rows per anchor.  12 planes = 4096 cells keeps the
    gated in-cell ORDERED pair volume at 1.55e7 for sf10's 200k vectors,
    measured — 10 planes reads 5.2e7 and trips the 2e7 gate (skewed
    sign-cells beat the balanced estimate; the n_planes knob IS the scale
    dial, each plane roughly quarters the volume)."""
    from kafka_flow_spark.operators.sampling import hard_negatives

    e = load(spark, sf_dir, "embeddings")
    return hard_negatives(
        e, "vec_id", "embedding", "label",
        k=_HN_K, dim=_HN_DIM, n_planes=_HN_PLANES, seed=_HN_SEED,
    )


@register(
    "q_positive_pairs",
    oracle=_mined_pairs_oracle(same_label=True, partner="pos", k=1),
)
def q_positive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positive-pair mining (operators/sampling.positive_pairs): per anchor,
    its nearest SAME-label bucket-mate by FLOOR-e6 cosine — the anchor→
    positive half of a contrastive dataset, drawn from the same seeded
    bucket geometry (and gated by the same ordered-pair estimate) as
    q_hard_negatives, so the two compose into consistent training triples."""
    from kafka_flow_spark.operators.sampling import positive_pairs

    e = load(spark, sf_dir, "embeddings")
    return positive_pairs(
        e, "vec_id", "embedding", "label",
        k=1, dim=_HN_DIM, n_planes=_HN_PLANES, seed=_HN_SEED,
    )


def _contrastive_oracle() -> str:
    """Generated oracle for the composed contrastive dataset: the literal-
    plane mined halves (one pair scan, role-classified, per-role rank) UNION
    ALL the md5 hash-ring draws, gated to anchors holding both mined sides."""
    from kafka_flow_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(_HN_DIM, _HN_PLANES, seed=_HN_SEED)
    dot_cols = []
    for i in range(_HN_PLANES):
        chain = " + ".join(
            f"CAST(embedding[{d + 1}] AS DOUBLE) * ({planes[i][d]!r})"
            for d in range(_HN_DIM)
        )
        dot_cols.append(f"({chain}) AS d_{i}")
    bucket = " + ".join(
        f"(CASE WHEN d_{i} >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(_HN_PLANES)
    )
    return f"""
    WITH dots AS (SELECT vec_id, label, embedding, {', '.join(dot_cols)} FROM embeddings),
    v AS (SELECT vec_id, label, ({bucket}) AS cell,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM dots),
    p AS (SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
                 CASE WHEN a.label IS NOT DISTINCT FROM b.label
                      THEN 'positive' ELSE 'hard_negative' END AS role,
                 b.vec_id AS partner_id, b.label AS partner_label,
                 CAST(FLOOR(
                   list_sum(list_transform(list_zip(a.e, b.e), q -> q[1] * q[2]))
                   / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
                      * sqrt(list_sum(list_transform(b.e, x -> x * x))))
                   * 1000000.0) AS BIGINT) AS cos_e6
          FROM v a JOIN v b ON a.cell = b.cell
          WHERE b.vec_id != a.vec_id),
    m AS (SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY anchor_id, role ORDER BY cos_e6 DESC, partner_id) AS INT) AS rank
          FROM p),
    mk AS (SELECT anchor_id, anchor_label, role, rank, partner_id,
                  partner_label, cos_e6
           FROM m
           WHERE (role = 'positive' AND rank <= {_CD_K_POS})
              OR (role = 'hard_negative' AND rank <= {_CD_K_HARD})),
    r AS (
      SELECT vec_id, label,
             {_fold6_llm("'neg-v1:b:' || CAST(vec_id AS VARCHAR)")} % {_NEG_B} AS b,
             substring(md5('neg-v1:p:' || CAST(vec_id AS VARCHAR)), 1, 6) AS p
      FROM embeddings),
    rk AS (SELECT vec_id, label, b, p,
                  ROW_NUMBER() OVER (PARTITION BY b ORDER BY p, vec_id) AS r,
                  COUNT(*) OVER (PARTITION BY b) AS n
           FROM r),
    ra AS (SELECT vec_id AS anchor_id, label AS anchor_label, b, r, n,
                  UNNEST([{", ".join(str(j) for j in range(1, _NEG_K + 1))}]) AS j
           FROM rk),
    rt AS (SELECT anchor_id, anchor_label, b, j, ((r - 1 + j) % n) + 1 AS tr
           FROM ra WHERE j <= n - 1),
    ring AS (SELECT rt.anchor_id, rt.anchor_label,
                    'ring_negative' AS role, CAST(rt.j AS INT) AS rank,
                    p2.vec_id AS partner_id, p2.label AS partner_label,
                    CAST(NULL AS BIGINT) AS cos_e6
             FROM rt JOIN rk p2 ON p2.b = rt.b AND p2.r = rt.tr
             WHERE p2.vec_id != rt.anchor_id
               AND rt.anchor_label IS DISTINCT FROM p2.label),
    q AS (SELECT anchor_id FROM mk GROUP BY anchor_id
          HAVING BOOL_OR(role = 'positive') AND BOOL_OR(role = 'hard_negative'))
    SELECT u.anchor_id, u.anchor_label, u.role, u.rank, u.partner_id,
           u.partner_label, u.cos_e6
    FROM (SELECT * FROM mk UNION ALL SELECT * FROM ring) u
    JOIN q USING (anchor_id)
    """


_CD_K_POS, _CD_K_HARD = 1, 2


@register("q_contrastive_dataset", oracle=_contrastive_oracle())
def q_contrastive_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contrastive-training capstone (operators/sampling.
    contrastive_dataset): anchors with their top-1 same-label positive,
    top-2 cross-label hard negatives, and 3 uniform hash-ring negatives in
    ONE long-format dataset, restricted to anchors holding both mined
    sides.  One gated in-cell pair scan serves BOTH mined roles (half the
    scan cost of composing q_positive_pairs + q_hard_negatives); the ring
    draws reuse q_negative_samples' md5 ring untouched.  Same seeded plane
    geometry and FLOOR-e6 ranking as the component queries — the composed
    output is value-exact against one generated DuckDB oracle."""
    from kafka_flow_spark.operators.sampling import contrastive_dataset

    e = load(spark, sf_dir, "embeddings")
    return contrastive_dataset(
        e, "vec_id", "embedding", "label",
        k_pos=_CD_K_POS, k_hard=_CD_K_HARD, k_ring=_NEG_K,
        dim=_HN_DIM, n_planes=_HN_PLANES, seed=_HN_SEED, n_buckets=_NEG_B,
    )


# --- embedding drift (exact centroid shift between snapshots) ----------------


@register(
    "q_embedding_drift",
    oracle="""
    WITH sides AS (SELECT vec_id, label, embedding, vec_id % 2 = 0 AS is_old
                   FROM embeddings),
    e AS (SELECT label, is_old, embedding, UNNEST(range(len(embedding))) AS i
          FROM sides),
    s AS (SELECT label, is_old, i AS d,
                 SUM(CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * 1000000.0)
                          AS BIGINT)) AS s
          FROM e GROUP BY label, is_old, i),
    n AS (SELECT label, is_old, COUNT(*) AS n FROM sides GROUP BY label, is_old),
    j AS (SELECT so.label, so.d, so.s AS s_old, sn.s AS s_new,
                 no.n AS n_old, nn.n AS n_new
          FROM s so JOIN s sn ON so.label = sn.label AND so.d = sn.d
                             AND so.is_old AND NOT sn.is_old
          JOIN n no ON no.label = so.label AND no.is_old
          JOIN n nn ON nn.label = so.label AND NOT nn.is_old)
    SELECT label, CAST(MAX(n_old) AS BIGINT) AS n_old,
           CAST(MAX(n_new) AS BIGINT) AS n_new,
           CAST(SUM(ABS(CAST(s_old AS HUGEINT) * n_new
                        - CAST(s_new AS HUGEINT) * n_old)) AS BIGINT)
             AS drift_l1_scaled
    FROM j GROUP BY label
    """,
)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-label centroid drift between two embedding snapshots
    (operators/profile.embedding_drift — the vector-space member of the
    drift family; EMD/PSI see scalar columns, an encoder swap moves
    CENTROIDS).  Snapshots = content-addressed halves (vec_id parity);
    FLOOR-e6 component sums under the common denominator n_old·n_new, no
    division anywhere — engine-identical bigints."""
    from kafka_flow_spark.operators.profile import embedding_drift

    e = load(spark, sf_dir, "embeddings")
    old = e.where(F.col("vec_id") % 2 == 0)
    new = e.where(F.col("vec_id") % 2 == 1)
    return embedding_drift(old, new, "embedding", "label")


# --- MMR diversity re-ranking (the RAG retrieval capstone) -------------------

_MMR_Q, _MMR_POOL, _MMR_K, _MMR_LAM = 20, 10, 3, 70


def _mmr_cos(a: str, b: str) -> str:
    """FLOOR-e6 cosine of two double-list SQL expressions — the literal
    mirror of functions.cosine under the repo's FLOOR-e6 rule."""
    return (
        f"CAST(FLOOR(list_sum(list_transform(list_zip({a}, {b}),"
        " p -> p[1] * p[2]))"
        f" / (sqrt(list_sum(list_transform({a}, x -> x * x)))"
        f"    * sqrt(list_sum(list_transform({b}, x -> x * x))))"
        " * 1000000.0) AS BIGINT)"
    )


def _mmr_greedy_sql() -> str:
    """The 3-round unrolled greedy chain + final SELECT — expects a CTE
    ``pool(qid, nid, nv, rel)`` upstream, so the exact and IVF retrieval
    oracles share the MMR program verbatim."""
    lam, mu = _MMR_LAM, 100 - _MMR_LAM
    score = (
        f"CASE WHEN {lam} * rel - {mu} * ms >= 0"
        f" THEN ({lam} * rel - {mu} * ms) // 100"
        f" ELSE -((-({lam} * rel - {mu} * ms)) // 100) END"
    )
    return f"""
    gps AS (SELECT a.qid, a.nid AS an, b.nid AS bn,
                  {_mmr_cos('a.nv', 'b.nv')} AS sim
           FROM pool a JOIN pool b ON a.qid = b.qid AND a.nid != b.nid),
    g1 AS (SELECT qid, nid, rel AS score FROM
            (SELECT qid, nid, rel, ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY rel DESC, nid) AS rn FROM pool)
           WHERE rn = 1),
    gm2 AS (SELECT p.qid, p.nid, p.rel, MAX(gps.sim) AS ms
           FROM pool p
           JOIN g1 ON g1.qid = p.qid AND p.nid != g1.nid
           JOIN gps ON gps.qid = p.qid AND gps.an = p.nid AND gps.bn = g1.nid
           GROUP BY p.qid, p.nid, p.rel),
    gsc2 AS (SELECT qid, nid, {score} AS score FROM gm2),
    g2 AS (SELECT qid, nid, score FROM
            (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY score DESC, nid) AS rn FROM gsc2)
           WHERE rn = 1),
    gsel2 AS (SELECT qid, nid FROM g1 UNION ALL SELECT qid, nid FROM g2),
    gm3 AS (SELECT p.qid, p.nid, p.rel, MAX(gps.sim) AS ms
           FROM pool p
           LEFT JOIN gsel2 x ON x.qid = p.qid AND x.nid = p.nid
           JOIN gps ON gps.qid = p.qid AND gps.an = p.nid
           JOIN gsel2 s ON s.qid = gps.qid AND s.nid = gps.bn
           WHERE x.nid IS NULL
           GROUP BY p.qid, p.nid, p.rel),
    gsc3 AS (SELECT qid, nid, {score} AS score FROM gm3),
    g3 AS (SELECT qid, nid, score FROM
            (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY score DESC, nid) AS rn FROM gsc3)
           WHERE rn = 1)
    SELECT qid AS query_id, CAST(1 AS INT) AS pick_rank,
           nid AS neighbor_id, score AS mmr_e6 FROM g1
    UNION ALL
    SELECT qid, CAST(2 AS INT), nid, score FROM g2
    UNION ALL
    SELECT qid, CAST(3 AS INT), nid, score FROM g3
    """


def _mmr_oracle() -> str:
    return f"""
    WITH v AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
    rels AS (SELECT q.vec_id AS qid, v.vec_id AS nid, v.e AS nv,
                    {_mmr_cos('q.e', 'v.e')} AS rel
             FROM v q JOIN v ON q.vec_id < {_MMR_Q} AND v.vec_id != q.vec_id),
    pool AS (SELECT qid, nid, nv, rel FROM
              (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY rel DESC, nid) AS rn FROM rels)
             WHERE rn <= {_MMR_POOL}),
    {_mmr_greedy_sql()}"""


def _mmr_ivf_oracle() -> str:
    """train → probe → MMR, all in one unrolled oracle (the q_knn_ivf_exact
    pattern composed with the MMR greedy chain): kmeans CTEs give the final
    cells, queries probe their nprobe nearest centroids, the pool is the
    top-k_pool by FLOOR-e6 cosine WITHIN probed cells, then the shared
    3-round greedy."""
    ctes, fin = _kmeans_ctes(_KM_K, _KM_ITERS)
    cfin = f"c{_KM_ITERS - 1}"
    return f"""
    WITH {ctes},
    q AS (SELECT vec_id AS qid, {_QUANT} AS qxe,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id < {_MMR_Q}),
    pq AS (SELECT qid, qv, cid FROM
            (SELECT q.qid, q.qv, c.cid,
                    ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                      CAST(list_sum(list_transform(list_zip(q.qxe, c.ce),
                        z -> (z[1]-z[2])*(z[1]-z[2]))) AS BIGINT), c.cid) AS pr
             FROM q CROSS JOIN {cfin} c)
           WHERE pr <= {_KM_NPROBE}),
    corp AS (SELECT a.vec_id AS nid, a.cid,
                    list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS nv
             FROM {fin} a JOIN embeddings e ON e.vec_id = a.vec_id),
    rels AS (SELECT pq.qid, corp.nid, corp.nv,
                    {_mmr_cos('pq.qv', 'corp.nv')} AS rel
             FROM pq JOIN corp ON corp.cid = pq.cid
             WHERE corp.nid != pq.qid),
    pool AS (SELECT qid, nid, nv, rel FROM
              (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY rel DESC, nid) AS rn FROM rels)
             WHERE rn <= {_MMR_POOL}),
    {_mmr_greedy_sql()}"""


@register("q_mmr_rerank", oracle=_mmr_oracle(), bench=True)
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversity re-ranking over the embedding
    corpus (operators/similarity.mmr_rerank — Carbonell & Goldstein '98):
    top-10 cosine pool per query, then 3 greedy picks trading relevance
    (70%) against max similarity to the already-picked set (30%), all in
    FLOOR-e6 integers with smaller-id tie-breaks — the deterministic
    unrolled-greedy program hash-matches a 3-round DuckDB CTE chain (the
    kmeans-oracle pattern).  The step between "top-k nearest" and "top-k
    worth feeding a model": near-identical contexts waste prompt slots."""
    from kafka_flow_spark.operators.similarity import mmr_rerank

    e = load(spark, sf_dir, "embeddings")
    return mmr_rerank(
        e, e.where(F.col("vec_id") < _MMR_Q),
        k_pool=_MMR_POOL, k_select=_MMR_K, lam_e2=_MMR_LAM,
    )


@register("q_mmr_rerank_ivf", oracle=_mmr_ivf_oracle(), bench=True)
def q_mmr_rerank_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION retrieval composition (review r10 #3): MMR diversity
    re-ranking over the IVF-PROBED pool instead of the brute-force scan —
    train the quantized-Lloyd cells (q_kmeans_cells' training, value-exact),
    probe each query's 2 nearest centroids, pool the top-10 FLOOR-e6
    cosines WITHIN probed cells, then the same 3-round greedy as
    q_mmr_rerank.  The corpus scan is bounded to probed cells (an equi-join
    on cid — at 100 TB only |probed cells| of the corpus is touched);
    recall loss is deterministic and oracle-visible (train → probe → MMR
    all hash-match one unrolled DuckDB CTE program), and nprobe == n_cells
    degrades to q_mmr_rerank bit-identically (pinned in
    tests/test_similarity.py)."""
    from kafka_flow_spark.operators.similarity import mmr_rerank

    e = load(spark, sf_dir, "embeddings")
    return mmr_rerank(
        e, e.where(F.col("vec_id") < _MMR_Q),
        k_pool=_MMR_POOL, k_select=_MMR_K, lam_e2=_MMR_LAM,
        retrieve="ivf", n_cells=_KM_K, iters=_KM_ITERS, nprobe=_KM_NPROBE,
    )


# --- per-dimension embedding profile + min-max scale checksum ----------------


@register(
    "q_embedding_dim_profile",
    oracle="""
    WITH pts AS (SELECT list_transform(embedding, v ->
                   CAST(FLOOR(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS xe
                 FROM embeddings),
    ex AS (SELECT CAST(i AS INT) AS dim, xe[i + 1] AS x FROM
            (SELECT xe, UNNEST(range(len(xe))) AS i FROM pts)),
    st AS (SELECT dim, COUNT(*) AS n,
                  SUM(CAST(x AS HUGEINT)) AS sx,
                  SUM(CAST(x AS HUGEINT) * x) AS sxx,
                  MIN(x) AS mn, MAX(x) AS mx
           FROM ex GROUP BY dim),
    sc AS (SELECT e.dim,
                  CASE WHEN st.mx > st.mn
                       THEN CAST((e.x - st.mn) AS HUGEINT) * 1000000
                            // (st.mx - st.mn)
                       ELSE 0 END AS z
           FROM ex e JOIN st ON st.dim = e.dim),
    ss AS (SELECT dim, CAST(SUM(CAST(z AS HUGEINT)) AS BIGINT)
                         AS sum_scaled_e6
           FROM sc GROUP BY dim)
    SELECT st.dim, n,
           CAST(CASE WHEN sx >= 0 THEN sx // n ELSE -((-sx) // n) END
                AS BIGINT) AS mean_e6,
           CAST((n * sxx - sx * sx) // (CAST(n AS HUGEINT) * n) AS BIGINT)
             AS var_e12,
           CAST(mn AS BIGINT) AS min_e6,
           CAST(mx AS BIGINT) AS max_e6,
           sum_scaled_e6
    FROM st JOIN ss ON ss.dim = st.dim
    """,
)
def q_embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus profile of the embedding column (operators/
    similarity.embedding_dim_profile): exact FLOOR-e6 n/mean/variance/min/
    max per dimension plus the min-max-scaled per-dim sum — the checksum
    that pins every element's scaled value through one order-insensitive
    bigint aggregate (the preprocessing pass before quantizer training;
    variance internals in DECIMAL(38,0), the kappa overflow class).
    Output cardinality = dimensionality, never the corpus."""
    from kafka_flow_spark.operators.similarity import embedding_dim_profile

    e = load(spark, sf_dir, "embeddings")
    return embedding_dim_profile(e, "embedding")


# --- tokenizer fertility report ----------------------------------------------


@register(
    "q_tokenizer_fertility",
    oracle="""
    WITH t AS (
      SELECT source,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS ws,
             CAST(len(regexp_extract_all(text,
                  '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS bpe,
             CAST(strlen(text) AS BIGINT) AS nbytes
      FROM documents),
    s AS (SELECT source, COUNT(*) AS n_docs,
                 CAST(SUM(ws) AS BIGINT) AS ws_tokens,
                 CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
                 CAST(SUM(nbytes) AS BIGINT) AS n_bytes
          FROM t GROUP BY source)
    SELECT source, n_docs, ws_tokens, bpe_tokens, n_bytes,
           CASE WHEN ws_tokens > 0
                THEN CAST(CAST(bpe_tokens AS HUGEINT) * 1000000 // ws_tokens
                          AS BIGINT) ELSE 0 END AS fertility_e6,
           CASE WHEN bpe_tokens > 0
                THEN CAST(CAST(n_bytes AS HUGEINT) * 1000000 // bpe_tokens
                          AS BIGINT) ELSE 0 END AS bytes_per_token_e6
    FROM s
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility data card per source: sub-word tokens per
    whitespace word (fertility — the multilingual-tokenizer health metric:
    a tokenizer that explodes one language's words into characters starves
    it of effective context) and bytes per sub-word token (compression),
    both exact truncating e6 rationals with DECIMAL(38,0)/HUGEINT
    internals (corpus-scale sums × 1e6 pass int64 past ~9e12 — the kappa
    class).  Pure codegen counting (the BPE pre-tokenizer regex +
    whitespace tokens + octet_length) into ONE map-combinable (source)
    aggregate — scan speed, output = source count rows."""
    docs = load(spark, sf_dir, "documents")
    from kafka_flow_spark.operators import text as T

    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(T.token_count(F.col("text"))).cast("long").alias("ws_tokens"),
        F.sum(T.bpe_token_count(F.col("text"))).cast("long").alias("bpe_tokens"),
        F.sum(F.octet_length("text")).cast("long").alias("n_bytes"),
    )
    return agg.select(
        "source", "n_docs", "ws_tokens", "bpe_tokens", "n_bytes",
        F.when(
            F.col("ws_tokens") > 0,
            F.expr(
                "CAST(bpe_tokens AS decimal(38,0)) * 1000000"
                " div CAST(ws_tokens AS decimal(38,0))"
            ),
        ).otherwise(F.lit(0).cast("long")).alias("fertility_e6"),
        F.when(
            F.col("bpe_tokens") > 0,
            F.expr(
                "CAST(n_bytes AS decimal(38,0)) * 1000000"
                " div CAST(bpe_tokens AS decimal(38,0))"
            ),
        ).otherwise(F.lit(0).cast("long")).alias("bytes_per_token_e6"),
    )
