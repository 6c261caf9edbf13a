"""Phase-4 training-data pipeline queries: dedup clustering + reproducible
sampling (SURVEY.md §2 LLM ops; SURVEY.md Phase-4 dedup→cluster→sample).

Reference parity: kafka-flow stops at per-key folds
(core/src/main/scala/com/evolutiongaming/kafka/flow/KeyStateOf.scala is the
closest analog — one state per key); a curation pipeline built on it needs the
cluster/sample steps, so they are first-class oracle-gated queries here.

Oracle strategy:
- ``q_dedup_clusters``: DuckDB recursive CTE computes min-reachable-id over the
  SAME brute-force jaccard≥0.7 pair set the minhash oracle uses — exact
  connected-components truth, tractable because the verified pair set is small.
- sampling queries: the operators hash with md5 on purpose so DuckDB reproduces
  the sample bit-for-bit — the oracle is direct SQL, not an approximation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_flow_spark.operators.curation import (
    hash_split,
    ngram_contamination,
    pack_sequences,
    weighted_mix,
)
from kafka_flow_spark.operators.dedup import minhash_lsh_pairs
from kafka_flow_spark.operators.graph import dedup_clusters
from kafka_flow_spark.operators.sampling import (
    cap_per_group,
    fraction_threshold,
    hash_sample,
    rebalance_classes,
    stratified_sample,
)
from kafka_flow_spark.plans.llm import _DD_3GRAM
from kafka_flow_spark.plans.registry import register
from kafka_flow_spark.tables import load

# Brute-force jaccard≥0.7 pairs — same fragment the minhash-lsh oracle uses,
# so the cluster oracle and the pair oracle agree by construction.
# MATERIALIZED: DuckDB otherwise inlines each reference, so the all-pairs join
# reruns for both sides of ``edges`` and every step of the recursive ``reach``
# (the same rows, ~3x the time).
_PAIRS_CTE = f"""
    t AS MATERIALIZED (SELECT doc_id, {_DD_3GRAM} AS sh FROM documents),
    pairs AS MATERIALIZED (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM t a JOIN t b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.7),
    edges AS MATERIALIZED (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs)
"""


@register(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE
    {_PAIRS_CTE},
    reach(node, r) AS (
      SELECT a AS node, b AS r FROM edges
      UNION
      SELECT reach.node, e.b AS r FROM reach JOIN edges e ON reach.r = e.a
    ),
    comp AS (SELECT node, LEAST(node, MIN(r)) AS comp FROM reach GROUP BY node)
    SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minhash-LSH pairs → connected components → (doc_id, cluster_id) for
    EVERY doc; cluster_id = min doc id of the cluster (the canonical
    survivor).  Oracle is exact CC over the brute-force pair truth.

    The assignment is memoized per (session, sf_dir) — same pattern (and
    rationale) as ``tables.load`` handle memoization: the pair generation +
    CC iterations are the expensive part, deterministic for a given input
    dir, and shared by ``q_dedup_cluster_sizes``; ``localCheckpoint``
    materializes them once instead of once per downstream query."""
    memo = spark.__dict__.setdefault("_kfs_cluster_assign", {})
    key = sf_dir.rstrip("/")
    cached = memo.get(key)
    if cached is not None:
        return cached
    docs = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, id_col="doc_id", text_col="text", k=64, bands=16, threshold=0.7)
    out = dedup_clusters(docs, pairs, id_col="doc_id", a_col="a_id", b_col="b_id")
    out = out.localCheckpoint(eager=True)
    memo[key] = out
    return out


@register(
    "q_dedup_cluster_sizes",
    oracle=f"""
    WITH RECURSIVE
    {_PAIRS_CTE},
    reach(node, r) AS (
      SELECT a AS node, b AS r FROM edges
      UNION
      SELECT reach.node, e.b AS r FROM reach JOIN edges e ON reach.r = e.a
    ),
    comp AS (SELECT node, LEAST(node, MIN(r)) AS comp FROM reach GROUP BY node),
    assign AS (
      SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)
    SELECT cluster_id, COUNT(*) AS cluster_size
    FROM assign GROUP BY cluster_id HAVING COUNT(*) > 1
    """,
)
def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-trivial cluster sizes — the dedup savings report (docs removable =
    sum(cluster_size - 1))."""
    assign = q_dedup_clusters(spark, sf_dir)
    return (
        assign.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .where(F.col("cluster_size") > 1)
    )


@register(
    "q_dedup_rate_by_source",
    oracle=f"""
    WITH RECURSIVE
    {_PAIRS_CTE},
    reach(node, r) AS (
      SELECT a AS node, b AS r FROM edges
      UNION
      SELECT reach.node, e.b AS r FROM reach JOIN edges e ON reach.r = e.a
    ),
    comp AS (SELECT node, LEAST(node, MIN(r)) AS comp FROM reach GROUP BY node),
    assign AS (
      SELECT d.doc_id, d.source, COALESCE(c.comp, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(((COUNT(*) - COUNT(DISTINCT cluster_id)) * 1000000) // COUNT(*)
                AS BIGINT) AS dup_ppm
    FROM assign GROUP BY source
    """,
)
def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-card dedup report: per source, document count, near-dup cluster
    count and removable fraction (ppm, exact bigint div) — the per-domain
    duplication summary every corpus audit publishes.  Reuses the memoized
    cluster assignment; one map-combinable aggregate on top.

    NOTE on cross-source clusters: a cluster spanning sources is counted in
    each source it touches (COUNT(DISTINCT cluster_id) within the source
    group) — identical semantics in the oracle by construction."""
    assign = q_dedup_clusters(spark, sf_dir)
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        assign.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("cluster_id").alias("n_clusters"),
        )
        .withColumn(
            "dup_ppm", F.expr("((n_docs - n_clusters) * 1000000) div n_docs")
        )
    )


_SAMPLE_FRACTION = 0.1
_SAMPLE_T = fraction_threshold(_SAMPLE_FRACTION)


@register(
    "q_hash_sample",
    oracle=f"""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 6) < '{_SAMPLE_T}'
    """,
    bench=True,
)
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed bernoulli(0.1) sample of orders — scan-side predicate,
    no shuffle, reproducible across engines (oracle reproduces it exactly)."""
    orders = load(spark, sf_dir, "orders").withColumn(
        "_key", F.col("o_orderkey").cast("string")
    )
    return hash_sample(orders, "_key", _SAMPLE_FRACTION).select(
        "o_orderkey", "o_totalprice"
    )


@register(
    "q_weighted_reservoir",
    oracle="""
    WITH s AS (
      SELECT doc_id, lang, n_chars,
             -LN((list_reduce(list_transform(range(1, 7), d ->
                    CAST(strpos('0123456789abcdef',
                         substr(md5('wr0' || CAST(doc_id AS VARCHAR)), d, 1)) - 1
                         AS BIGINT)),
                  (a, b) -> a * 16 + b) + 1) / 16777216.0)
             / CAST(n_chars AS DOUBLE) AS score
      FROM documents WHERE n_chars > 0)
    SELECT doc_id, lang, n_chars,
           CAST(ROW_NUMBER() OVER (ORDER BY score, doc_id) AS INT) AS sel_rank
    FROM s QUALIFY sel_rank <= 100
    """,
)
def q_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-100 length-weighted document sample without replacement
    (operators/sampling.weighted_reservoir, Efraimidis–Spirakis exponential
    race on content-addressed uniforms) — the fixed-budget counterpart of
    q_weighted_sample's bernoulli draw."""
    from kafka_flow_spark.operators.sampling import weighted_reservoir

    docs = load(spark, sf_dir, "documents").withColumn(
        "_key", F.col("doc_id").cast("string")
    )
    return weighted_reservoir(docs, "_key", F.col("n_chars"), k=100, salt="wr0").select(
        "doc_id", "lang", "n_chars", "sel_rank"
    )


@register(
    "q_reservoir_per_lang",
    oracle="""
    WITH s AS (
      SELECT doc_id, lang, n_chars,
             -LN((list_reduce(list_transform(range(1, 7), d ->
                    CAST(strpos('0123456789abcdef',
                         substr(md5('wr1' || CAST(doc_id AS VARCHAR)), d, 1)) - 1
                         AS BIGINT)),
                  (a, b) -> a * 16 + b) + 1) / 16777216.0)
             / CAST(n_chars AS DOUBLE) AS score
      FROM documents WHERE n_chars > 0)
    SELECT doc_id, lang, n_chars, sel_rank FROM (
      SELECT doc_id, lang, n_chars,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY score, doc_id) AS INT) AS sel_rank
      FROM s) WHERE sel_rank <= 30
    """,
)
def q_reservoir_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-30-per-language length-weighted sample
    (operators/sampling.weighted_reservoir_per_group) — the stratified form
    of q_weighted_reservoir; WindowGroupLimit bounds the shuffle to k rows
    per (group, partition)."""
    from kafka_flow_spark.operators.sampling import weighted_reservoir_per_group

    docs = load(spark, sf_dir, "documents").withColumn(
        "_key", F.col("doc_id").cast("string")
    )
    return weighted_reservoir_per_group(
        docs, ["lang"], "_key", F.col("n_chars"), k=30, salt="wr1"
    ).select("doc_id", "lang", "n_chars", "sel_rank")


# Horner fold of the first 6 md5 hex digits — the DuckDB mirror of
# sampling.key_uniform's conv(bucket,16,10)/16^6 (division by 2^24 is
# IEEE-exact, so u is bit-identical in both engines).
_U_EXPR = """
    list_reduce(list_transform(range(1, 7), d ->
        CAST(strpos('0123456789abcdef',
             substr(md5(CAST(doc_id AS VARCHAR)), d, 1)) - 1 AS BIGINT)),
      (a, b) -> a * 16 + b) / 16777216.0
"""


@register(
    "q_weighted_sample",
    oracle=f"""
    SELECT doc_id, lang, n_chars
    FROM (SELECT doc_id, lang, n_chars, {_U_EXPR} AS u FROM documents)
    WHERE u < n_chars / 2000.0
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-tempered importance sample: P[keep] = clamp(n_chars/2000, 0, 1)
    per document, decided content-addressedly — one scan-side predicate."""
    from kafka_flow_spark.operators.sampling import weighted_sample

    docs = load(spark, sf_dir, "documents").withColumn(
        "_key", F.col("doc_id").cast("string")
    )
    return weighted_sample(
        docs, "_key", F.col("n_chars") / F.lit(2000.0)
    ).select("doc_id", "lang", "n_chars")


@register(
    "q_shuffle_shard",
    oracle=f"""
    SELECT doc_id, shard, CAST(ROW_NUMBER() OVER (
             PARTITION BY shard ORDER BY h, CAST(doc_id AS VARCHAR)) AS INT
           ) AS shard_rank
    FROM (SELECT doc_id, md5('ep0' || CAST(doc_id AS VARCHAR)) AS h,
                 CAST(list_reduce(list_transform(range(1, 7), d ->
                        CAST(strpos('0123456789abcdef',
                             substr(md5('ep0' || CAST(doc_id AS VARCHAR)), d, 1)) - 1
                             AS BIGINT)),
                      (a, b) -> a * 16 + b) % 8 AS INT) AS shard
          FROM documents)
    """,
)
def q_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: 8 balanced shards, reproducible
    pseudo-random order within each (salt 'ep0' varies the permutation per
    epoch without touching the data)."""
    from kafka_flow_spark.operators.sampling import shuffle_shard

    docs = load(spark, sf_dir, "documents")
    return shuffle_shard(docs, "doc_id", n_shards=8, salt="ep0").select(
        "doc_id", "shard", "shard_rank"
    )


_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}
_T_TRAIN = fraction_threshold(0.8)
_T_VAL = fraction_threshold(0.9)


@register(
    "q_curation_rule_pipeline",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, length(text) AS nc,
             length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS np,
             CASE WHEN trim(text) = '' THEN []
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks
      FROM documents),
    s AS (
      SELECT doc_id, nc, np,
             CAST(len(toks) AS INT) AS n_words,
             COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS chars,
             CAST(len(list_filter(toks, x -> list_contains(
                  ['the','a','and','of','to','is'], lower(x)))) AS INT) AS n_stopwords,
             CASE WHEN len(toks) >= 2
                  THEN list_transform(range(len(toks)-1), i -> toks[i+1] || ' ' || toks[i+2])
                  ELSE [] END AS g2
      FROM t),
    u AS (
      SELECT doc_id, n_words, n_stopwords,
             CASE WHEN n_words = 0 THEN 0.0 ELSE chars * 1.0 / n_words END AS mean_word_len,
             CASE WHEN len(g2) = 0 THEN 0.0
                  ELSE (len(g2) - len(list_distinct(g2))) * 1.0 / len(g2) END AS dup_2gram_frac,
             CASE WHEN nc = 0 THEN 0.0 ELSE np * 1.0 / nc END AS symbol_frac
      FROM s),
    passing AS (
      SELECT doc_id FROM u
      WHERE n_words >= 10 AND n_words <= 100000
        AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
        AND n_stopwords >= 1 AND dup_2gram_frac <= 0.9 AND symbol_frac <= 0.1),
    k AS (SELECT d.* FROM documents d JOIN passing USING (doc_id)),
    survivors AS (
      SELECT MIN(doc_id) AS doc_id
      FROM k GROUP BY md5(trim(lower(regexp_replace(text, '\\s+', ' ', 'g')))))
    SELECT k.doc_id, k.source, k.lang, k.n_chars,
           CASE WHEN substring(md5(CAST(k.doc_id AS VARCHAR)), 1, 6) < '{_T_TRAIN}'
                  THEN 'train'
                WHEN substring(md5(CAST(k.doc_id AS VARCHAR)), 1, 6) < '{_T_VAL}'
                  THEN 'val'
                ELSE 'test' END AS split
    FROM k JOIN survivors USING (doc_id)
    """,
)
def q_curation_rule_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rule-based curation DAG as ONE declarative plan: Gopher/C4 rule
    gate -> exact-dedup canonical survivors -> 80/10/10 hash split.  Every
    stage is an operator with its own oracle-gated query; this composition
    proves they CHAIN — Catalyst fuses the gate into the scan, the dedup is
    one content-hash aggregate, the split is a map-side projection, so the
    whole pipeline is scan -> one shuffle -> done.  The oracle is the full
    three-stage SQL mirror.  (Renamed from q_curation_pipeline in r7: this
    and the LSH-cluster composition below were BOTH registered under that
    name, and the dict write made this one silently unreachable — now both
    compositions are registered and sweep-checked.)"""
    from kafka_flow_spark.operators.dedup import exact_duplicates
    from kafka_flow_spark.operators.quality import quality_flags

    docs = load(spark, sf_dir, "documents")
    passing = quality_flags(docs, "doc_id", "text").where(F.col("keep")).select("doc_id")
    kept = docs.join(passing, "doc_id")
    survivors = exact_duplicates(kept, "text", "doc_id").select(
        F.col("canonical_id").alias("doc_id")
    )
    out = kept.join(survivors, "doc_id").withColumn(
        "_key", F.col("doc_id").cast("string")
    )
    return hash_split(out, "_key", {"train": 0.8, "val": 0.1, "test": 0.1}).select(
        "doc_id", "source", "lang", "n_chars", "split"
    )




@register(
    "q_hash_split",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN b < '{_T_TRAIN}' THEN 'train'
                WHEN b < '{_T_VAL}' THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, substring(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS b
          FROM documents)
    """,
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment, stable under corpus growth."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "_key", F.col("doc_id").cast("string")
    )
    return hash_split(docs, "_key", _SPLITS).select("doc_id", "split")


_MIX = {"en": 1.0, "de": 0.5, "fr": 0.5, "es": 0.25, "zh": 0.25}
_MIX_CASE = " ".join(
    f"WHEN lang = '{g}' THEN "
    + ("TRUE" if w >= 1.0 else f"b < '{fraction_threshold(w)}'")
    for g, w in _MIX.items()
)


@register(
    "q_weighted_mix",
    oracle=f"""
    SELECT doc_id, lang
    FROM (SELECT doc_id, lang,
                 substring(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS b
          FROM documents)
    WHERE CASE {_MIX_CASE} ELSE FALSE END
    """,
)
def q_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language re-balancing: keep all English, half de/fr, a quarter es/zh —
    reproducible bernoulli per group."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "_key", F.col("doc_id").cast("string")
    )
    return weighted_mix(docs, "lang", "_key", _MIX).select("doc_id", "lang")


@register(
    "q_pack_sequences",
    oracle="""
    WITH t AS (
      SELECT doc_id, doc_id % 8 AS shard,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS hb
      FROM documents),
    w AS (
      SELECT doc_id, shard, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY hb, CAST(doc_id AS VARCHAR)
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM t)
    SELECT doc_id, shard, CAST(cum // 512 AS BIGINT) AS pack_id,
           CAST(cum % 512 AS BIGINT) AS pack_offset, CAST(n_tokens AS INT) AS n_tokens
    FROM w
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: 8 shards, 512-token budget, content-hash order
    within shard (deterministic shuffle), concat-then-chunk offsets."""
    return pack_sequences(
        load(spark, sf_dir, "documents"), "doc_id", "text", budget=512, n_shards=8
    )


def _gram8(src: str) -> str:
    toks = "string_split(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')"
    return f"""
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len({toks}) - 7, 0) + 1),
               i -> list_aggr(list_slice({toks}, i, i + 7), 'string_agg', ' ')))) AS ng
      FROM {src}"""


_T_EVAL = fraction_threshold(0.05)


@register(
    "q_ngram_contamination",
    oracle=f"""
    WITH g AS ({_gram8("documents")}),
    ev AS (SELECT DISTINCT ng FROM g
           WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 6) < '{_T_EVAL}'),
    tr AS (SELECT doc_id, ng FROM g
           WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 6) >= '{_T_EVAL}'),
    hits AS (SELECT tr.doc_id, COUNT(DISTINCT tr.ng) AS n_shared
             FROM tr JOIN ev USING (ng) GROUP BY tr.doc_id)
    SELECT d.doc_id, COALESCE(h.n_shared, 0) AS n_shared
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 6) >= '{_T_EVAL}'
    """,
)
def q_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-leakage washout: shared distinct 8-grams between each train doc
    and a hash-held-out 5% eval slice of the same corpus."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "_key", F.col("doc_id").cast("string")
    )
    ev = hash_sample(docs, "_key", 0.05)
    train = docs.join(ev.select("doc_id"), "doc_id", "left_anti")
    return ngram_contamination(train, ev, "doc_id", "text", n=8)


@register(
    "q_decontaminated_split",
    oracle=f"""
    WITH sp AS (
      SELECT doc_id,
             CASE WHEN b < '{_T_TRAIN}' THEN 'train'
                  WHEN b < '{_T_VAL}' THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id, substring(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS b
            FROM documents)),
    g AS ({_gram8("documents")}),
    te AS (SELECT DISTINCT g.ng FROM g JOIN sp USING (doc_id)
           WHERE sp.split = 'test'),
    cont AS (SELECT DISTINCT g.doc_id FROM g JOIN sp USING (doc_id)
             WHERE sp.split = 'train' AND g.ng IN (SELECT ng FROM te))
    SELECT sp.doc_id, sp.split FROM sp
    WHERE sp.doc_id NOT IN (SELECT doc_id FROM cont)
    """,
)
def q_decontaminated_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-safe train/val/test assignment: the 80/10/10 hash split
    with every train document that shares an 8-gram with the TEST slice
    dropped — the washout applied at split time instead of reported after
    the fact (composes hash_split + ngram_contamination, both independently
    oracle-gated; this row proves the composition)."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "_key", F.col("doc_id").cast("string")
    )
    splits = hash_split(docs, "_key", _SPLITS).select("doc_id", "split", "text")
    test = splits.where(F.col("split") == "test")
    train = splits.where(F.col("split") == "train")
    cont = (
        ngram_contamination(train, test, "doc_id", "text", n=8)
        .where(F.col("n_shared") > 0)
        .select("doc_id")
    )
    return splits.join(cont, "doc_id", "left_anti").select("doc_id", "split")


@register(
    "q_curation_pipeline",
    oracle=f"""
    WITH RECURSIVE
    {_PAIRS_CTE},
    reach(node, r) AS (
      SELECT a AS node, b AS r FROM edges
      UNION
      SELECT reach.node, e.b AS r FROM reach JOIN edges e ON reach.r = e.a
    ),
    comp AS (SELECT node, LEAST(node, MIN(r)) AS comp FROM reach GROUP BY node),
    canon AS (
      SELECT d.doc_id, d.lang,
             substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 6) AS b
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
      WHERE COALESCE(c.comp, d.doc_id) = d.doc_id),
    mixed AS (SELECT doc_id, lang, b FROM canon
              WHERE CASE {_MIX_CASE} ELSE FALSE END),
    sp AS (SELECT lang,
                  CASE WHEN b < '{_T_TRAIN}' THEN 'train'
                       WHEN b < '{_T_VAL}' THEN 'val'
                       ELSE 'test' END AS split
           FROM mixed)
    SELECT split, lang, COUNT(*) AS n_docs FROM sp GROUP BY split, lang
    """,
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole Phase-4 chain as ONE declarative plan: minhash-LSH pairs →
    connected components → keep canonical survivors → language-weighted mix →
    train/val/test split → counts per (split, lang).  Every stage is the
    already-oracle-gated operator; this query proves they compose (the
    cluster assignment is the memoized checkpoint from q_dedup_clusters, so
    the chain costs one CC run per session)."""
    assign = q_dedup_clusters(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    canon = (
        docs.join(assign, "doc_id")
        .where(F.col("doc_id") == F.col("cluster_id"))
        .withColumn("_key", F.col("doc_id").cast("string"))
    )
    mixed = weighted_mix(canon, "lang", "_key", _MIX)
    split = hash_split(mixed, "_key", _SPLITS)
    return split.groupBy("split", "lang").agg(F.count(F.lit(1)).alias("n_docs"))


@register(
    "q_rebalance_classes",
    oracle="""
    WITH ranked AS (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 6),
                        CAST(doc_id AS VARCHAR)) AS rk,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents),
    c AS (SELECT lang, doc_id,
                 (100 // n) + CASE WHEN rk <= 100 % n THEN 1 ELSE 0 END AS copies
          FROM ranked)
    SELECT lang, doc_id, UNNEST(generate_series(1, copies)) AS copy_idx
    FROM c WHERE copies >= 1
    """,
)
def q_rebalance_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equalize languages to exactly 100 docs each: over-represented langs
    downsample (content-addressed first-100), under-represented ones replicate
    whole plus a hash-ranked remainder — the class-balancing step before
    epoch sharding.  One rank-window shuffle, then map-side copy explode."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "_key", F.col("doc_id").cast("string")
    )
    return rebalance_classes(
        docs, strata_cols=["lang"], key_col="_key", target_n=100
    ).select("lang", "doc_id", "copy_idx")


@register(
    "q_stratified_sample",
    oracle="""
    SELECT o_orderpriority, o_orderkey FROM (
      SELECT o_orderpriority, o_orderkey,
             ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 6),
                        CAST(o_orderkey AS VARCHAR)) AS rk
      FROM orders) WHERE rk <= 20
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 20 orders per priority stratum, content-addressed order —
    the deterministic eval-set carve-out."""
    orders = load(spark, sf_dir, "orders").withColumn(
        "_key", F.col("o_orderkey").cast("string")
    )
    return stratified_sample(
        orders, strata_cols=["o_orderpriority"], key_col="_key", k=20
    ).select("o_orderpriority", "o_orderkey")


# Horner fold of the first 15 md5 hex digits of a seeded n-gram re-hash — the
# DuckDB mirror of curation._bloom_positions (60-bit value, exact in BIGINT).
def _bloom_pos_sql(expr: str, m_bits: int) -> str:
    return f"""
    list_reduce(list_transform(range(1, 16), d ->
        CAST(strpos('0123456789abcdef',
             substr(md5({expr}), d, 1)) - 1 AS BIGINT)),
      (a, b) -> a * 16 + b) % {m_bits}"""


@register(
    "q_ngram_novelty",
    oracle=f"""
    WITH g AS ({_gram8('documents')}),
    ref AS (SELECT DISTINCT ng FROM g
            WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 6) < '{_T_EVAL}'),
    cor AS (SELECT DISTINCT doc_id, ng FROM g
            WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 6) >= '{_T_EVAL}'),
    per AS (SELECT cor.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_grams,
                   CAST(SUM(CASE WHEN ref.ng IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_novel
            FROM cor LEFT JOIN ref ON cor.ng = ref.ng GROUP BY cor.doc_id)
    SELECT d.doc_id, COALESCE(p.n_grams, 0) AS n_grams,
           COALESCE(p.n_novel, 0) AS n_novel,
           CASE WHEN COALESCE(p.n_grams, 0) > 0
                THEN (p.n_novel * 1000000) // p.n_grams END AS novelty_ppm
    FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
    WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 6) >= '{_T_EVAL}'
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 8-gram novelty against the same hash-held-out 5% slice
    the contamination queries use (operators/curation.ngram_novelty) — the
    memorization/redundancy signal: novelty_ppm = unshared-gram fraction in
    exact parts-per-million."""
    from kafka_flow_spark.operators.curation import ngram_novelty

    docs = load(spark, sf_dir, "documents").withColumn(
        "_key", F.col("doc_id").cast("string")
    )
    ref = hash_sample(docs, "_key", 0.05)
    corpus = docs.join(ref.select("doc_id"), "doc_id", "left_anti")
    return ngram_novelty(corpus, ref, "doc_id", "text", n=8)


_TBM_BUDGETS = {f"src{i}": (700 if i % 2 == 0 else 300) for i in range(20)}


def _tbm_budget_sql() -> str:
    return (
        "CASE "
        + " ".join(
            f"WHEN source = '{g}' THEN {b}" for g, b in sorted(_TBM_BUDGETS.items())
        )
        + " END"
    )


@register(
    "q_token_budget_mix",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS BIGINT)
               AS n_tokens
      FROM documents WHERE trim(text) <> ''),
    z AS (SELECT doc_id, source, 0 AS n_tokens FROM documents WHERE trim(text) = ''),
    a AS (SELECT * FROM t UNION ALL SELECT * FROM z),
    g AS (SELECT a.*, CAST(SUM(n_tokens) OVER (PARTITION BY source) AS BIGINT)
                        AS group_tokens FROM a)
    SELECT doc_id, source, n_tokens, group_tokens
    FROM g
    WHERE ({_tbm_budget_sql()}) IS NOT NULL
      AND (list_reduce(list_transform(range(1, 7), d ->
             CAST(strpos('0123456789abcdef',
                  substr(md5(CAST(doc_id AS VARCHAR)), d, 1)) - 1 AS BIGINT)),
           (a, b) -> a * 16 + b) / 16777216.0)
          * CAST(group_tokens AS DOUBLE) < CAST(({_tbm_budget_sql()}) AS DOUBLE)
    """,
)
def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-targeted source mixing (operators/curation.token_budget_mix):
    even-numbered sources sampled toward 700 tokens, odd toward 300 —
    epochs-per-source stated as absolute token budgets, content-addressed
    keep decisions, no division in the predicate."""
    from kafka_flow_spark.operators.curation import token_budget_mix

    docs = load(spark, sf_dir, "documents").withColumn(
        "_key", F.col("doc_id").cast("string")
    )
    return token_budget_mix(docs, "source", "_key", "text", _TBM_BUDGETS).select(
        "doc_id", "source", "n_tokens", "group_tokens"
    )


@register(
    "q_bloom_contamination",
    oracle=f"""
    WITH g AS ({_gram8("documents")}),
    ev AS (SELECT DISTINCT ng FROM g
           WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 6) < '{_T_EVAL}'),
    tr AS (SELECT doc_id, ng FROM g
           WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 6) >= '{_T_EVAL}'),
    seeds AS (SELECT unnest(range(0, 4)) AS s),
    epos AS (SELECT DISTINCT {_bloom_pos_sql("CAST(s AS VARCHAR) || ':' || ng", 1 << 20)} AS pos
             FROM ev CROSS JOIN seeds),
    tpos AS (SELECT doc_id, ng, {_bloom_pos_sql("CAST(s AS VARCHAR) || ':' || ng", 1 << 20)} AS pos
             FROM tr CROSS JOIN seeds),
    perg AS (SELECT doc_id, ng,
                    MIN(CASE WHEN e.pos IS NOT NULL THEN 1 ELSE 0 END) AS hit
             FROM tpos t LEFT JOIN epos e USING (pos)
             GROUP BY doc_id, ng),
    hits AS (SELECT doc_id, SUM(hit) AS n_flagged FROM perg GROUP BY doc_id)
    SELECT d.doc_id, CAST(COALESCE(h.n_flagged, 0) AS BIGINT) AS n_flagged
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 6) >= '{_T_EVAL}'
    """,
)
def q_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path of eval decontamination: same train/eval carve as
    q_ngram_contamination, but membership through a 2^20-bit / 4-hash bloom
    of the eval n-grams — a broadcast bitmap probe instead of an n-gram
    shuffle join, with deterministic (md5) and therefore oracle-checkable
    false positives.  n_flagged upper-bounds the exact n_shared."""
    from kafka_flow_spark.operators.curation import bloom_contamination

    docs = load(spark, sf_dir, "documents").withColumn(
        "_key", F.col("doc_id").cast("string")
    )
    ev = hash_sample(docs, "_key", 0.05)
    train = docs.join(ev.select("doc_id"), "doc_id", "left_anti")
    return bloom_contamination(train, ev, "doc_id", "text", n=8)


@register(
    "q_cluster_aware_split",
    oracle=f"""
    WITH RECURSIVE
    {_PAIRS_CTE},
    reach(node, r) AS (
      SELECT a AS node, b AS r FROM edges
      UNION
      SELECT reach.node, e.b AS r FROM reach JOIN edges e ON reach.r = e.a
    ),
    comp AS (SELECT node, LEAST(node, MIN(r)) AS comp FROM reach GROUP BY node),
    assign AS (
      SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
    keyed AS (
      SELECT doc_id, cluster_id,
             substring(md5('cl:' || CAST(cluster_id AS VARCHAR)), 1, 6) AS b
      FROM assign)
    SELECT doc_id, cluster_id,
           CASE WHEN b < '{_T_TRAIN}' THEN 'train'
                WHEN b < '{_T_VAL}' THEN 'val'
                ELSE 'test' END AS split
    FROM keyed
    """,
)
def q_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: split by hash of the near-dup
    CLUSTER id, not the document id — every member of a near-duplicate
    cluster lands in the SAME split, so eval can never see a near-copy of a
    training document (the leakage q_hash_split alone cannot prevent).
    Composition of two oracle-gated stages: the memoized connected-components
    assignment + the content-addressed hash split keyed on the cluster
    representative ('cl:' salt decorrelates from per-doc splits)."""
    assign = q_dedup_clusters(spark, sf_dir)
    keyed = assign.withColumn(
        "_ckey", F.concat(F.lit("cl:"), F.col("cluster_id").cast("string"))
    )
    return hash_split(keyed, "_ckey", _SPLITS).select("doc_id", "cluster_id", "split")


@register(
    "q_line_dedup",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    c AS (SELECT doc_id, CAST(i AS INT) AS pos,
                 list_aggr(w[(i*5+1):((i+1)*5)], 'string_agg', ' ') AS line
          FROM t, LATERAL unnest(range((len(w) + 4) // 5)) AS u(i)),
    d AS (SELECT line FROM c WHERE length(trim(line)) >= 1
          GROUP BY line HAVING COUNT(*) >= 3)
    SELECT c.doc_id,
           COALESCE(string_agg(CASE WHEN d.line IS NULL THEN c.line END,
                               chr(10) ORDER BY c.pos), '') AS page,
           COUNT(*) AS n_lines,
           CAST(SUM(CASE WHEN d.line IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed
    FROM c LEFT JOIN d USING (line)
    GROUP BY c.doc_id
    """,
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate-line removal (RefinedWeb/MassiveText
    line-wise correction — operators/curation.py line_dedup): documents are
    reshaped into multi-line pages (lines = consecutive 5-token chunks; the
    corpus ships as single-line texts), then every line whose exact text
    appears >= 3 times across the corpus is dropped from all pages and the
    pages are reassembled in order.  The oracle reproduces the line table
    directly from the same chunking (a chunk never contains the delimiter,
    so page-split round-trips exactly)."""
    from kafka_flow_spark.operators.curation import line_dedup

    docs = load(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ", -1)
    n_chunks = F.expr("(size(split(text, ' ', -1)) + 4) div 5")
    page = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_chunks.cast("int") - 1),
            lambda i: F.array_join(F.slice(w, i * 5 + 1, 5), " "),
        ),
        "\n",
    )
    paged = docs.filter(F.size(w) >= 1).select("doc_id", page.alias("page"))
    return line_dedup(paged, "doc_id", "page", min_dup_count=3)


@register(
    "q_boilerplate_by_source",
    oracle="""
    WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
               FROM documents),
    c0 AS (SELECT doc_id, source, CAST(i AS INT) + 1 AS pos,
                  list_aggr(w[(i*5+1):((i+1)*5)], 'string_agg', ' ') AS line
           FROM t, LATERAL unnest(range((len(w) + 4) // 5)) AS u(i)),
    c AS (SELECT doc_id, source, 0 AS pos,
                 'cookie banner ' || source AS line
          FROM t WHERE doc_id % 2 = 0
          UNION ALL SELECT doc_id, source, pos, line FROM c0),
    n AS (SELECT source, COUNT(DISTINCT doc_id) AS nsrc FROM c GROUP BY source),
    d AS (SELECT source, line, COUNT(DISTINCT doc_id) AS dc
          FROM c WHERE length(trim(line)) >= 1 GROUP BY source, line),
    b AS (SELECT d.source, d.line FROM d JOIN n USING (source)
          WHERE dc >= 2 AND dc * 100 >= 30 * nsrc)
    SELECT c.doc_id, c.source,
           COALESCE(string_agg(CASE WHEN b.line IS NULL THEN c.line END,
                               chr(10) ORDER BY c.pos), '') AS page,
           COUNT(*) AS n_lines,
           CAST(SUM(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed
    FROM c LEFT JOIN b ON c.source = b.source AND c.line = b.line
    GROUP BY c.doc_id, c.source
    """,
)
def q_boilerplate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE boilerplate removal (operators/curation.
    boilerplate_by_source — the RefinedWeb refinement of q_line_dedup's
    corpus-wide rule): a line appearing in >= 30% of a source's documents
    (and >= 2 of them) is boilerplate FOR THAT SOURCE only.  The fixture
    pages documents exactly as q_line_dedup does and stamps a per-source
    cookie-banner line onto every even doc_id — domain-local boilerplate a
    corpus-wide absolute bar cannot see; the fraction compare is exact
    integers."""
    from kafka_flow_spark.operators.curation import boilerplate_by_source

    docs = load(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ", -1)
    n_chunks = F.expr("(size(split(text, ' ', -1)) + 4) div 5")
    body = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_chunks.cast("int") - 1),
            lambda i: F.array_join(F.slice(w, i * 5 + 1, 5), " "),
        ),
        "\n",
    )
    page = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("cookie banner "), F.col("source"), F.lit("\n"), body),
    ).otherwise(body)
    paged = docs.filter(F.size(w) >= 1).select(
        "doc_id", "source", page.alias("page")
    )
    return boilerplate_by_source(
        paged, "doc_id", "source", "page", min_frac_pct=30, min_doc_count=2
    )


@register(
    "q_source_overlap",
    oracle=f"""
    WITH t AS (SELECT source, {_DD_3GRAM} AS sh FROM documents),
    u AS (SELECT source, unnest(sh) AS ng FROM t),
    g AS (SELECT DISTINCT source, ng FROM u),
    s AS (SELECT source, COUNT(*) AS n_a FROM g GROUP BY source),
    p AS (SELECT a.source AS group_a, b.source AS group_b, COUNT(*) AS n_shared
          FROM g a JOIN g b ON a.ng = b.ng AND a.source <> b.source
          GROUP BY 1, 2)
    SELECT p.group_a, p.group_b, p.n_shared, s.n_a,
           CAST(p.n_shared AS DOUBLE) / CAST(s.n_a AS DOUBLE) AS containment
    FROM p JOIN s ON p.group_a = s.source
    """,
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix (operators/curation.py
    source_overlap_matrix): distinct word-3-gram containment between every
    ordered source pair — the mirror/syndication leakage map a data card
    ships.  The oracle joins gram STRINGS where the operator joins 64-bit
    xxhash keys (the string never shuffles); at any realistic gram
    cardinality the hash-collision probability is ~|G|²/2⁶⁴ ≈ 0, and a
    collision would only surface as a one-count diff the hash gate would
    catch."""
    from kafka_flow_spark.operators.curation import source_overlap_matrix

    return source_overlap_matrix(
        load(spark, sf_dir, "documents"), "source", "text", shingle_n=3
    )


@register(
    "q_mixture_divergence",
    oracle="""
    WITH w0 AS (
      SELECT source AS g,
             unnest(CASE WHEN trim(text) = '' THEN []
                    ELSE string_split_regex(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')
                    END) AS w
      FROM documents),
    w2 AS (SELECT g, w FROM w0 WHERE w <> ''),
    c AS (SELECT g, w, COUNT(*) AS c FROM w2 GROUP BY 1, 2),
    t AS (SELECT g, SUM(c) AS n FROM c GROUP BY 1),
    p AS (SELECT a.g AS ga, a.c AS ca, b.g AS gb, b.c AS cb
          FROM c a JOIN c b ON a.w = b.w AND a.g < b.g),
    s AS (SELECT ga, gb,
                 SUM((CAST(ca AS DOUBLE) / ta.n) * log2(2.0 * (CAST(ca AS DOUBLE) / ta.n)
                     / ((CAST(ca AS DOUBLE) / ta.n) + (CAST(cb AS DOUBLE) / tb.n)))
                   + (CAST(cb AS DOUBLE) / tb.n) * log2(2.0 * (CAST(cb AS DOUBLE) / tb.n)
                     / ((CAST(ca AS DOUBLE) / ta.n) + (CAST(cb AS DOUBLE) / tb.n)))) AS term,
                 SUM(ca) AS sca, SUM(cb) AS scb, COUNT(*) AS shared_types,
                 MAX(ta.n) AS n_tokens_a, MAX(tb.n) AS n_tokens_b
          FROM p JOIN t ta ON ta.g = p.ga JOIN t tb ON tb.g = p.gb
          GROUP BY 1, 2),
    u AS (SELECT a.g AS ga, a.n AS una, b.g AS gb, b.n AS unb
          FROM t a JOIN t b ON a.g < b.g),
    f AS (SELECT u.ga, u.gb,
                 COALESCE(s.term, 0.0) AS term,
                 COALESCE(s.sca, 0) AS sca, COALESCE(s.scb, 0) AS scb,
                 COALESCE(s.shared_types, 0) AS shared_types,
                 u.una AS n_tokens_a, u.unb AS n_tokens_b
          FROM u LEFT JOIN s ON s.ga = u.ga AND s.gb = u.gb)
    SELECT ga AS group_a, gb AS group_b, CAST(shared_types AS BIGINT) AS shared_types,
           CAST(n_tokens_a AS BIGINT) AS n_tokens_a,
           CAST(n_tokens_b AS BIGINT) AS n_tokens_b,
           ROUND(0.5 * (term + (1.0 - CAST(sca AS DOUBLE) / n_tokens_a)
                             + (1.0 - CAST(scb AS DOUBLE) / n_tokens_b)), 4) AS jsd
    FROM f
    """,
)
def q_mixture_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source unigram
    distributions (operators/curation.py mixture_divergence) — the
    data-mixture drift diagnostic next to q_source_overlap's containment
    matrix.  4-decimal contract (log2 is transcendental; everything before
    the logs is exact integer-count arithmetic mirrored in the oracle)."""
    from kafka_flow_spark.operators.curation import mixture_divergence

    return mixture_divergence(load(spark, sf_dir, "documents"), "source", "text")


@register(
    "q_cap_per_source",
    oracle="""
    SELECT doc_id, source, cap_rank FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 6),
                        CAST(doc_id AS VARCHAR)) AS cap_rank
      FROM documents)
    WHERE cap_rank <= 120
    """,
)
def q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain capping (operators/sampling.py cap_per_group): at most 120
    docs per source, chosen by content-addressed md5 rank — the
    no-single-host-dominates move of every web-corpus recipe, reproducible
    across engines (the oracle reproduces the exact surviving set)."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "_key", F.col("doc_id").cast("string")
    )
    return cap_per_group(docs, "source", "_key", n_max=120).select(
        "doc_id", "source", "cap_rank"
    )


# --- DSIR importance resampling -------------------------------------------

# DuckDB mirror of operators/selection.py: hashed-bigram buckets, add-one
# smoothed target/raw models, micro-nat bigint log-ratios, exact integer
# per-doc weights.  Shared md5 Horner fold (the _U_EXPR idiom) keeps the
# bucket assignment bit-identical across engines.
_DSIR_B = 4096
_DSIR_K = 200
_DSIR_TOKS = """
    CASE WHEN trim(text) = '' THEN []
         ELSE string_split_regex(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') END
"""


@register(
    "q_dsir_sample",
    bench=True,
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source = 'src0' AS is_t, {_DSIR_TOKS} AS toks
      FROM documents),
    pr0 AS (SELECT doc_id, is_t, toks, UNNEST(range(len(toks) - 1)) AS i
            FROM t WHERE len(toks) >= 2),
    g AS (SELECT doc_id, is_t, toks[i + 1] || ' ' || toks[i + 2] AS gram FROM pr0),
    b AS (SELECT doc_id, is_t,
            list_reduce(list_transform(range(1, 7), d ->
              CAST(strpos('0123456789abcdef', substr(md5(gram), d, 1)) - 1 AS BIGINT)),
              (a, b) -> a * 16 + b) % {_DSIR_B} AS bucket
          FROM g),
    c AS (SELECT bucket,
                 SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS t_cnt,
                 SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS r_cnt
          FROM b GROUP BY bucket),
    tot AS (SELECT SUM(t_cnt) AS t_tot, SUM(r_cnt) AS r_tot FROM c),
    lr AS (SELECT bucket,
             CAST(ROUND(LN(CAST((t_cnt + 1) * (r_tot + {_DSIR_B}) AS DOUBLE)
                           / CAST((r_cnt + 1) * (t_tot + {_DSIR_B}) AS DOUBLE))
                        * 1000000) AS BIGINT) AS lr_scaled
           FROM c CROSS JOIN tot),
    w AS (SELECT b.doc_id, COUNT(*) AS n_grams, CAST(SUM(lr.lr_scaled) AS BIGINT) AS weight_scaled
          FROM b JOIN lr USING (bucket) GROUP BY b.doc_id)
    SELECT w.doc_id, w.n_grams, w.weight_scaled,
           CAST(ROW_NUMBER() OVER (ORDER BY w.weight_scaled DESC, w.doc_id) AS INT) AS rank
    FROM w JOIN documents d ON w.doc_id = d.doc_id
    WHERE NOT (d.source = 'src0')
    QUALIFY rank <= {_DSIR_K}
    """,
)
def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: top-200 raw documents whose hashed-bigram profile
    is most target-like (target domain = source 'src0'), by exact micro-nat
    importance weight — operators/selection.py."""
    from kafka_flow_spark.operators.selection import select_topk

    docs = load(spark, sf_dir, "documents")
    return select_topk(
        docs, "text", "doc_id", F.col("source") == "src0", k=_DSIR_K, n_buckets=_DSIR_B
    )


# --- Hashed-linear quality classifier (model-based filtering) ---------------

# Shared md5 6-hex Horner fold (the DSIR bucket idiom) as a SQL fragment
# generator — bit-identical to Spark's conv(substring(md5(x), 1, 6), 16, 10).
def _fold6(expr: str) -> str:
    return (
        "list_reduce(list_transform(range(1, 7), d -> "
        f"CAST(strpos('0123456789abcdef', substr(md5({expr}), d, 1)) - 1 AS BIGINT)), "
        "(a, b) -> a * 16 + b)"
    )


_CLF_B = 4096
_CLF_TAG = "quality-v1"


@register(
    "q_quality_classifier",
    bench=True,
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DSIR_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, UNNEST(toks) AS tok FROM t WHERE len(toks) >= 1),
    b AS (SELECT doc_id, {_fold6('tok')} % {_CLF_B} AS bucket FROM tok),
    w AS (SELECT doc_id, COUNT(*) AS n_tokens,
                 CAST(SUM({_fold6(f"'{_CLF_TAG}:' || CAST(bucket AS VARCHAR)")} % 2001 - 1000)
                      AS BIGINT) AS score_micro
          FROM b GROUP BY doc_id)
    SELECT doc_id, n_tokens, score_micro, score_micro >= 0 AS label FROM w
    """,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (operators/selection.py
    classifier_scores): linear classifier over hashed bag-of-unigrams — the
    fasttext-architecture inference step of CCNet/GPT-3-style pipelines,
    next to the rule-based gates (q_quality_rules).  The weight table is a
    deterministic md5-derived stand-in for a loaded model; the plan
    (broadcast model join + one integer aggregation) is the production
    shape regardless of where the weights come from."""
    from kafka_flow_spark.operators.selection import classifier_scores, hash_model

    docs = load(spark, sf_dir, "documents")
    model = hash_model(spark, _CLF_TAG, n_buckets=_CLF_B)
    return classifier_scores(
        docs, "text", "doc_id", weights=model, n_buckets=_CLF_B
    )


# --- Canonical survivor per near-dup cluster --------------------------------


@register(
    "q_cluster_canonical",
    oracle=f"""
    WITH RECURSIVE
    {_PAIRS_CTE},
    reach(node, r) AS (
      SELECT a AS node, b AS r FROM edges
      UNION
      SELECT reach.node, e.b AS r FROM reach JOIN edges e ON reach.r = e.a
    ),
    comp AS (SELECT node, LEAST(node, MIN(r)) AS comp FROM reach GROUP BY node),
    assign AS (
      SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
    s AS (SELECT a.doc_id, a.cluster_id, d.n_chars AS score
          FROM assign a JOIN documents d USING (doc_id)),
    best AS (SELECT cluster_id, canonical_id FROM (
               SELECT cluster_id, doc_id AS canonical_id,
                      ROW_NUMBER() OVER (PARTITION BY cluster_id
                                         ORDER BY score DESC, doc_id ASC) AS rn
               FROM s) WHERE rn = 1)
    SELECT s.doc_id, s.cluster_id, s.score, b.canonical_id,
           s.doc_id = b.canonical_id AS keep
    FROM s JOIN best b USING (cluster_id)
    """,
)
def q_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection per near-dup cluster (operators/graph.py
    canonical_per_cluster): keep the LONGEST member of each minhash-CC
    cluster (ties to lowest id) — the keep-best-representative step
    RefinedWeb/SlimPajama-style recipes run after clustering, completing
    the dedup lifecycle: pairs → clusters → survivors."""
    from kafka_flow_spark.operators.graph import canonical_per_cluster

    assign = q_dedup_clusters(spark, sf_dir)
    scores = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").alias("score")
    )
    return canonical_per_cluster(assign, scores, "doc_id", "cluster_id", "score")


# --- PageRank (iterative, exact integer arithmetic) ------------------------

_PR_ITERS = 5
_PR_SCALE = 10**12
_PR_DN, _PR_DD = 85, 100


def _pagerank_oracle() -> str:
    """Unrolled DuckDB mirror of operators/graph.pagerank on the undirected
    customer–supplier co-transaction graph: one CTE per iteration, all
    integer // division — bit-identical to Spark's div loop."""
    ctes = [
        """pairs AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
             FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)""",
        """edges AS (SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
             UNION ALL SELECT s * 2 + 1 AS src, c * 2 AS dst FROM pairs)""",
        "deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)",
        "nodes AS (SELECT DISTINCT src AS node FROM edges)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        f"r0 AS (SELECT node, {_PR_SCALE} // n AS r FROM nodes CROSS JOIN nn)",
    ]
    for i in range(1, _PR_ITERS + 1):
        ctes.append(f"""r{i} AS (
          SELECT nodes.node,
                 ({_PR_DD - _PR_DN} * {_PR_SCALE}::BIGINT) // ({_PR_DD} * nn.n)
                 + ({_PR_DN} * COALESCE(SUM(r{i - 1}.r // deg.outdeg), 0)) // {_PR_DD} AS r
          FROM nodes CROSS JOIN nn
          LEFT JOIN (edges JOIN r{i - 1} ON edges.src = r{i - 1}.node
                     JOIN deg ON deg.src = edges.src)
            ON edges.dst = nodes.node
          GROUP BY nodes.node, nn.n)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, CAST(r AS BIGINT) AS rank_scaled FROM r{_PR_ITERS}"
    )


@register("q_pagerank_suppliers", oracle=_pagerank_oracle())
def q_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-iteration integer PageRank over the undirected customer–supplier
    co-transaction graph (operators/graph.pagerank): node 2k = customer k,
    node 2k+1 = supplier k; ranks in 1e-12 units of total mass."""
    from kafka_flow_spark.operators.graph import pagerank

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return pagerank(
        edges,
        iterations=_PR_ITERS,
        scale=_PR_SCALE,
        damping=(_PR_DN, _PR_DD),
    )


# --- k-core decomposition (iterative peeling) -------------------------------

_KCORE_K = 8
_KCORE_ROUNDS = 12


def _kcore_oracle() -> str:
    """Unrolled DuckDB mirror of operators/graph.k_core: 12 peel rounds on
    the co-transaction graph.  Peeling past the fixpoint is the identity,
    so the unrolled depth only needs to COVER convergence (measured: 2
    rounds at sf0.001/sf0.01) for bit-equality with Spark's early-exit loop."""
    ctes = [
        """pairs AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
             FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)""",
        """e0 AS (SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
             UNION ALL SELECT s * 2 + 1 AS src, c * 2 AS dst FROM pairs)""",
    ]
    # each e{i} references e{i-1} exactly ONCE (window degree counts on the
    # symmetrized edge set) — a keep-set formulation references it twice and
    # DuckDB's CTE inlining goes exponential in the unroll depth.
    for i in range(1, _KCORE_ROUNDS + 1):
        ctes.append(f"""e{i} AS (SELECT src, dst FROM (
             SELECT src, dst,
                    COUNT(*) OVER (PARTITION BY src) AS cs,
                    COUNT(*) OVER (PARTITION BY dst) AS cd
             FROM e{i - 1})
             WHERE cs >= {_KCORE_K} AND cd >= {_KCORE_K})""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM e{_KCORE_ROUNDS} GROUP BY src HAVING COUNT(*) >= {_KCORE_K}"""
    )


@register("q_kcore_suppliers", oracle=_kcore_oracle())
def q_kcore_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 8-core of the undirected customer-supplier co-transaction graph
    (operators/graph.k_core): the maximal subgraph where every customer and
    supplier keeps >= 8 co-transaction partners — the active core market.
    Synchronous peeling with convergence early-exit; (node, in-core degree)."""
    from kafka_flow_spark.operators.graph import k_core

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return k_core(edges, k=_KCORE_K, max_rounds=_KCORE_ROUNDS)


# --- classifier calibration / lift table ------------------------------------


def _calibration_oracle() -> str:
    from kafka_flow_spark.plans.quality import _TOKS as _Q_TOKS

    return f"""
    WITH t AS (SELECT doc_id, {_DSIR_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, UNNEST(toks) AS tok FROM t WHERE len(toks) >= 1),
    b AS (SELECT doc_id, {_fold6('tok')} % {_CLF_B} AS bucket FROM tok),
    w AS (SELECT doc_id,
                 CAST(SUM({_fold6(f"'{_CLF_TAG}:' || CAST(bucket AS VARCHAR)")} % 2001 - 1000)
                      AS BIGINT) AS score_micro
          FROM b GROUP BY doc_id),
    qt AS (SELECT doc_id, {_Q_TOKS} AS qtoks,
                  length(text) AS nc,
                  length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                    AS np
           FROM documents),
    qs AS (SELECT doc_id, nc, np,
                  CAST(len(qtoks) AS INT) AS n_words,
                  COALESCE(list_sum(list_transform(qtoks, x -> length(x))), 0)
                    AS chars,
                  CAST(len(list_filter(qtoks, x -> list_contains(
                       ['the','a','and','of','to','is'], lower(x)))) AS INT)
                    AS n_stopwords,
                  CASE WHEN len(qtoks) >= 2
                       THEN list_transform(range(len(qtoks)-1),
                                           i -> qtoks[i+1] || ' ' || qtoks[i+2])
                       ELSE [] END AS g2
           FROM qt),
    gate AS (SELECT doc_id,
                    (n_words >= 10 AND n_words <= 100000
                     AND (CASE WHEN n_words = 0 THEN 0.0
                               ELSE chars * 1.0 / n_words END) >= 2.0
                     AND (CASE WHEN n_words = 0 THEN 0.0
                               ELSE chars * 1.0 / n_words END) <= 12.0
                     AND n_stopwords >= 1
                     AND (CASE WHEN len(g2) = 0 THEN 0.0
                               ELSE (len(g2) - len(list_distinct(g2))) * 1.0
                                    / len(g2) END) <= 0.9
                     AND (CASE WHEN nc = 0 THEN 0.0
                               ELSE np * 1.0 / nc END) <= 0.1) AS keep
             FROM qs),
    j AS (SELECT w.score_micro AS s, gate.keep AS y
          FROM w JOIN gate USING (doc_id)),
    rng AS (SELECT MIN(s) AS lo, MAX(s) AS hi FROM j),
    binned AS (SELECT (s - lo) * 10 // (hi - lo + 1) AS bin, s, y
               FROM j CROSS JOIN rng),
    per_bin AS (SELECT bin, COUNT(*) AS n, SUM(s) AS sum_s,
                       CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
                FROM binned GROUP BY bin),
    tot AS (SELECT SUM(n) AS n_tot, SUM(pos) AS pos_tot FROM per_bin)
    SELECT bin, CAST(n AS BIGINT) AS n,
           CAST(CASE WHEN sum_s >= 0 THEN sum_s // n
                     ELSE -((-sum_s) // n) END AS BIGINT) AS mean_score,
           CAST(CAST(pos AS HUGEINT) * 1000000 // n AS BIGINT) AS pos_rate_e6,
           CAST(CASE WHEN pos_tot > 0
                     THEN CAST(pos AS HUGEINT) * n_tot * 1000000
                          // (CAST(n AS HUGEINT) * pos_tot) END AS BIGINT)
             AS lift_e6
    FROM per_bin CROSS JOIN tot
    """


@register("q_classifier_calibration", oracle=_calibration_oracle())
def q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration/lift table of the hashed-linear quality classifier
    against the rule gate (operators/selection.score_bin_report): does the
    model score ORDER documents by rule-pass rate?  Fixed-width score bins
    (value bins stay distributed; rank deciles would global-sort), exact
    bigint counts, e6 truncating rates and lift."""
    from kafka_flow_spark.operators.quality import quality_flags
    from kafka_flow_spark.operators.selection import (
        classifier_scores,
        hash_model,
        score_bin_report,
    )

    docs = load(spark, sf_dir, "documents")
    model = hash_model(spark, _CLF_TAG, n_buckets=_CLF_B)
    scores = classifier_scores(
        docs, "text", "doc_id", weights=model, n_buckets=_CLF_B
    ).select("doc_id", "score_micro")
    gate = quality_flags(docs, "doc_id", "text").select("doc_id", "keep")
    joined = scores.join(gate, "doc_id")
    return score_bin_report(joined, "score_micro", "keep", n_bins=10)


# --- label-propagation communities (iterative, integer-exact) --------------

_LP_ITERS = 5


def _label_propagation_oracle() -> str:
    """Unrolled DuckDB mirror of operators/graph.label_propagation on the
    undirected customer-supplier co-transaction graph: one CTE per sync
    generation; the argmax is (max count, min label) in pure integers."""
    ctes = [
        """pairs AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
             FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)""",
        """edges AS (SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
             UNION ALL SELECT s * 2 + 1 AS src, c * 2 AS dst FROM pairs)""",
        "l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)",
    ]
    for i in range(1, _LP_ITERS + 1):
        ctes.append(f"""l{i} AS (
          SELECT node, MIN(label) AS label FROM (
            SELECT e.dst AS node, l.label, COUNT(*) AS c,
                   MAX(COUNT(*)) OVER (PARTITION BY e.dst) AS mx
            FROM edges e JOIN l{i - 1} l ON e.src = l.node
            GROUP BY e.dst, l.label) t
          WHERE c = mx GROUP BY node)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, CAST(label AS BIGINT) AS community FROM l{_LP_ITERS}"
    )


@register("q_label_propagation", oracle=_label_propagation_oracle())
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-generation synchronous label propagation over the undirected
    customer-supplier co-transaction graph (operators/graph.
    label_propagation): communities = densely co-transacting groups, finer
    than connected components, no cluster-count parameter.  Deterministic
    (count ties break to the smallest label), pure integer arithmetic."""
    from kafka_flow_spark.operators.graph import label_propagation

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return label_propagation(edges, iterations=_LP_ITERS)


# --- keyed snapshot diff (CDC primitive) -----------------------------------

_TD_T1 = fraction_threshold(0.05)  # keys only in NEW  -> added
_TD_T2 = fraction_threshold(0.10)  # keys only in OLD  -> deleted
_TD_T3 = fraction_threshold(0.20)  # keys with a perturbed price -> changed


def _td_snapshots(spark: SparkSession, sf_dir: str):
    """The content-addressed synthetic snapshot pair shared by q_table_diff
    and q_apply_changes (5% added, 5% deleted, 10% price-perturbed)."""
    from kafka_flow_spark.operators.sampling import hash_bucket

    base = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        hash_bucket(F.col("o_orderkey").cast("string")).alias("_hx"),
    )
    old = base.where(F.col("_hx") >= _TD_T1).drop("_hx")
    new = base.where((F.col("_hx") < _TD_T1) | (F.col("_hx") >= _TD_T2)).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            (F.col("_hx") >= _TD_T2) & (F.col("_hx") < _TD_T3),
            F.col("o_totalprice") + F.lit(1.0),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    return old, new


@register(
    "q_apply_changes",
    oracle=f"""
    WITH h AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
                      substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 6) AS hx
               FROM orders)
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN hx >= '{_TD_T2}' AND hx < '{_TD_T3}'
                THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
    FROM h WHERE hx < '{_TD_T1}' OR hx >= '{_TD_T2}'
    """,
)
def q_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC round trip (operators/incremental.py changeset + apply_changeset):
    diff the two synthetic snapshots into a value-bearing changeset, then
    MERGE it back onto the old snapshot.  The oracle is the NEW snapshot
    computed directly — the query is value-exact only if
    apply(old, changeset(old, new)) reconstructs new bit-for-bit, gating
    both halves of the MERGE-INTO pattern end-to-end."""
    from kafka_flow_spark.operators.incremental import apply_changeset, changeset

    old, new = _td_snapshots(spark, sf_dir)
    ch = changeset(old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"])
    return apply_changeset(old, ch, ["o_orderkey"])


# --- incremental join-view maintenance (delta join) -------------------------

_IJ_CDEL = fraction_threshold(0.03)  # customers deleted
_IJ_CP0 = fraction_threshold(0.10)  # acctbal-perturbed band start
_IJ_CP1 = fraction_threshold(0.20)  # acctbal-perturbed band end


@register(
    "q_incremental_join",
    oracle=f"""
    WITH ho AS (SELECT o_orderkey, o_custkey, o_totalprice,
                       substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 6) AS hx
                FROM orders),
    an AS (SELECT o_orderkey, o_custkey,
                  CASE WHEN hx >= '{_TD_T2}' AND hx < '{_TD_T3}'
                       THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
           FROM ho WHERE hx < '{_TD_T1}' OR hx >= '{_TD_T2}'),
    hc AS (SELECT c_custkey, c_acctbal,
                  substring(md5(CAST(c_custkey AS VARCHAR)), 1, 6) AS hx
           FROM customer),
    bn AS (SELECT c_custkey,
                  CASE WHEN hx >= '{_IJ_CP0}' AND hx < '{_IJ_CP1}'
                       THEN c_acctbal + 1.0 ELSE c_acctbal END AS c_acctbal
           FROM hc WHERE hx >= '{_IJ_CDEL}')
    SELECT an.o_orderkey, an.o_custkey, an.o_totalprice, bn.c_acctbal
    FROM an JOIN bn ON an.o_custkey = bn.c_custkey
    """,
)
def q_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-join-view maintenance (operators/incremental.py
    maintain_join_view): the orders⋈customer view rolled forward from CDC
    changesets on BOTH sides (orders: 5% added / 5% deleted / 10% price-
    perturbed; customer: 3% deleted / 10% acctbal-perturbed) — the oracle
    is the full recompute over the new snapshots, so a green row proves
    maintained == recomputed bit-for-bit while the plan never re-runs the
    full fact⋈dim shuffle join."""
    from kafka_flow_spark.operators.incremental import changeset, maintain_join_view
    from kafka_flow_spark.operators.sampling import hash_bucket

    base = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        hash_bucket(F.col("o_orderkey").cast("string")).alias("_hx"),
    )
    a_old = base.where(F.col("_hx") >= _TD_T1).drop("_hx")
    a_new = base.where((F.col("_hx") < _TD_T1) | (F.col("_hx") >= _TD_T2)).select(
        "o_orderkey",
        "o_custkey",
        F.when(
            (F.col("_hx") >= _TD_T2) & (F.col("_hx") < _TD_T3),
            F.col("o_totalprice") + F.lit(1.0),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        hash_bucket(F.col("c_custkey").cast("string")).alias("_hx"),
    )
    b_old = cust.drop("_hx")
    b_new = cust.where(F.col("_hx") >= _IJ_CDEL).select(
        "c_custkey",
        F.when(
            (F.col("_hx") >= _IJ_CP0) & (F.col("_hx") < _IJ_CP1),
            F.col("c_acctbal") + F.lit(1.0),
        )
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    da = changeset(a_old, a_new, ["o_orderkey"])
    db = changeset(b_old, b_new, ["c_custkey"])
    view_old = a_old.join(b_old, a_old.o_custkey == b_old.c_custkey).drop(
        "c_custkey"
    )
    return maintain_join_view(
        view_old, a_old, da, b_old, db, ["o_orderkey"], "o_custkey", "c_custkey"
    )


@register(
    "q_table_diff",
    oracle=f"""
    WITH h AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
                      substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 6) AS hx
               FROM orders),
    old AS (SELECT * FROM h WHERE hx >= '{_TD_T1}'),
    new AS (SELECT o_orderkey, o_orderstatus,
                   CASE WHEN hx >= '{_TD_T2}' AND hx < '{_TD_T3}'
                        THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
            FROM h WHERE hx < '{_TD_T1}' OR hx >= '{_TD_T2}'),
    j AS (SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                 o.o_orderkey IS NULL AS only_new,
                 n.o_orderkey IS NULL AS only_old,
                 o.o_orderstatus IS DISTINCT FROM n.o_orderstatus AS c_status,
                 o.o_totalprice IS DISTINCT FROM n.o_totalprice AS c_price
          FROM old o FULL JOIN new n ON o.o_orderkey = n.o_orderkey)
    SELECT o_orderkey,
           CASE WHEN only_new THEN 'added'
                WHEN only_old THEN 'deleted'
                ELSE 'changed' END AS status,
           COALESCE(array_to_string(
             CASE WHEN only_new OR only_old THEN []
                  ELSE list_sort(list_filter(
                         [CASE WHEN c_status THEN 'o_orderstatus' END,
                          CASE WHEN c_price THEN 'o_totalprice' END],
                         x -> x IS NOT NULL)) END, ','), '') AS changed_cols
    FROM j
    WHERE only_new OR only_old OR c_status OR c_price
    """,
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC diff between two deterministic snapshots of orders (5% of keys
    added, 5% deleted, 10% price-perturbed, content-addressed by md5 band):
    operators/incremental.table_diff — one full-outer key join, map-side
    NULL-aware column compare; non-'unchanged' rows only."""
    from kafka_flow_spark.operators.incremental import table_diff

    old, new = _td_snapshots(spark, sf_dir)
    d = table_diff(old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"])
    return d.where(F.col("status") != "unchanged").select(
        "o_orderkey",
        "status",
        # scalar-output contract (test_plan_audit.py): flatten the array
        F.array_join("changed_cols", ",").alias("changed_cols"),
    )


# --- triangle counting (graph analytics #3, after CC and PageRank) ----------


@register(
    "q_supplier_triangles",
    oracle="""
    WITH co AS (SELECT DISTINCT a.l_suppkey AS x, b.l_suppkey AS y
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
    nodes AS (SELECT DISTINCT n FROM (SELECT x AS n FROM co UNION ALL SELECT y FROM co)),
    tri AS (SELECT COUNT(*) AS n_triangles
            FROM co e1 JOIN co e2 ON e1.y = e2.x AND e1.x < e2.x
                        JOIN co e3 ON e3.x = e1.x AND e3.y = e2.y)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM co) AS n_edges,
           CAST(tri.n_triangles AS BIGINT) AS n_triangles
    FROM tri
    """,
)
def q_supplier_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the supplier co-transaction graph (edges = supplier
    pairs that ship in the same order) — operators/graph.triangle_count,
    the degree-oriented Suri–Vassilvitskii plan; the oracle is the naive
    a<b<c triple join (exact truth, quadratic — oracle-only)."""
    from kafka_flow_spark.operators.graph import triangle_count

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("sa"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("sb"))
    # no caller-side distinct: triangle_count canonicalizes + distincts the
    # edge set itself, and a second pre-dedup exchange of the raw self-join
    # output is a full extra shuffle at sf10 (review r7)
    co = (
        a.join(b, "o")
        .where(F.col("sa") < F.col("sb"))
        .select(F.col("sa").alias("u"), F.col("sb").alias("v"))
    )
    return triangle_count(co, "u", "v")


@register(
    "q_supplier_triangles_approx",
    oracle=f"""
    WITH co AS (SELECT DISTINCT a.l_suppkey AS x, b.l_suppkey AS y
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
    s AS (SELECT x, y FROM co
          WHERE {_fold6("'tri-v1:' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)")} % 4 < 1),
    nodes AS (SELECT DISTINCT n FROM (SELECT x AS n FROM co UNION ALL SELECT y FROM co)),
    tri AS (SELECT COUNT(*) AS t
            FROM s e1 JOIN s e2 ON e1.y = e2.x AND e1.x < e2.x
                      JOIN s e3 ON e3.x = e1.x AND e3.y = e2.y)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM co) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS sampled_edges,
           CAST(tri.t AS BIGINT) AS sampled_triangles,
           CAST(tri.t * 64 AS BIGINT) AS est_triangles
    FROM tri
    """,
)
def q_supplier_triangles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION edge-sampled triangle estimate on the supplier co-transaction
    graph (operators/graph.triangle_count_approx, Tsourakakis KDD'09) at
    p = 1/4 — the answer PAST the exact counter's wedge gate: sampling cuts
    oriented wedges ~p², so the sf10 co-graph (~1e10 wedges, an exact-count
    refusal) estimates in 116 s at this p (1.2459e10, within 0.35% of the
    independent p=1/10 sample).  Deterministic md5 edge sampling makes the
    whole estimate value-exact against the mirrored DuckDB sample."""
    from kafka_flow_spark.operators.graph import triangle_count_approx

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("sa"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("sb"))
    co = (
        a.join(b, "o")
        .where(F.col("sa") < F.col("sb"))
        .select(F.col("sa").alias("u"), F.col("sb").alias("v"))
    )
    return triangle_count_approx(co, "u", "v", p_num=1, p_den=4, salt="tri-v1")


# --- retractable aggregate maintenance (CDC → agg state) ---------------------


@register(
    "q_incremental_agg_maintain",
    oracle=f"""
    WITH h AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
                      substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 6) AS hx
               FROM orders),
    nw AS (SELECT o_orderstatus,
                  CASE WHEN hx >= '{_TD_T2}' AND hx < '{_TD_T3}'
                       THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
           FROM h WHERE hx < '{_TD_T1}' OR hx >= '{_TD_T2}')
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_v,
           MIN(o_totalprice) AS min_v,
           MAX(o_totalprice) AS max_v
    FROM nw GROUP BY o_orderstatus
    """,
)
def q_incremental_agg_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retractable aggregate maintenance (operators/incremental.agg_maintain):
    the per-status orders aggregate rolled forward under the synthetic CDC
    changeset (5% added / 5% deleted / 10% price-perturbed) — count/sum
    retract exactly in bigints, min/max recompute for TOUCHED groups only.
    The oracle is the direct aggregate over the NEW snapshot, so a green
    row proves maintained == recomputed without the full-table rescan."""
    from kafka_flow_spark.operators.incremental import (
        agg_maintain,
        agg_result,
        agg_state,
        changeset,
    )
    from kafka_flow_spark.operators.sampling import hash_bucket

    base = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        hash_bucket(F.col("o_orderkey").cast("string")).alias("_hx"),
    )
    old = base.where(F.col("_hx") >= _TD_T1).drop("_hx")
    new = base.where((F.col("_hx") < _TD_T1) | (F.col("_hx") >= _TD_T2)).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            (F.col("_hx") >= _TD_T2) & (F.col("_hx") < _TD_T3),
            F.col("o_totalprice") + F.lit(1.0),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    st = agg_state(old, ["o_orderstatus"], "o_totalprice")
    ch = changeset(old, new, ["o_orderkey"])
    return agg_result(
        agg_maintain(st, old, ch, ["o_orderstatus"], ["o_orderkey"], "o_totalprice")
    )


# --- small-file compaction planning (table maintenance) ----------------------


@register(
    "q_compaction_plan",
    oracle="""
    SELECT source, doc_id, n_chars,
           CAST(SUM(n_chars) OVER (
             PARTITION BY source ORDER BY n_chars DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_bytes,
           CAST((SUM(n_chars) OVER (
             PARTITION BY source ORDER BY n_chars DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) // 50000
             AS BIGINT) AS compaction_group
    FROM documents
    """,
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan (layout.compaction_plan): documents play
    file fragments (n_chars = bytes) partitioned by source; sorted-fill
    assigns each to a ~50 KB output group by exact integer cumulative-size
    cuts — the maintenance job that turns a streaming sink's micro-batch
    litter back into reader-sized files."""
    from kafka_flow_spark.layout import compaction_plan

    docs = load(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    return compaction_plan(docs, ["source"], "n_chars", 50_000)


# --- temporal split with embargo (purged time-based eval) --------------------

_TSE_TRAIN_END, _TSE_TEST_START = "2024-01-15 00:00:00", "2024-01-18 00:00:00"


@register(
    "q_temporal_split_embargo",
    oracle=f"""
    WITH s AS (SELECT user_id,
                 CASE WHEN ts < TIMESTAMP '{_TSE_TRAIN_END}' THEN 'train'
                      WHEN ts >= TIMESTAMP '{_TSE_TEST_START}' THEN 'test'
                      ELSE 'embargo' END AS split
               FROM events),
    pe AS (SELECT user_id,
                  MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS tr,
                  MAX(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS te,
                  SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ntr,
                  SUM(CASE WHEN split = 'embargo' THEN 1 ELSE 0 END) AS nem,
                  SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS nte
           FROM s GROUP BY user_id)
    SELECT CAST(SUM(ntr) AS BIGINT) AS n_train,
           CAST(SUM(nem) AS BIGINT) AS n_embargo,
           CAST(SUM(nte) AS BIGINT) AS n_test,
           CAST(SUM(tr) AS BIGINT) AS entities_train,
           CAST(SUM(te) AS BIGINT) AS entities_test,
           CAST(SUM(tr * te) AS BIGINT) AS entities_both
    FROM pe
    """,
)
def q_temporal_split_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage audit of a purged temporal split over the event stream
    (operators/curation.temporal_split_embargo / temporal_leakage_report):
    train before Jan 15, a 3-day embargo, test from Jan 18 — row counts per
    side plus the user-entity overlap across the cut (a time split never
    isolates entities; the report is what a pipeline alerts on when
    entity-level leakage matters).  Pure scan predicate + two
    map-combinable aggregates; ONE output row."""
    from kafka_flow_spark.operators.curation import temporal_leakage_report

    events = load(spark, sf_dir, "events")
    return temporal_leakage_report(
        events, "ts", "user_id", _TSE_TRAIN_END, _TSE_TEST_START
    )


@register(
    "q_packing_report",
    oracle="""
    WITH t AS (
      SELECT doc_id, doc_id % 8 AS shard,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS hb
      FROM documents),
    w AS (
      SELECT doc_id, shard, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY hb, CAST(doc_id AS VARCHAR)
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM t),
    p AS (SELECT shard, n_tokens, cum % 512 AS pack_offset FROM w),
    s AS (SELECT shard,
                 COUNT(*) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                 CAST(SUM(CASE WHEN pack_offset + n_tokens > 512
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_split,
                 CAST(SUM(CASE WHEN n_tokens > 0
                               THEN (pack_offset + n_tokens - 1) // 512
                               ELSE 0 END) AS BIGINT) AS n_boundary_crossings
          FROM p GROUP BY shard)
    SELECT shard, n_docs, n_tokens,
           CAST((n_tokens + 511) // 512 AS BIGINT) AS n_packs,
           n_docs_split, n_boundary_crossings,
           CAST((n_tokens + 511) // 512 * 512 - n_tokens AS BIGINT)
             AS tail_waste_tokens,
           CAST(CAST(n_docs_split AS HUGEINT) * 1000000 // n_docs AS BIGINT)
             AS split_rate_e6,
           CASE WHEN n_tokens > 0
                THEN CAST(CAST((n_tokens + 511) // 512 * 512 - n_tokens
                               AS HUGEINT) * 1000000
                          // ((n_tokens + 511) // 512 * 512) AS BIGINT)
                ELSE 0 END AS waste_rate_e6
    FROM s
    """,
)
def q_packing_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency table over q_pack_sequences' packs (operators/
    curation.packing_report): per shard, how many documents a 512-token
    budget SPLITS across pack boundaries (truncated-context damage) vs the
    tail-pack padding waste — the two quantities a loader trades when
    sizing the context budget.  ONE map-combinable (shard) aggregate over
    the packed relation; output = shard count rows."""
    from kafka_flow_spark.operators.curation import packing_report, pack_sequences

    packed = pack_sequences(
        load(spark, sf_dir, "documents"), "doc_id", "text", budget=512, n_shards=8
    )
    return packing_report(packed, budget=512)
