"""Corpus-engineering queries for training-data pipelines: inverted
index, TF-IDF, benchmark decontamination, length/token distribution
statistics, and domain-mixture reweighting.

These extend the LLM-pipeline surface of plans/llm.py (dedup /
similarity / text analysis) with the retrieval- and curation-side
operators a pre-training data pipeline needs.  Same conventions:
DuckDB oracles share constants with the Spark plan, floats are rounded
identically on BOTH sides before any ranking or threshold, and every
document pipeline goes through ``dedup.fan_out`` so a single parquet
file still parallelizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from encodesrv_spark.catalog import load_table
from encodesrv_spark.functions import hashing as H
from encodesrv_spark.functions import text as T
from encodesrv_spark.functions.text import TOKS_NE_SQL, tokens_ne
from encodesrv_spark.operators import dedup, similarity
from encodesrv_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Inverted index
# ---------------------------------------------------------------------------

@register(
    "inverted_index",
    oracle=f"""
        SELECT tok, count(*)::BIGINT AS df,
               array_to_string(list_sort(list(doc_id)), ',') AS postings
        FROM (
            SELECT doc_id, unnest(list_distinct({TOKS_NE_SQL})) AS tok
            FROM documents
        )
        GROUP BY tok
    """,
    tags=("llm", "retrieval"),
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token -> sorted posting list + document frequency.  Tokens are
    distinct per doc, so df is a plain count after the explode; the
    shuffle carries (token, doc_id) pairs and the posting list is built
    by one collect_list per token.  At 100 TB the hot keys are
    stopwords — posting lists for those are exactly the rows a real
    deployment would cap or tier, and the groupBy is partial-aggregated
    map-side so the skew lands only on the final collect."""
    d = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", F.explode_outer(F.array_distinct(tokens_ne())).alias("tok")
    ).filter(F.col("tok").isNotNull())
    return toks.groupBy("tok").agg(
        F.count("*").alias("df"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )


# ---------------------------------------------------------------------------
# TF-IDF
# ---------------------------------------------------------------------------

@register(
    "tfidf_topk",
    oracle=f"""
        WITH tf AS (
            SELECT doc_id, tok, count(*)::BIGINT AS cnt
            FROM (SELECT doc_id, unnest({TOKS_NE_SQL}) AS tok FROM documents)
            GROUP BY 1, 2
        ),
        stats AS (
            SELECT doc_id, tok, cnt,
                   sum(cnt) OVER (PARTITION BY doc_id) AS doc_len,
                   count(*) OVER (PARTITION BY tok) AS df
            FROM tf
        ),
        n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT doc_id, tok, score, rnk FROM (
            SELECT doc_id, tok,
                   round((cnt * 1.0 / doc_len) * ln(n_docs * 1.0 / df), 4)
                       AS score,
                   row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY round((cnt * 1.0 / doc_len)
                                      * ln(n_docs * 1.0 / df), 4) DESC,
                                tok
                   )::BIGINT AS rnk
            FROM stats, n
        ) WHERE rnk <= 3
    """,
    tags=("llm", "retrieval", "topk"),
)
def tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document.  tf aggregates once on
    (doc_id, token); df is a vocabulary-sized aggregate joined back
    (vocabulary << corpus, so the join side is small even at 100 TB);
    doc_len and the final rank ride one doc_id partitioning.  Scores
    are rounded BEFORE ranking on both sides so cross-engine ulp
    differences in ln() cannot reorder, and rank ties break on the
    token string."""
    d = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    tf = (
        d.select("doc_id", F.explode_outer(tokens_ne()).alias("tok"))
        .filter(F.col("tok").isNotNull())
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    df_tbl = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    score = F.round(
        (F.col("cnt") * 1.0 / F.col("doc_len"))
        * F.log(F.col("n_docs") * 1.0 / F.col("df")),
        4,
    )
    ranked = (
        tf.withColumn("doc_len", F.sum("cnt").over(W.partitionBy("doc_id")))
        .join(df_tbl, "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", score)
        .withColumn(
            "rnk",
            F.row_number()
            .over(W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok")))
            .cast("long"),
        )
    )
    return ranked.filter(F.col("rnk") <= 3).select("doc_id", "tok", "score", "rnk")


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

_DOC_SHINGLES5 = """
    SELECT doc_id, source, unnest(list_distinct(list_transform(
        generate_series(1, greatest(len(string_split_regex(text, '\\s+')) - 4, 0)),
        i -> array_to_string(list_slice(string_split_regex(text, '\\s+'), i, i + 4), ' ')
    ))) AS s
    FROM documents
"""


@register(
    "decontaminate_overlap",
    oracle=f"""
        WITH sh AS MATERIALIZED ({_DOC_SHINGLES5}),
        bench AS (SELECT doc_id AS bench_doc, s FROM sh WHERE source = 'src0'),
        train AS (SELECT doc_id, s FROM sh WHERE source <> 'src0')
        SELECT t.doc_id,
               count(DISTINCT t.s)::BIGINT AS n_hit_ngrams,
               count(DISTINCT b.bench_doc)::BIGINT AS n_bench_docs
        FROM train t JOIN bench b ON t.s = b.s
        GROUP BY t.doc_id
    """,
    tags=("llm", "dedup"),
)
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any 5-gram with
    the held-out set (source='src0' stands in for the benchmark), with
    how many distinct 5-grams and how many benchmark docs they hit.
    In production the benchmark suite is fixed-size, so AQE broadcasts
    it unaided — no hint is forced, because in THIS synthetic layout
    src0 scales with SF and a mandatory broadcast would OOM at 100 TB.
    Shingles are xxhash64'd before the join (fixed-width keys); the
    oracle joins the strings — outputs agree because both count
    distinct co-occurrences.

    Each side filters on `source` BEFORE shingling, so the source
    predicate pushes into the scan and each document's text is
    shingled exactly once (train and bench partition the corpus).  The
    earlier shape shingled the WHOLE corpus once per side and dropped
    the other side's rows afterwards via a doc_id semi-join — 2× the
    Generate work, 2× the raw-text fan-out exchange, plus two
    corpus-scale broadcast joins, all for rows that were about to be
    discarded."""
    d = load_table(spark, sf_dir, "documents")
    bench = dedup.shingle_index(d.filter(F.col("source") == "src0"), 5).select(
        F.col("doc_id").alias("bench_doc"), F.xxhash64("sh").alias("h")
    )
    train = dedup.shingle_index(d.filter(F.col("source") != "src0"), 5).select(
        "doc_id", F.xxhash64("sh").alias("h")
    )
    return (
        train.join(bench, "h")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("h").alias("n_hit_ngrams"),
            F.countDistinct("bench_doc").alias("n_bench_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Distribution statistics
# ---------------------------------------------------------------------------

@register(
    "token_quantiles",
    oracle=f"""
        SELECT lang,
               count(*)::BIGINT AS n_docs,
               round(quantile_cont(n_toks, 0.25), 4) AS p25,
               round(quantile_cont(n_toks, 0.50), 4) AS p50,
               round(quantile_cont(n_toks, 0.75), 4) AS p75,
               round(quantile_cont(n_toks, 0.95), 4) AS p95
        FROM (SELECT lang, len({TOKS_NE_SQL})::BIGINT AS n_toks FROM documents)
        GROUP BY lang
    """,
    tags=("llm", "stats"),
)
def token_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language token-count quantiles (continuous
    interpolation — Spark `percentile` and DuckDB `quantile_cont`
    share the definition).  Exact percentiles need the group's values
    together: fine here because the cardinality that matters is docs
    per LANGUAGE GROUP, and the state is one sorted array of longs per
    group.  At 100 TB you'd swap percentile -> percentile_approx
    (t-digest, mergeable partial aggs) — the approx twin of this query
    already exists as `approx_stats`."""
    d = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    toks = d.select("lang", F.size(tokens_ne()).cast("long").alias("n_toks"))
    pct = F.percentile("n_toks", F.array(*[F.lit(p) for p in (0.25, 0.5, 0.75, 0.95)]))
    return toks.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(pct[0], 4).alias("p25"),
        F.round(pct[1], 4).alias("p50"),
        F.round(pct[2], 4).alias("p75"),
        F.round(pct[3], 4).alias("p95"),
    )


@register(
    "length_histogram",
    oracle="""
        WITH h AS (
            SELECT (n_chars // 100 * 100)::BIGINT AS bucket,
                   count(*)::BIGINT AS n_docs
            FROM documents GROUP BY 1
        ),
        t AS (SELECT sum(n_docs) AS total FROM h)
        SELECT bucket, n_docs,
               round(sum(n_docs) OVER (ORDER BY bucket) * 1.0 / total, 6)
                   AS cum_share
        FROM h, t
    """,
    tags=("llm", "stats"),
)
def length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram (100-char buckets) with cumulative
    share — the curve a curation pass reads before picking length
    cutoffs.  The heavy aggregate collapses the corpus to ~hundreds of
    bucket rows FIRST; the unpartitioned cumulative window runs on
    those rows only, so the single-partition sort that would be a
    bottleneck on raw data is free here."""
    d = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    h = (
        d.select((F.expr("n_chars div 100") * 100).cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
    )
    total = h.agg(F.sum("n_docs").alias("total"))
    return (
        h.crossJoin(F.broadcast(total))
        .withColumn(
            "cum_share",
            F.round(
                F.sum("n_docs").over(W.orderBy("bucket")) * 1.0 / F.col("total"), 6
            ),
        )
        .select("bucket", "n_docs", "cum_share")
    )


# ---------------------------------------------------------------------------
# Domain mixture
# ---------------------------------------------------------------------------

@register(
    "domain_mix_weights",
    oracle=f"""
        WITH per AS (
            SELECT source, count(*)::BIGINT AS n_docs,
                   sum(n_toks)::BIGINT AS total_tokens
            FROM (SELECT source, len({TOKS_NE_SQL})::BIGINT AS n_toks
                  FROM documents)
            GROUP BY source
        ),
        tot AS (SELECT sum(total_tokens) AS all_toks,
                       count(*) AS n_src FROM per)
        SELECT source, n_docs, total_tokens,
               round(total_tokens * 1.0 / all_toks, 6) AS token_share,
               round((1.0 / n_src) / (total_tokens * 1.0 / all_toks), 6)
                   AS sample_weight
        FROM per, tot
    """,
    tags=("llm", "sampling"),
)
def domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing: per-source token share and the
    sampling weight that flattens the mix to uniform (weight =
    target_share / actual_share; a non-uniform target is a broadcast
    dimension swap).  One corpus-wide aggregate keyed on source, then
    a 1-row broadcast of the totals — the reweighting math never
    touches corpus-scale data."""
    d = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    per = (
        d.select("source", F.size(tokens_ne()).cast("long").alias("n_toks"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_toks").alias("total_tokens"))
    )
    tot = per.agg(
        F.sum("total_tokens").alias("all_toks"), F.count("*").alias("n_src")
    )
    share = F.col("total_tokens") * 1.0 / F.col("all_toks")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "total_tokens",
            F.round(share, 6).alias("token_share"),
            F.round((1.0 / F.col("n_src")) / share, 6).alias("sample_weight"),
        )
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------

_BM25_TERMS = ("hash", "join", "dup")
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "bm25_search",
    oracle=f"""
        WITH tf AS (
            SELECT doc_id, tok, count(*)::BIGINT AS cnt
            FROM (SELECT doc_id, unnest({TOKS_NE_SQL}) AS tok FROM documents)
            GROUP BY 1, 2
        ),
        dl AS (SELECT doc_id, sum(cnt) AS dl FROM tf GROUP BY 1),
        stats AS (SELECT count(*) AS n_docs, avg(dl * 1.0) AS avgdl FROM dl),
        df AS (
            SELECT tok, count(*)::BIGINT AS df FROM tf
            WHERE tok IN {_BM25_TERMS!r}
            GROUP BY tok
        ),
        scored AS (
            SELECT tf.doc_id,
                   sum(
                       ln((n_docs - df + 0.5) / (df + 0.5) + 1)
                       * (cnt * ({_BM25_K1} + 1.0))
                       / (cnt + {_BM25_K1}
                          * (1 - {_BM25_B} + {_BM25_B} * dl.dl / avgdl))
                   ) AS raw
            FROM tf
            JOIN df ON tf.tok = df.tok
            JOIN dl ON tf.doc_id = dl.doc_id
            CROSS JOIN stats
            GROUP BY tf.doc_id
        )
        SELECT doc_id, round(raw, 4) AS score,
               row_number() OVER (ORDER BY round(raw, 4) DESC, doc_id)::BIGINT
                   AS rnk
        FROM scored
        QUALIFY rnk <= 20
    """,
    tags=("llm", "retrieval", "topk"),
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for the fixed query {hash, join, dup}
    (k1=1.2, b=0.75; idf = ln((N-df+.5)/(df+.5)+1), Lucene form).  The
    per-term df table is vocabulary-sized and BROADCAST; term
    frequencies aggregate once on (doc_id, token) and doc length rides
    the same doc_id partitioning, so the only corpus-scale shuffle is
    the tf aggregate.  Scores round before the global top-20
    (TakeOrderedAndProject — per-partition heaps, no full sort), ties
    break on doc_id."""
    d = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    tf = (
        d.select("doc_id", F.explode_outer(tokens_ne()).alias("tok"))
        .filter(F.col("tok").isNotNull())
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
        # tf feeds doc-lengths, corpus stats, df AND the scorer —
        # materialize the tokenized aggregate once (the jaccard-index
        # checkpoint rationale; plan audit showed 4 corpus scans)
        .localCheckpoint(eager=True)
    )
    dl = tf.groupBy("doc_id").agg(F.sum("cnt").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg(F.col("dl") * 1.0).alias("avgdl")
    )
    df_tbl = (
        tf.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    k1, b = _BM25_K1, _BM25_B
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    term_score = (
        idf
        * (F.col("cnt") * (k1 + 1.0))
        / (F.col("cnt") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(df_tbl), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(term_score).alias("raw"))
        .select("doc_id", F.round("raw", 4).alias("score"))
    )
    # limit(20) first: TakeOrderedAndProject keeps the top-k selection a
    # per-partition heap + driver merge; the row_number window then runs
    # over just 20 rows instead of shuffling every scored doc to one task.
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(20)
    return top.withColumn(
        "rnk",
        F.row_number().over(W.orderBy(F.desc("score"), F.asc("doc_id"))).cast("long"),
    )


# ---------------------------------------------------------------------------
# Intra-document repetition (Gopher-style quality signals)
# ---------------------------------------------------------------------------

@register(
    "doc_repetition_stats",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {TOKS_NE_SQL} AS t FROM documents
        ),
        tf AS (
            SELECT doc_id, tok, count(*)::BIGINT AS cnt
            FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
            GROUP BY 1, 2
        ),
        uni AS (
            SELECT doc_id, sum(cnt) AS n_tokens, count(*) AS n_distinct,
                   max(cnt) AS top_cnt
            FROM tf GROUP BY 1
        ),
        pos AS (
            SELECT doc_id, unnest(t) AS tok,
                   generate_subscripts(t, 1) AS pos
            FROM toks
        ),
        bg AS (
            SELECT doc_id,
                   tok || ' ' || lead(tok) OVER (
                       PARTITION BY doc_id ORDER BY pos) AS bigram
            FROM pos
            QUALIFY bigram IS NOT NULL
        ),
        bgf AS (
            SELECT doc_id, max(cnt) AS top_bg_cnt FROM (
                SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY 1, 2
            ) GROUP BY 1
        )
        SELECT uni.doc_id, uni.n_tokens::BIGINT AS n_tokens,
               round(uni.n_distinct * 1.0 / uni.n_tokens, 4) AS distinct_ratio,
               round(uni.top_cnt * 1.0 / uni.n_tokens, 4) AS top_tok_share,
               round(coalesce(bgf.top_bg_cnt, 0) * 2.0 / uni.n_tokens, 4)
                   AS top_bigram_share
        FROM uni LEFT JOIN bgf ON uni.doc_id = bgf.doc_id
    """,
    tags=("llm", "text", "quality"),
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition signals: token count,
    distinct-token ratio, share of the most frequent token, and share of
    tokens covered by the most frequent bigram (2 * count / n_tokens).
    One explode feeds a (doc_id, token) partial-aggregated count from
    which n/distinct/top all fall out of a single doc_id aggregation;
    bigrams are built array-side (no window, no per-doc sort shuffle)
    and follow the same two-level aggregation.  Every shuffle key is
    doc_id-prefixed, so skew is bounded by document length, not corpus
    frequency.

    The token-array frame is MATERIALIZED (eager localCheckpoint, the
    `_sq8_coded_frame` precedent) because two consumers read it and
    tokenization dominates: left lazy, each branch re-splits every
    document, AND explode's implicit `size(t) > 0 && isnotnull(t)`
    filter gets pushed below the projection with the whole split/
    filter/transform chain SUBSTITUTED into both conjuncts — ~6
    tokenization passes per document per run (r09 profile: 3.4–6.7 s
    at sf0.1 lazy vs 0.8–1.6 s materialized, checkpoint included).  At
    100 TB the checkpoint is one corpus-sized write that replaces five
    corpus-sized recomputes.  Generalizes EncodeSrv's scalar text
    functions (reference encodesrv/job.py:204-205 regex analysis) to
    corpus QA."""
    d = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", tokens_ne().alias("t")).localCheckpoint(
        eager=True
    )
    tf = (
        toks.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    uni = tf.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("cnt").alias("top_cnt"),
    )
    bigrams = toks.select(
        "doc_id",
        F.expr(
            "transform(slice(t, 1, greatest(size(t) - 1, 0)),"
            " (x, i) -> concat(x, ' ', t[i + 1]))"
        ).alias("bg"),
    )
    bgf = (
        bigrams.select("doc_id", F.explode("bg").alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top_bg_cnt"))
    )
    return (
        uni.join(bgf, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(F.col("n_distinct") / F.col("n_tokens"), 4).alias("distinct_ratio"),
            F.round(F.col("top_cnt") / F.col("n_tokens"), 4).alias("top_tok_share"),
            F.round(
                F.coalesce(F.col("top_bg_cnt"), F.lit(0)) * 2.0 / F.col("n_tokens"), 4
            ).alias("top_bigram_share"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental dedup against an existing fingerprint store
# ---------------------------------------------------------------------------

@register(
    "incremental_dedup",
    oracle="""
        WITH store AS (
            SELECT DISTINCT md5(text) AS text_hash
            FROM documents WHERE source = 'src0'
        ),
        incoming AS (
            SELECT doc_id, md5(text) AS text_hash
            FROM documents WHERE source <> 'src0'
        ),
        fresh AS (
            SELECT i.doc_id, i.text_hash
            FROM incoming i ANTI JOIN store s USING (text_hash)
        )
        SELECT text_hash, min(doc_id)::BIGINT AS keeper_doc_id,
               count(*)::BIGINT AS n_new_copies
        FROM fresh GROUP BY 1
    """,
    tags=("llm", "dedup"),
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: an incoming batch (source <> 'src0') is
    checked against the fingerprint store of the already-ingested corpus
    (source = 'src0') with a LEFT ANTI join on the 128-bit content hash,
    then deduplicated within itself (min doc_id keeps).  This is the
    steady-state shape of a 100 TB pipeline — the store holds 16-byte
    hashes only (never text), the anti join and the group-by share the
    same hash key so one Exchange serves both, and the incoming side is
    typically orders of magnitude smaller than the store, which AQE can
    flip to a broadcast when the BATCH side is the small one."""
    d = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    store = (
        d.filter(F.col("source") == "src0")
        .select(F.md5("text").alias("text_hash"))
        .distinct()
    )
    incoming = d.filter(F.col("source") != "src0").select(
        "doc_id", F.md5("text").alias("text_hash")
    )
    return (
        incoming.join(store, "text_hash", "left_anti")
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_new_copies"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding cluster cohesion (per-label centroid + cosine dispersion)
# ---------------------------------------------------------------------------

@register(
    "label_centroid_cohesion",
    oracle="""
        WITH e AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
        ),
        dim AS (
            SELECT label, pos, round(avg(d), 6) AS c FROM (
                SELECT label, unnest(emb) AS d,
                       generate_subscripts(emb, 1) AS pos
                FROM e
            ) GROUP BY 1, 2
        ),
        cent AS (
            SELECT label, list(c ORDER BY pos) AS cemb FROM dim GROUP BY 1
        ),
        scored AS (
            SELECT e.label, e.vec_id,
                   round(list_inner_product(e.emb, c.cemb) /
                         sqrt(list_inner_product(e.emb, e.emb)
                              * list_inner_product(c.cemb, c.cemb)), 4) AS cos
            FROM e JOIN cent c ON e.label = c.label
        )
        SELECT label, count(*)::BIGINT AS n_vecs,
               round(avg(cos), 3) AS avg_cohesion,
               round(min(cos), 4) AS min_cohesion
        FROM scored GROUP BY 1
    """,
    tags=("llm", "similarity"),
)
def label_centroid_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality diagnostic: per-label centroid (dimension-wise
    mean, rounded to 6 so both engines fold identical values) and the
    cosine of every member to its centroid, reduced to per-label count /
    mean / min.  The centroid pass posexplodes to (label, pos) rows —
    partially aggregated map-side, so the shuffle carries one partial
    sum per (label, pos, partition), not N*D rows — and the tiny
    centroid table (labels x dims) broadcasts back onto the members;
    the only corpus-scale shuffle is the final per-label aggregate."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
        )
        .repartition(spark.sparkContext.defaultParallelism, F.col("vec_id"))
    )
    # determinism adjudication: centroid components average CONTINUOUS
    # float32-derived doubles (no exact fixed-point form exists); the
    # per-(label,pos) sums are O(n_label) unit-magnitude terms, drift
    # ≲1e-14 against a 5e-7 rounding quantum, and the 6-dp round feeds
    # every downstream comparison — accepted, like the kmeans ladder
    cent = (
        e.select("label", F.posexplode("emb").alias("pos", "d"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("d"), 6).alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("cemb")
        )
    )
    scored = e.join(F.broadcast(cent), "label").select(
        "label",
        F.round(
            similarity.dot(F.col("emb"), F.col("cemb"))
            / F.sqrt(
                similarity.sq_norm(F.col("emb")) * similarity.sq_norm(F.col("cemb"))
            ),
            4,
        ).alias("cos"),
    )
    return scored.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("cos"), 3).alias("avg_cohesion"),
        F.round(F.min("cos"), 4).alias("min_cohesion"),
    )


# ---------------------------------------------------------------------------
# Unigram language-model scoring (perplexity-proxy quality filter)
# ---------------------------------------------------------------------------

@register(
    "unigram_lm_score",
    oracle=f"""
        WITH tf AS (
            SELECT doc_id, tok, count(*)::BIGINT AS cnt
            FROM (SELECT doc_id, unnest({TOKS_NE_SQL}) AS tok FROM documents)
            GROUP BY 1, 2
        ),
        gterm AS (SELECT tok, sum(cnt) AS gcnt FROM tf GROUP BY 1),
        tot AS (SELECT sum(gcnt) AS total FROM gterm)
        SELECT doc_id,
               sum(cnt)::BIGINT AS n_tokens,
               round(sum(cnt * -log2(gcnt * 1.0 / total)) / sum(cnt), 3)
                   AS bits_per_token
        FROM tf JOIN gterm USING (tok) CROSS JOIN tot
        GROUP BY 1
    """,
    tags=("llm", "text", "quality"),
)
def unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy (bits/token) under the corpus unigram
    LM — the cheap stand-in for perplexity-based quality filtering: low
    bits = repetitive/common text, high bits = rare-token soup, and the
    filter is a percentile band on this column.  The global term table
    is vocabulary-sized (aggregated map-side from the same tf frame the
    per-doc pass uses) and re-joined on tok; vocab grows sub-linearly
    but unboundedly (web-scale junk tokens), so the join carries no
    broadcast hint — AQE broadcasts it while it fits and falls back to
    a hash join keyed on tok when it doesn't.  The corpus-scale shuffle
    is the one (doc_id, tok) aggregate."""
    d = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    tf = (
        d.select("doc_id", F.explode_outer(tokens_ne()).alias("tok"))
        .filter(F.col("tok").isNotNull())
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
        # tf feeds the vocab aggregate AND the per-doc scorer: one
        # tokenization pass, not two (bm25's checkpoint rationale)
        .localCheckpoint(eager=True)
    )
    glob = tf.groupBy("tok").agg(F.sum("cnt").alias("gcnt"))
    tot = glob.agg(F.sum("gcnt").alias("total"))
    return (
        tf.join(glob, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            # determinism adjudication: log2 surprisals are continuous
            # (no exact form); per-doc sums are ≤ vocab-of-doc terms
            # with drift ≲1e-13 against the 5e-4 quantum of the 3-dp
            # round — accepted
            F.round(
                F.sum(F.col("cnt") * -F.log2(F.col("gcnt") / F.col("total")))
                / F.sum("cnt"),
                3,
            ).alias("bits_per_token"),
        )
    )


# ---------------------------------------------------------------------------
# N-gram novelty (share of first-seen shingles per document)
#
# The shingle frame below is NOT checkpointed, deliberately (r10
# interleaved A/B, 5 pairs: a materialized sh lost-or-tied vs
# recompute, pairwise median +0.04 s): the first-seen build side and
# the join probe side execute CONCURRENTLY inside one job, so the
# duplicated shingle pipeline costs ~no wall — the same measurement
# that reverted the source_overlap_matrix checkpoint.
# (repeated_ngram_audit differs: its census is consumed through a
# second serial aggregate, where sharing did win.)  Comment lives
# OUTSIDE the function so the registered form hash is untouched.
# ---------------------------------------------------------------------------

@register(
    "ngram_novelty",
    oracle="""
        WITH sh AS MATERIALIZED (
            SELECT doc_id, (('0x' || substr(md5(s), 1, 15))::BIGINT) AS h
            FROM (
                SELECT doc_id, unnest(list_distinct(list_transform(
                    generate_series(1, greatest(
                        len(string_split_regex(text, '\\s+')) - 2, 0)),
                    i -> array_to_string(list_slice(
                        string_split_regex(text, '\\s+'), i, i + 2), ' ')
                ))) AS s
                FROM documents
            )
        ),
        first AS (SELECT h, min(doc_id) AS first_doc FROM sh GROUP BY 1)
        SELECT doc_id, count(*)::BIGINT AS n_shingles,
               round(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                     * 1.0 / count(*), 4) AS novelty
        FROM sh JOIN first USING (h)
        GROUP BY 1
    """,
    tags=("llm", "dedup", "quality"),
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of its distinct 3-word
    shingles whose FIRST occurrence (min doc_id, the ingest-order proxy)
    is this document — the scoring view of near-dedup, where ~0 novelty
    means the document is assembled from already-seen text.  Shingles
    travel as 60-bit hashes (8-byte shuffle keys, never strings); the
    first-seen table reuses the same hash partitioning for its join
    back, so the plan is two aggregates and one co-partitioned join."""
    d = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    sh = d.select(
        "doc_id",
        F.explode(F.array_distinct(T.word_shingles("text", 3))).alias("s"),
    ).select("doc_id", H.stable_hash64(F.col("s")).alias("h"))
    first = sh.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.round(
                F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
                / F.count("*"),
                4,
            ).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# Fuzzy string-similarity join (blocked levenshtein)
# ---------------------------------------------------------------------------

_FUZZ_MAX = 60


@register(
    "fuzzy_pairs_levenshtein",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, text, lang, n_chars // 16 AS blk FROM documents
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               levenshtein(a.text, b.text)::BIGINT AS edit_dist
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE levenshtein(a.text, b.text) <= {_FUZZ_MAX}
    """,
    tags=("llm", "dedup", "fuzzy"),
)
def fuzzy_pairs_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs with blocking: candidates must share
    (lang, length-bucket) — the equi-join key that keeps the O(n*m)
    levenshtein OFF the cross product and inside small buckets.  The
    join shuffles both sides on the block key (same-sized sides — no
    broadcast), and the quadratic work is bounded per bucket, which is
    the knob you tune at 100 TB (narrower buckets = fewer candidates).
    Distance is integer, so cross-engine parity is exact.

    The distance runs in THRESHOLD form — levenshtein(ta, tb, 60) — so
    Spark's banded DP (O(len·k) work instead of the full O(len²) matrix
    per candidate pair, with early exit once the whole band exceeds k)
    does the pruning; the call returns the exact distance when ≤ k and
    -1 otherwise, so `dist >= 0` keeps exactly the rows `dist <= 60`
    kept before, with identical values (oracle unchanged).  Catalyst
    pushes the filter into the join condition and also re-evaluates the
    expression in the output projection (the guide §4.4 duplicate-eval
    shape) — cheap in threshold form: the condition eval is the banded
    early-exit pass over all candidates, and the projection re-eval
    touches only surviving (near-duplicate) pairs."""
    d = dedup.fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text", "lang", F.expr("n_chars DIV 16").alias("blk")
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"), "lang", "blk"
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"), "lang", "blk"
    )
    return (
        a.join(b, ["lang", "blk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("edit_dist", F.levenshtein("ta", "tb", _FUZZ_MAX).cast("long"))
        .filter(F.col("edit_dist") >= 0)
        .select("doc_a", "doc_b", "edit_dist")
    )


# ---------------------------------------------------------------------------
# Export shard manifest + quality decile bands
# ---------------------------------------------------------------------------

_N_SHARDS = 16


@register(
    "shard_manifest",
    oracle=f"""
        SELECT (('0x' || substr(md5(concat('shard:', doc_id::VARCHAR)), 1, 15))::BIGINT)
                   % {_N_SHARDS} AS shard,
               count(*)::BIGINT AS n_docs,
               sum(len(list_filter(string_split_regex(text, '\\s+'),
                                   t -> t <> '')))::BIGINT AS n_tokens,
               sum(n_chars)::BIGINT AS n_bytes,
               min(doc_id)::BIGINT AS min_doc_id,
               max(doc_id)::BIGINT AS max_doc_id
        FROM documents GROUP BY 1
    """,
    tags=("llm", "sampling", "layout"),
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export-shard assignment + manifest: documents hash-bucket into
    16 shards by content-stable doc_id hash (the write
    partitioning for a corpus export — reproducible across engines,
    runs, and cluster sizes), with per-shard doc/token/byte totals.
    This is the manifest a downstream trainer reads to plan its data
    loader; the aggregation is one partial-agg shuffle on the shard
    key, and the same expression is the `repartition` column at write
    time, so manifest and layout can never disagree."""
    d = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    shard = (
        H.stable_hash64(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
        % _N_SHARDS
    )
    return (
        d.withColumn("shard", shard)
        .withColumn("n_toks", F.size(tokens_ne()))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.sum("n_chars").cast("long").alias("n_bytes"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


@register(
    "quality_decile_bands",
    oracle=f"""
        WITH tf AS (
            SELECT doc_id, tok, count(*)::BIGINT AS cnt
            FROM (SELECT doc_id, unnest({TOKS_NE_SQL}) AS tok FROM documents)
            GROUP BY 1, 2
        ),
        gterm AS (SELECT tok, sum(cnt) AS gcnt FROM tf GROUP BY 1),
        tot AS (SELECT sum(gcnt) AS total FROM gterm),
        scored AS (
            SELECT doc_id,
                   round(sum(cnt * -log2(gcnt * 1.0 / total)) / sum(cnt), 3)
                       AS bits
            FROM tf JOIN gterm USING (tok) CROSS JOIN tot GROUP BY 1
        ),
        banded AS (
            SELECT doc_id, bits,
                   ntile(10) OVER (ORDER BY bits, doc_id) AS decile
            FROM scored
        )
        SELECT decile::BIGINT AS decile, count(*)::BIGINT AS n_docs,
               min(bits) AS lo_bits, max(bits) AS hi_bits
        FROM banded GROUP BY 1
    """,
    tags=("llm", "quality", "sampling"),
)
def quality_decile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile bands over the unigram-LM quality score — the band edges
    a percentile-based quality filter actually uses ('drop the top and
    bottom decile', the perplexity-filter recipe).  Scores round to 3
    BEFORE the ntile and ties break on doc_id, so band assignment is
    cross-engine deterministic.  The global ntile is the one
    scale-caveat (single-partition window over doc-cardinality rows);
    at 100 TB you'd swap it for approx quantile edges — shown exactly
    by token_quantiles — and keep these bands as the exact verifier."""
    from encodesrv_spark.plans.registry import all_queries

    scored = all_queries()["unigram_lm_score"].fn(spark, sf_dir).select(
        "doc_id", F.col("bits_per_token").alias("bits")
    )
    banded = scored.withColumn(
        "decile", F.ntile(10).over(W.orderBy("bits", "doc_id")).cast("long")
    )
    return banded.groupBy("decile").agg(
        F.count("*").alias("n_docs"),
        F.min("bits").alias("lo_bits"),
        F.max("bits").alias("hi_bits"),
    )


# ---------------------------------------------------------------------------
# Ingest-batch quality drift
# ---------------------------------------------------------------------------

@register(
    "quality_drift_by_source",
    oracle=f"""
        WITH tf AS (
            SELECT doc_id, tok, count(*)::BIGINT AS cnt
            FROM (SELECT doc_id, unnest({TOKS_NE_SQL}) AS tok FROM documents)
            GROUP BY 1, 2
        ),
        gterm AS (SELECT tok, sum(cnt) AS gcnt FROM tf GROUP BY 1),
        tot AS (SELECT sum(gcnt) AS total FROM gterm),
        scored AS (
            SELECT doc_id,
                   round(sum(cnt * -log2(gcnt * 1.0 / total)) / sum(cnt), 3)
                       AS bits
            FROM tf JOIN gterm USING (tok) CROSS JOIN tot GROUP BY 1
        ),
        b AS (
            SELECT d.source, d.doc_id // 100 AS batch, s.bits
            FROM documents d JOIN scored s USING (doc_id)
        ),
        agg AS (
            SELECT source, batch::BIGINT AS batch,
                   count(*)::BIGINT AS n_docs,
                   round(avg(bits), 3) AS avg_bits
            FROM b GROUP BY 1, 2
        )
        SELECT source, batch, n_docs, avg_bits,
               round(avg_bits - lag(avg_bits) OVER (
                   PARTITION BY source ORDER BY batch), 3) AS delta_bits
        FROM agg
    """,
    tags=("llm", "quality", "monitoring"),
)
def quality_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-drift monitor: mean unigram-LM quality per (source,
    ingest-batch) with the batch-over-batch delta — the alarm a corpus
    pipeline watches for 'source X suddenly got noisier' (doc_id//100
    stands in for the ingest-batch id the loader would stamp).  The
    corpus-scale work is the shared tf aggregate; the drift frame is
    (sources x batches)-sized, so the lag window runs on dimension-
    scale data.  Averages round to 3 before the lag so the delta is
    computed on identical values in both engines."""
    from encodesrv_spark.plans.registry import all_queries

    scored = all_queries()["unigram_lm_score"].fn(spark, sf_dir).select(
        "doc_id", F.col("bits_per_token").alias("bits")
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr("doc_id DIV 100").alias("batch")
    )
    agg = (
        d.join(scored, "doc_id")
        .groupBy("source", F.col("batch").cast("long").alias("batch"))
        # determinism adjudication: bits is a continuous log-prob (no
        # exact form); ~100-term batch sums drift ≲1e-13 against the
        # 5e-4 quantum of the 3-dp round — accepted
        .agg(F.count("*").alias("n_docs"), F.round(F.avg("bits"), 3).alias("avg_bits"))
    )
    w = W.partitionBy("source").orderBy("batch")
    return agg.withColumn(
        "delta_bits", F.round(F.col("avg_bits") - F.lag("avg_bits").over(w), 3)
    )


# ---------------------------------------------------------------------------
# Mixture diagnostics: per-source language entropy / KL divergence
# ---------------------------------------------------------------------------

@register(
    "source_lang_entropy",
    oracle="""
        WITH c AS (
            SELECT source, lang, count(*)::DOUBLE AS n
            FROM documents GROUP BY 1, 2
        ),
        s AS (SELECT source, sum(n) AS sn FROM c GROUP BY 1),
        l AS (SELECT lang, sum(n) AS lt FROM c GROUP BY 1),
        t AS (SELECT sum(n) AS tn FROM c)
        SELECT c.source,
               s.sn::BIGINT AS n_docs,
               round(-sum((n / sn) * log2(n / sn)), 6) AS entropy_bits,
               round(sum((n / sn) * log2((n / sn) / (lt / tn))), 6)
                   AS kl_vs_corpus_bits
        FROM c JOIN s USING (source) JOIN l USING (lang), t
        GROUP BY c.source, s.sn
    """,
    tags=("llm", "sampling", "stats"),
)
def source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mixture diagnostics per source: Shannon entropy of the
    within-source language distribution and its KL divergence from the
    corpus-wide mix — the monitoring twin of `domain_mix_weights`
    (a source whose KL spikes is drifting from the target blend).

    One corpus-scale aggregate keyed (source, lang); everything after
    is (sources × langs)-sized, so the entropy/KL arithmetic runs on
    broadcast-joined tiny tables — no second pass over documents."""
    d = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    # materialize the (source, lang) counts once: s/lang-totals/grand-total
    # all derive from it, and without the checkpoint each branch re-runs
    # the corpus-scale aggregate (4 scans of documents at 100 TB)
    c = (
        d.groupBy("source", "lang")
        .agg(F.count("*").cast("double").alias("n"))
        .localCheckpoint(eager=True)
    )
    s = c.groupBy("source").agg(F.sum("n").alias("sn"))
    lang_tot = c.groupBy("lang").agg(F.sum("n").alias("lt"))
    t = c.agg(F.sum("n").alias("tn"))
    p = F.col("n") / F.col("sn")
    q = F.col("lt") / F.col("tn")
    return (
        c.join(F.broadcast(s), "source")
        .join(F.broadcast(lang_tot), "lang")
        .crossJoin(F.broadcast(t))
        .groupBy("source", "sn")
        .agg(
            F.round(-F.sum(p * F.log2(p)), 6).alias("entropy_bits"),
            F.round(F.sum(p * F.log2(p / q)), 6).alias("kl_vs_corpus_bits"),
        )
        .select(
            "source",
            F.col("sn").cast("long").alias("n_docs"),
            "entropy_bits",
            "kl_vs_corpus_bits",
        )
    )


# ---------------------------------------------------------------------------
# Trigram language-model counts: top continuations per bigram context
# ---------------------------------------------------------------------------

@register(
    "trigram_continuations",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos
            FROM (SELECT doc_id, {TOKS_NE_SQL} AS t FROM documents)
        ),
        tri AS (
            SELECT tok AS w1,
                   lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
                   lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
            FROM toks
        ),
        cnt AS (
            SELECT w1, w2, w3, count(*)::BIGINT AS n
            FROM tri WHERE w3 IS NOT NULL
            GROUP BY 1, 2, 3
            HAVING count(*) >= 2
        )
        SELECT w1, w2, w3, n,
               row_number() OVER (
                   PARTITION BY w1, w2 ORDER BY n DESC, w3
               )::BIGINT AS rnk
        FROM cnt
        QUALIFY rnk <= 3
    """,
    tags=("llm", "text"),
)
def trigram_continuations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram LM counts: for each bigram context (w1, w2), the top-3
    continuations w3 by frequency (min count 2) — the raw material of
    count-based n-gram language models and autocomplete-style quality
    probes.

    Trigrams form inside each document (lead-over-position window keyed
    by doc_id — no cross-doc shuffle of token streams), counts combine
    map-side, and the per-context top-3 is a WindowGroupLimit-prunable
    ranked filter, never a global sort.  Ties break on w3 ascending."""
    d = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", F.posexplode(tokens_ne()).alias("pos", "tok")
    )
    wdoc = W.partitionBy("doc_id").orderBy("pos")
    tri = toks.select(
        F.col("tok").alias("w1"),
        F.lead("tok", 1).over(wdoc).alias("w2"),
        F.lead("tok", 2).over(wdoc).alias("w3"),
    ).filter(F.col("w3").isNotNull())
    cnt = (
        tri.groupBy("w1", "w2", "w3")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
    )
    wctx = W.partitionBy("w1", "w2").orderBy(F.desc("n"), F.asc("w3"))
    return (
        cnt.withColumn("rnk", F.row_number().over(wctx).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (A-RES, deterministic)
# ---------------------------------------------------------------------------

@register(
    "weighted_doc_sample",
    oracle=f"""
        WITH keyed AS (
            SELECT doc_id, n_chars,
                   round(
                       ln((({H.stable_hash64_sql("concat('ws:', doc_id::VARCHAR)")}
                            % 1000000007) + 1.0) / 1000000008.0) / n_chars,
                       9) AS score
            FROM documents WHERE n_chars > 0
        )
        SELECT doc_id, n_chars, score,
               row_number() OVER (ORDER BY score DESC, doc_id)::BIGINT AS rnk
        FROM keyed
        QUALIFY rnk <= 50
    """,
    tags=("llm", "sampling"),
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis
    A-RES): each doc gets key ln(u)/w with u a content-stable hash
    uniform and w = n_chars; the global top-k by key IS a weighted
    sample — one pass, a top-k heap, no RNG state, reproducible across
    engines/runs/cluster sizes (df.sample is none of those).  Keys are
    compared in log space (u^(1/w) compresses near 1.0 for large w)
    and rounded before ranking with a doc_id tiebreak — the fp rule."""
    d = dedup.fan_out(load_table(spark, sf_dir, "documents")).filter(
        F.col("n_chars") > 0
    )
    u = (
        (
            H.stable_hash64(F.concat(F.lit("ws:"), F.col("doc_id").cast("string")))
            % 1000000007
        )
        + 1.0
    ) / 1000000008.0
    keyed = d.select(
        "doc_id",
        "n_chars",
        F.round(F.log(u) / F.col("n_chars"), 9).alias("score"),
    )
    top = keyed.orderBy(F.desc("score"), F.asc("doc_id")).limit(50)
    return top.withColumn(
        "rnk",
        F.row_number()
        .over(W.orderBy(F.desc("score"), F.asc("doc_id")))
        .cast("long"),
    )


# ---------------------------------------------------------------------------
# Context-window chunking
# ---------------------------------------------------------------------------

_CHUNK_W = 50   # chunk size in tokens (the "context window")
_CHUNK_S = 40   # stride (W - S = 10 tokens of overlap between chunks)


@register(
    "doc_chunks",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, {TOKS_NE_SQL} AS toks FROM documents
            WHERE len({TOKS_NE_SQL}) > 0
        ),
        st AS (
            SELECT doc_id, toks,
                   unnest(generate_series(0, len(toks) - 1, {_CHUNK_S})) AS start
            FROM d
        )
        SELECT doc_id,
               (start // {_CHUNK_S})::BIGINT AS chunk_idx,
               len(list_slice(toks, start + 1, start + {_CHUNK_W}))::BIGINT AS n_words,
               md5(array_to_string(
                   list_slice(toks, start + 1, start + {_CHUNK_W}), ' '
               )) AS chunk_hash
        FROM st
    """,
    tags=("llm", "pipeline"),
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding context-window chunking: each document becomes
    ceil(n_tokens / stride) chunks of up to 50 tokens with 10-token
    overlap — the split-for-training step between curation and
    sequence packing (`corpus_pack_bins` packs these chunks).

    Pure array expressions (sequence → posexplode → slice), no UDF:
    chunking is compute-light string slicing, so the only cost that
    matters at 100 TB is never shuffling text — the explode happens
    after `fan_out`, within a partition, and the output carries a
    16-byte chunk hash (join key for downstream dedup-at-chunk-level),
    not the chunk text."""
    d = (
        dedup.fan_out(load_table(spark, sf_dir, "documents"))
        .select("doc_id", tokens_ne().alias("toks"))
        .filter(F.size("toks") > 0)
    )
    st = d.select(
        "doc_id",
        "toks",
        F.posexplode(
            F.sequence(F.lit(0), F.size("toks") - 1, F.lit(_CHUNK_S))
        ).alias("chunk_idx", "start"),
    )
    chunk = F.slice("toks", F.col("start") + 1, _CHUNK_W)
    return st.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_words"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


# ---------------------------------------------------------------------------
# Embedding k-means (deterministic Lloyd iterations)
# ---------------------------------------------------------------------------

def _kmeans_assign_sql(cent_cte: str, out: str) -> str:
    """One Lloyd assignment round as SQL (argmin of rounded L2², tie ->
    lowest cid) — mirrors operators/similarity.kmeans exactly."""
    return f"""
        {out} AS (
            SELECT vec_id, emb, cid FROM (
                SELECT e.vec_id, e.emb, c.cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(list_inner_product(e.emb, e.emb)
                                          - 2*list_inner_product(e.emb, c.cemb)
                                          + list_inner_product(c.cemb, c.cemb), 4) ASC,
                                    c.cid
                       ) AS rn
                FROM e, {cent_cte} c
            ) WHERE rn = 1
        )"""


def _kmeans_update_sql(assign_cte: str, out: str) -> str:
    """Centroid update: per-(cid, dim) mean rounded to 6 dp, assembled
    in dim order."""
    return f"""
        {out} AS (
            SELECT cid, list(cv ORDER BY dim) AS cemb FROM (
                SELECT a.cid, d.dim, round(avg(a.emb[d.dim]), 6) AS cv
                FROM {assign_cte} a, (SELECT unnest(generate_series(1, 64)) AS dim) d
                GROUP BY a.cid, d.dim
            ) GROUP BY cid
        )"""


@register(
    "embedding_kmeans",
    oracle=f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        c0 AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < 8),
        {_kmeans_assign_sql('c0', 'a1')},
        {_kmeans_update_sql('a1', 'c1')},
        {_kmeans_assign_sql('c1', 'a2')},
        {_kmeans_update_sql('a2', 'c2')}
        SELECT a.cid AS cluster_id,
               count(*)::BIGINT AS n_members,
               round(list_inner_product(c2.cemb, c2.cemb), 4) AS centroid_nrm
        FROM a2 a JOIN c2 ON a.cid = c2.cid
        GROUP BY a.cid, c2.cemb
    """,
    tags=("llm", "similarity"),
)
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two deterministic Lloyd's k-means iterations (k=8) over the
    embedding corpus, entirely as DataFrame ops — the iterative-ML
    pattern (assign = argmin over a broadcast centroid table, update =
    per-(cluster, dim) mean) that semantic-dedup / clustering-based
    curriculum pipelines run at corpus scale.  Per-cluster member
    counts + final centroid norms; centroids are rounded each round so
    both engines iterate on identical values (see
    operators/similarity.kmeans for the determinism rules)."""
    assigned, cent = similarity.kmeans(
        load_table(spark, sf_dir, "embeddings"), k=8, iters=2
    )
    counts = assigned.groupBy("cid").agg(F.count("*").alias("n_members"))
    return counts.join(cent, "cid").select(
        F.col("cid").alias("cluster_id"),
        "n_members",
        F.round(similarity.dot(F.col("cemb"), F.col("cemb")), 4).alias("centroid_nrm"),
    )


@register(
    "chunk_dup_stats",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, source, {TOKS_NE_SQL} AS toks FROM documents
            WHERE len({TOKS_NE_SQL}) > 0
        ),
        st AS (
            SELECT doc_id, source, toks,
                   unnest(generate_series(0, len(toks) - 1, {_CHUNK_S})) AS start
            FROM d
        ),
        ch AS (
            SELECT source,
                   md5(array_to_string(
                       list_slice(toks, start + 1, start + {_CHUNK_W}), ' '
                   )) AS chunk_hash
            FROM st
        )
        SELECT source,
               count(*)::BIGINT AS n_chunks,
               count(DISTINCT chunk_hash)::BIGINT AS n_distinct,
               round(1.0 - count(DISTINCT chunk_hash) * 1.0 / count(*), 6) AS dup_rate
        FROM ch GROUP BY source
    """,
    tags=("llm", "pipeline"),
)
def chunk_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level duplication rate per source — the boilerplate
    detector: document-level dedup misses repeated headers/footers/
    navigation inside otherwise-distinct documents, which shows up as
    duplicate CHUNK hashes.  High dup_rate sources are the ones worth
    chunk-level (rather than doc-level) dedup before training.

    Composes the `doc_chunks` machinery with a count-distinct
    aggregate; the shuffle carries (source, 16-byte hash), never
    chunk text."""
    d = (
        dedup.fan_out(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "source", tokens_ne().alias("toks"))
        .filter(F.size("toks") > 0)
    )
    st = d.select(
        "source",
        "toks",
        F.posexplode(
            F.sequence(F.lit(0), F.size("toks") - 1, F.lit(_CHUNK_S))
        ).alias("chunk_idx", "start"),
    )
    chunk = F.slice("toks", F.col("start") + 1, _CHUNK_W)
    ch = st.select("source", F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"))
    return ch.groupBy("source").agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("chunk_hash").alias("n_distinct"),
        F.round(
            1.0 - F.countDistinct("chunk_hash") / F.count("*"), 6
        ).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch (frequency estimation)
# ---------------------------------------------------------------------------

_CMS_D = 4    # hash rows
_CMS_W = 256  # cells per row


def _cms_sketch_sql() -> str:
    rows = "\n            UNION ALL ".join(
        f"SELECT {i} AS r, ({H.seeded_hash64_sql('tok', i)} % {_CMS_W}) AS cell, "
        f"count(*)::BIGINT AS n FROM toks GROUP BY 2"
        for i in range(_CMS_D)
    )
    return rows


def _cms_probe_sql() -> str:
    rows = "\n            UNION ALL ".join(
        f"SELECT tok, exact_n, {i} AS r, "
        f"({H.seeded_hash64_sql('tok', i)} % {_CMS_W}) AS cell FROM top"
        for i in range(_CMS_D)
    )
    return rows


@register(
    "token_cms_topk",
    oracle=f"""
        WITH toks AS (SELECT unnest({TOKS_NE_SQL}) AS tok FROM documents),
        exact AS (SELECT tok, count(*)::BIGINT AS exact_n FROM toks GROUP BY tok),
        top AS (SELECT tok, exact_n FROM exact ORDER BY exact_n DESC, tok LIMIT 20),
        sk AS (
            {_cms_sketch_sql()}
        ),
        probe AS (
            {_cms_probe_sql()}
        )
        SELECT probe.tok, probe.exact_n, min(sk.n)::BIGINT AS cms_n
        FROM probe JOIN sk ON probe.r = sk.r AND probe.cell = sk.cell
        GROUP BY probe.tok, probe.exact_n
    """,
    tags=("llm", "sketch"),
)
def token_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch token-frequency estimates vs exact counts for
    the 20 most frequent tokens.

    The sketch is d=4 hash rows x w=256 cells (Kirsch-Mitzenmacher-
    style seeded hashes from the cross-engine md5 family, so DuckDB
    builds the identical sketch): build is ONE map-side-combinable
    aggregate over (row, cell) — the sketch is d·w counters however
    large the corpus, which is the point: at 100 TB the frequency
    table that doesn't fit anywhere ships as a 1024-cell array, and
    estimates are one-sided (cms_n >= exact_n, over-count only from
    collisions).  Probing joins the (broadcast) sketch on (row, cell)
    and takes the min across rows.  Completes the sketch family next
    to HLL distinct (incremental ops) and the Bloom join filter.

    The corpus is tokenized ONCE: both the top-20 ranking and the
    sketch derive from the same materialized token-frequency table —
    a cell's counter is the number of token OCCURRENCES hashing into
    it, which equals sum(exact_n) over the tokens it receives, so the
    sketch build is a vocab-scale aggregate, not a second pass over
    the token stream (the r10 hashed_shingles rule: share counts,
    never re-derive them)."""
    toks = (
        dedup.fan_out(load_table(spark, sf_dir, "documents"))
        .select(F.explode(tokens_ne()).alias("tok"))
    )
    exact = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("exact_n"))
        # feeds BOTH the top-20 rank and the sketch build; without the
        # materialization each consumer re-runs the corpus tokenize +
        # explode (the broadcast side is its own AQE stage, so
        # ReuseExchange does not bridge the two consumers)
        .localCheckpoint(eager=True)
    )
    top = exact.orderBy(F.desc("exact_n"), F.asc("tok")).limit(20)
    cells = F.array(
        *[H.seeded_hash64("tok", i) % _CMS_W for i in range(_CMS_D)]
    )
    sk = (
        exact.select(F.posexplode(cells).alias("r", "cell"), "exact_n")
        .groupBy("r", "cell")
        .agg(F.sum("exact_n").alias("n"))
    )
    probe = top.select(
        "tok",
        "exact_n",
        F.posexplode(cells).alias("r", "cell"),
    )
    return (
        probe.join(F.broadcast(sk), ["r", "cell"])
        .groupBy("tok", "exact_n")
        .agg(F.min("n").alias("cms_n"))
    )


# ---------------------------------------------------------------------------
# Cross-doc repetition audit + temperature-scaled mixture weights
# ---------------------------------------------------------------------------

@register(
    "repeated_ngram_audit",
    oracle=f"""
        WITH sh AS MATERIALIZED ({_DOC_SHINGLES5}),
        census AS (
            SELECT s, count(DISTINCT doc_id)::BIGINT AS df
            FROM sh GROUP BY s
        )
        SELECT sh.doc_id,
               count(*)::BIGINT AS n_grams,
               sum(CASE WHEN c.df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared,
               round(sum(CASE WHEN c.df >= 2 THEN 1 ELSE 0 END) * 1.0
                     / count(*), 6) AS shared_frac
        FROM sh JOIN census c ON sh.s = c.s
        GROUP BY sh.doc_id
    """,
    tags=("llm", "dedup", "quality"),
)
def repeated_ngram_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memorization-risk audit (the exact-substring-dedup signal of
    Lee et al.'s 'Deduplicating Training Data Makes Language Models
    Better', arXiv:2107.06499, computed at 5-gram granularity): for
    each document, how many of its distinct 5-grams also occur in at
    least one OTHER document, and the shared fraction.  High
    shared_frac = boilerplate/templated text the model will memorize.

    Scale shape: one (doc_id, shingle-hash) inverted index (fan-out +
    explode, hashed to fixed-width keys), one vocabulary-sized census
    aggregate keyed on the shingle hash, and one hash join back on the
    same key — no self-join, no pair blowup, and the census join
    carries no broadcast hint (shingle vocabulary is corpus-scaled;
    AQE decides).  Documents with zero 5-grams (shorter than 5 words)
    drop out on both engines (inner join semantics)."""
    d = load_table(spark, sf_dir, "documents")
    idx = (
        dedup.shingle_index(d, 5)
        .select("doc_id", F.xxhash64("sh").alias("h"))
        # feeds BOTH the census and the per-doc join probe: one
        # tokenization pass (the jaccard/bm25 checkpoint rationale)
        .localCheckpoint(eager=True)
    )
    # (doc_id, h) rows are distinct by construction — shingle_index
    # array_distincts per document before exploding — so the census is
    # a plain count, not a two-level countDistinct (which plans an
    # extra (h, doc_id) exchange over the whole shingle stream).  The
    # only way count(*) could differ is two distinct shingles of ONE
    # document colliding in xxhash64 — the same 2^-64 event class the
    # hashed index already accepts across documents.  It also assumes
    # doc_id is unique in `documents`: array_distinct works per ROW, so
    # two rows sharing a doc_id would repeat (doc_id, h) pairs and
    # inflate df against the oracle's count(DISTINCT doc_id).
    # tests/test_optimizations_r11.py asserts the pair distinctness.
    census = idx.groupBy("h").agg(F.count("*").alias("df"))
    shared = F.when(F.col("df") >= 2, 1).otherwise(0)
    return (
        idx.join(census, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(shared).alias("n_shared"),
            F.round(F.sum(shared) * 1.0 / F.count("*"), 6).alias("shared_frac"),
        )
    )


@register(
    "mixture_temperature_weights",
    oracle="""
        WITH per AS (
            SELECT source, count(*)::BIGINT AS n_docs,
                   sum(n_chars)::BIGINT AS n_chars
            FROM documents GROUP BY source
        ),
        shares AS (
            SELECT source, n_docs, n_chars,
                   n_chars * 1.0 / (SELECT sum(n_chars) FROM per) AS p
            FROM per
        ),
        pw AS (
            SELECT source, n_docs, n_chars, p,
                   sqrt(p) AS p05, sqrt(sqrt(p)) AS p025
            FROM shares
        )
        SELECT source, n_docs, n_chars,
               round(p, 6) AS raw_share,
               round(p05 / (SELECT sum(p05) FROM pw), 6) AS w_alpha05,
               round(p025 / (SELECT sum(p025) FROM pw), 6) AS w_alpha025
        FROM pw
    """,
    tags=("llm", "sampling"),
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights w_i = p_i^α / Σ p_j^α — the
    multilingual/domain rebalancing rule (α<1 upsamples the tail, α=1
    keeps natural proportions; the α-sampling scheme of the mBERT/XLM-R
    lineage).  α is restricted to dyadic roots here (0.5 = sqrt,
    0.25 = sqrt∘sqrt) because IEEE-754 specifies sqrt EXACTLY, making
    the weights bit-identical across engines — a general pow(x, α)
    differs in the last ulp between libm implementations.

    Scale shape: one source-keyed corpus aggregate; every later step
    (shares, powers, normalizers) runs on the source-cardinality frame
    with 1-row broadcast totals."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars")
    )
    tot = per.agg(F.sum("n_chars").alias("all_chars"))
    pw = (
        per.crossJoin(F.broadcast(tot))
        .withColumn("p", F.col("n_chars") * 1.0 / F.col("all_chars"))
        .withColumn("p05", F.sqrt("p"))
        .withColumn("p025", F.sqrt(F.sqrt("p")))
    )
    norms = pw.agg(
        F.sum("p05").alias("z05"), F.sum("p025").alias("z025")
    )
    return (
        pw.crossJoin(F.broadcast(norms))
        .select(
            "source",
            "n_docs",
            "n_chars",
            F.round("p", 6).alias("raw_share"),
            F.round(F.col("p05") / F.col("z05"), 6).alias("w_alpha05"),
            F.round(F.col("p025") / F.col("z025"), 6).alias("w_alpha025"),
        )
    )
