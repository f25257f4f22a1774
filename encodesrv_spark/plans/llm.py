"""LLM-data-pipeline queries: dedup, similarity search, text analysis,
multimodal plumbing, event-stream analytics.

Implementations live in operators/ and functions/; this module binds
them to the registry with DuckDB oracles.  Shared SQL fragments are
built programmatically so the Spark plan and the oracle stay locked to
the same constants (hash seeds, LSH planes, thresholds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from encodesrv_spark.catalog import load_table, table_rows
from encodesrv_spark.functions import text as T
from encodesrv_spark.functions.exact import (
    exact_sum,
    half_up_idx_sql,
    money_round,
)
from encodesrv_spark.functions.hashing import km_hash64_sql, stable_hash64_sql
from encodesrv_spark.operators import dedup, multimodal, similarity
from encodesrv_spark.plans.registry import register

# --- shared DuckDB fragments -------------------------------------------------

# ASCII byte-contract for the text-as-payload multimodal twins: lives
# with the byte-slicing operators it guards (operators/multimodal.py).
_ascii_only = multimodal.ascii_only_filter

_TOKS = r"string_split_regex(text, '\s+')"

# distinct 3-word shingles of `text`, as a FROM-able fragment
_SHINGLES3 = f"""
    SELECT doc_id, unnest(list_distinct(list_transform(
        generate_series(1, greatest(len({_TOKS}) - 2, 0)),
        i -> array_to_string(list_slice({_TOKS}, i, i + 2), ' ')
    ))) AS s
    FROM documents
"""

_SIG8 = (
    "SELECT doc_id, "
    + ", ".join(
        f"min({km_hash64_sql('b1', 'b2', i)}) AS h{i}" for i in range(8)
    )
    + f""" FROM (
        SELECT doc_id, {stable_hash64_sql('s')} AS b1,
               {stable_hash64_sql("concat('m:', s)")} AS b2
        FROM ({_SHINGLES3})
    ) GROUP BY doc_id"""
)


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    oracle="""
        SELECT md5(text) AS text_hash,
               min(doc_id)::BIGINT AS keeper_doc_id,
               count(*)::BIGINT AS n_copies
        FROM documents GROUP BY 1
    """,
    tags=("llm", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by 128-bit content hash — the shuffle carries
    16-byte keys, not document bodies (100 TB posture)."""
    return dedup.exact_dedup_groups(load_table(spark, sf_dir, "documents"))


@register(
    "neardup_jaccard",
    # stop-shingle cap mirrored from jaccard_pairs(df_cap=10000):
    # shingles in more than df_cap documents are pruned before the
    # self-join AND before the per-doc sizes (no-op at test SFs, the
    # scale guard at 100 TB)
    oracle=f"""
        WITH idx0 AS MATERIALIZED (
            SELECT doc_id, {stable_hash64_sql('s')} AS h FROM ({_SHINGLES3})
        ),
        idx AS MATERIALIZED (
            SELECT doc_id, h FROM idx0
            WHERE h IN (SELECT h FROM idx0 GROUP BY h HAVING count(*) <= 10000)
        ),
        sizes AS MATERIALIZED (SELECT doc_id, count(*) AS c FROM idx GROUP BY 1),
        common AS MATERIALIZED (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
            FROM idx a JOIN idx b ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(common * 1.0 / (sa.c + sb.c - common), 4) AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(common * 1.0 / (sa.c + sb.c - common), 4) >= 0.5
    """,
    tags=("llm", "dedup"),
)
def neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle inverted-index
    self-join — only co-shingled documents ever meet.  Corpus size for
    the df-cap census gate comes from the parquet footer (n_docs),
    not a count() job — one fewer serial Spark job per execution."""
    return dedup.jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        k=3,
        threshold=0.5,
        df_cap=10000,
        n_docs=table_rows(sf_dir, "documents"),
    )


@register(
    "dedup_minhash",
    oracle=_SIG8,
    tags=("llm", "dedup"),
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 hashes over 3-word shingles): constant-size
    sketch per document regardless of corpus size."""
    return dedup.minhash_signatures(load_table(spark, sf_dir, "documents"), k=3, n_hashes=8)


@register(
    "minhash_lsh_pairs",
    oracle=f"""
        WITH sig AS ({_SIG8}),
        bands AS (
            SELECT doc_id, 0 AS band, concat(h0::VARCHAR, '_', h1::VARCHAR) AS key FROM sig
            UNION ALL
            SELECT doc_id, 1, concat(h2::VARCHAR, '_', h3::VARCHAR) FROM sig
            UNION ALL
            SELECT doc_id, 2, concat(h4::VARCHAR, '_', h5::VARCHAR) FROM sig
            UNION ALL
            SELECT doc_id, 3, concat(h6::VARCHAR, '_', h7::VARCHAR) FROM sig
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    """,
    tags=("llm", "dedup"),
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding over MinHash signatures (4 bands × 2 hashes):
    candidate pairs only materialize inside matching band buckets."""
    return dedup.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), k=3, n_hashes=8, band_size=2
    )


@register(
    "simhash32",
    oracle=f"""
        WITH th AS (
            SELECT doc_id, {stable_hash64_sql('tok')} AS h
            FROM (SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents)
        ),
        votes AS (
            SELECT doc_id, b, sum(2 * ((h >> b) & 1) - 1) AS s
            FROM th, (SELECT unnest(generate_series(0, 31)) AS b) bits
            GROUP BY doc_id, b
        )
        SELECT doc_id,
               sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
        FROM votes GROUP BY doc_id
    """,
    tags=("llm", "dedup"),
)
def simhash32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints (bitwise majority over token hashes);
    Hamming-near documents land on near-equal fingerprints."""
    return dedup.simhash(load_table(spark, sf_dir, "documents"), bits=32)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_EMB = "SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings"


@register(
    "embedding_knn",
    oracle=f"""
        WITH e AS ({_EMB}),
        q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 8),
        scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   round(list_inner_product(q.qemb, e.emb) /
                         sqrt(list_inner_product(q.qemb, q.qemb)
                              * list_inner_product(e.emb, e.emb)), 4) AS cos_sim
            FROM e, q WHERE e.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id, cos_sim,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
               )::BIGINT AS rnk
        FROM scored
        QUALIFY rnk <= 5
    """,
    tags=("llm", "similarity"),
)
def embedding_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (the exact baseline): broadcast query
    set, JVM-side zip_with/aggregate arithmetic, one pass over corpus."""
    return similarity.brute_force_knn(
        load_table(spark, sf_dir, "embeddings"), n_query_vecs=8, k=5
    )


@register(
    "embedding_lsh_buckets",
    oracle=f"""
        WITH e AS ({_EMB})
        SELECT {similarity.lsh_bucket_sql('emb')} AS bucket,
               count(*)::BIGINT AS n_vecs,
               min(vec_id)::BIGINT AS min_vec_id
        FROM e GROUP BY 1
    """,
    tags=("llm", "similarity"),
)
def embedding_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket histogram — the partition/bucket key
    the ANN path joins on (deterministic planes, oracle-reproducible)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    return (
        e.withColumn("bucket", similarity.lsh_bucket(F.col("emb")))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_vecs"),
            F.min("vec_id").alias("min_vec_id"),
        )
    )


@register(
    "embedding_ann_lsh",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, emb, {similarity.lsh_bucket_sql('emb')} AS bucket
            FROM ({_EMB})
        ),
        q AS (SELECT vec_id AS query_id, emb AS qemb, bucket AS qbucket
              FROM e WHERE vec_id < 8),
        scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   round(list_inner_product(q.qemb, e.emb) /
                         sqrt(list_inner_product(q.qemb, q.qemb)
                              * list_inner_product(e.emb, e.emb)), 4) AS cos_sim
            FROM e JOIN q ON e.bucket = q.qbucket AND e.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id, cos_sim,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
               )::BIGINT AS rnk
        FROM scored
        QUALIFY rnk <= 3
    """,
    tags=("llm", "similarity"),
)
def embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: candidates restricted to the query's LSH bucket, exact
    cosine re-rank inside — the scale path (bucket id doubles as a
    write-time bucketing/partition key at 100 TB)."""
    return similarity.lsh_ann(
        load_table(spark, sf_dir, "embeddings"), n_query_vecs=8, k=3
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, emb,
                   {similarity.lsh_bucket_sql('emb')} AS bucket,
                   list_inner_product(emb, emb) AS nrm
            FROM ({_EMB})
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_inner_product(a.emb, b.emb)
                     / sqrt(a.nrm * b.nrm), 4) AS cos_sim
        FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE round(list_inner_product(a.emb, b.emb)
                    / sqrt(a.nrm * b.nrm), 4) >= 0.3
    """,
    tags=("llm", "dedup", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH-bucket blocking (the
    shuffle key) + exact cosine threshold inside the bucket — semantic
    dedup at O(bucket²) instead of O(N²).  Threshold 0.3 here because
    the synthetic embeddings are near-orthogonal (max in-bucket cosine
    ≈ 0.4); a real corpus would use ~0.9 (the operator default)."""
    return similarity.cosine_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.3
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def _lang_scores_sql() -> str:
    # NB: DuckDB standard string literals do NOT process backslashes —
    # the regex goes in verbatim, single-backslashed.
    cols = []
    for lang in T.LANG_STOPWORDS:
        cols.append(
            f"len(regexp_extract_all(text, '{T.stopword_pattern(lang)}'))::BIGINT AS s_{lang}"
        )
    return ", ".join(cols)


def _lang_case_sql() -> str:
    langs = list(T.LANG_STOPWORDS)
    arms = []
    for lang in langs:
        others = ", ".join(f"s_{o}" for o in langs if o != lang)
        arms.append(
            f"WHEN s_{lang} > 0 AND s_{lang} >= greatest({others}) THEN '{lang}'"
        )
    return "CASE " + " ".join(arms) + " ELSE 'und' END"


@register(
    "lang_id",
    oracle=f"""
        WITH s AS (
            SELECT doc_id, lang AS labeled_lang, {_lang_scores_sql()}
            FROM documents
        )
        SELECT doc_id, labeled_lang, s_en, s_es, s_de, s_fr,
               {_lang_case_sql()} AS pred_lang
        FROM s
    """,
    tags=("llm", "text"),
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID: per-language occurrence scores via
    regexp_count (codegen'd), deterministic argmax with fixed tie order."""
    d = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    out = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[
            T.lang_score("text", lang).cast("long").alias(f"s_{lang}")
            for lang in T.LANG_STOPWORDS
        ],
        T.predicted_lang("text").alias("pred_lang"),
    )
    return out


# per-doc composite quality score, shared by quality_score and the
# per-source calibration query (plans/mining.py).
#
# r06 rework (sf0.1 sweep catch): the old form rounded a DOUBLE sum —
# score = 0.4·min(t,150)/150 + 0.3·types/t + 0.3·min(stop,20)/20 is an
# exact rational whose true value lands on 4-dp ties for many integer
# inputs (t=48, types=23, stop=3 → exactly 0.31675), and the engines
# then split: Spark rounds the shortest-repr decimal HALF_UP while
# DuckDB rounds the binary value — AND DuckDB's bare decimal literals
# (0.4, 150.0) can push its unrounded double to the other side of the
# tie entirely (observed both directions at sf0.1).  So the 4-dp
# quantization is now exact integer arithmetic on BOTH engines: over
# the common denominator 3000·t,
#   score = (8·min(t,150)·t + 900·types + 45·min(stop,20)·t) / (3000·t)
# and idx4 = (2·num·10⁴ + den) // (2·den) is the half-up 4-dp index
# (all terms ≥ 0; floor-div of the +½-shifted numerator IS half-up).
# ttr = types/t quantizes the same way.  Magnitudes: t ≤ ~1e9 tokens
# keeps 2·num·10⁴ ≤ ~4e16 — six orders inside BIGINT.  Division by a
# zero denominator (empty doc) is NULL on both engines via nullif —
# the old form silently diverged there (Spark x/0 → NULL, DuckDB → inf).
_QUALITY_SQL = f"""
        WITH m AS (
            SELECT doc_id,
                   length(text)::BIGINT AS n_chars_m,
                   len({_TOKS})::BIGINT AS n_tokens,
                   len(list_distinct({_TOKS}))::BIGINT AS n_types,
                   len(regexp_extract_all(text, '\\b(?:the|a|of|and|to|in|is)\\b'))::BIGINT AS n_stop
            FROM documents
        ),
        s AS (
            SELECT *,
                   8 * least(n_tokens, 150) * n_tokens
                     + 900 * n_types
                     + 45 * least(n_stop, 20) * n_tokens AS score_num,
                   3000 * n_tokens AS score_den
            FROM m
        )
        SELECT doc_id, n_chars_m, n_tokens, n_types,
               {half_up_idx_sql("n_types", "n_tokens", 4, dialect="duckdb")}
                   AS ttr,
               {half_up_idx_sql("score_num", "score_den", 4, dialect="duckdb")}
                   AS score
        FROM s
    """


@register(
    "quality_score",
    oracle=_QUALITY_SQL,
    tags=("llm", "text"),
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality heuristics: length, token counts, type-token
    ratio (lexical diversity), stopword coverage → composite score.

    The 4-dp ttr/score outputs are exact integer half-up quantizations
    (the `_QUALITY_SQL` comment derives the algebra): the composite is
    a rational with denominator 3000·n_tokens whose true value lands on
    4-dp ties for many real inputs, so `round(double, 4)` split engines
    at sf0.1 — the same class the seasonality escalation fixed.  All
    arithmetic is BIGINT; `div` is Spark's integral divide."""
    d = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    toks = T.tokens("text")
    n_tokens = F.size(toks).cast("long")
    n_types = F.size(F.array_distinct(toks)).cast("long")
    n_stop = T.lang_score("text", "en").cast("long")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_m"),
        n_tokens.alias("n_tokens"),
        n_types.alias("n_types"),
        n_stop.alias("__n_stop"),
    ).selectExpr(
        "doc_id",
        "n_chars_m",
        "n_tokens",
        "n_types",
        half_up_idx_sql("n_types", "n_tokens", 4, dialect="spark") + " as ttr",
        half_up_idx_sql(
            "8 * least(n_tokens, 150) * n_tokens"
            " + 900 * n_types"
            " + 45 * least(__n_stop, 20) * n_tokens",
            "3000 * n_tokens",
            4,
            dialect="spark",
        )
        + " as score",
    )


@register(
    "token_stats",
    oracle=f"""
        SELECT doc_id,
               len({_TOKS})::BIGINT AS ws_tokens,
               len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS bpe_tokens,
               length(text)::BIGINT AS n_chars_m,
               round(length(text) * 1.0 / len({_TOKS}), 4) AS chars_per_token
        FROM documents
    """,
    tags=("llm", "text"),
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens
    (letter-runs / digit-runs / single punctuation)."""
    d = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    ws = F.size(T.tokens("text")).cast("long")
    # the BPE-ish pattern's three branches are disjoint character
    # classes, so the match count decomposes into three simple-pattern
    # counts — each stays on the regex engine's fast path (the single
    # alternation pattern intermittently fell off JIT in long sessions)
    low = F.lower("text")
    bpe = (
        F.regexp_count(low, F.lit(r"[a-z]+"))
        + F.regexp_count(low, F.lit(r"[0-9]+"))
        + F.regexp_count(low, F.lit(r"[^a-z0-9\s]"))
    ).cast("long")
    return d.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_m"),
        F.round(F.length("text") * F.lit(1.0) / ws, 4).alias("chars_per_token"),
    )


@register(
    "doc_fingerprint",
    oracle=f"""
        WITH sh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                generate_series(1, greatest(len({_TOKS}) - 4, 0)),
                i -> array_to_string(list_slice({_TOKS}, i, i + 4), ' ')
            ))) AS s
            FROM documents
        ),
        h AS (SELECT doc_id, {stable_hash64_sql('s')} AS h FROM sh)
        SELECT doc_id,
               count(*)::BIGINT AS n_shingles,
               min(h) AS min_h,
               bit_xor(h)::BIGINT AS xor_h
        FROM h GROUP BY doc_id
    """,
    tags=("llm", "text"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 5-gram fingerprint: min-hash + xor-fold over shingle
    hashes — an order-insensitive content signature."""
    d = load_table(spark, sf_dir, "documents")
    from encodesrv_spark.functions.hashing import stable_hash64
    from encodesrv_spark.functions.text import word_shingles

    idx = (
        dedup.fan_out(d)
        .select(
            "doc_id",
            F.explode_outer(F.array_distinct(word_shingles("text", 5))).alias("s"),
        )
        .filter(F.col("s").isNotNull())
        .select("doc_id", stable_hash64("s").alias("h"))
    )
    return idx.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.min("h").alias("min_h"),
        F.expr("bit_xor(h)").alias("xor_h"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (mapInPandas over binary payloads)
# ---------------------------------------------------------------------------

@register(
    "multimodal_features",
    oracle="""
        SELECT doc_id,
               strlen(text)::BIGINT AS n_bytes,
               md5(text) AS checksum,
               ((strlen(text) % 64 + 1) * 16)::INTEGER AS width,
               ((strlen(text) % 36 + 1) * 16)::INTEGER AS height,
               (strlen(text) // 100 + 1)::INTEGER AS n_frames
        FROM documents
    """,
    tags=("llm", "multimodal"),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction through the real mapInPandas /
    Arrow path (decode stubbed deterministically — container has no
    codecs; see operators.multimodal.fake_decode_meta)."""
    d = load_table(spark, sf_dir, "documents")
    return multimodal.extract_features(multimodal.documents_as_binary(d))


@register(
    "multimodal_frames",
    oracle="""
        SELECT doc_id,
               fi::INTEGER AS frame_idx,
               (fi * 100)::BIGINT AS byte_offset,
               md5(substr(text, fi * 100 + 1, 100)) AS frame_md5
        FROM (
            SELECT doc_id, text,
                   unnest(generate_series(0, strlen(text) // 100)) AS fi
            FROM documents
            WHERE strlen(text) = length(text)
        )
    """,
    tags=("llm", "multimodal"),
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads (UDTF-shaped mapInPandas:
    rows multiply, one per fixed-size slice, checksummed).

    The operator slices BYTES (real media payloads have no character
    semantics); DuckDB's substr slices CHARACTERS and cannot slice or
    md5 a BLOB, so the text-as-payload oracle twin is restricted ON
    BOTH ENGINES to ASCII docs — byte length == char length, where the
    two slicings provably coincide — making the twin exact on any
    corpus, not just the current all-ASCII testdata."""
    d = load_table(spark, sf_dir, "documents").filter(_ascii_only())
    return multimodal.sample_frames(multimodal.documents_as_binary(d))


@register(
    "multimodal_resize",
    oracle="""
        SELECT doc_id,
               strlen(text)::BIGINT AS orig_bytes,
               128 AS target_w,
               96 AS target_h,
               least(strlen(text), 192)::BIGINT AS resized_bytes,
               md5(substr(text, 1, 192)) AS resized_md5
        FROM documents
        WHERE strlen(text) = length(text)
    """,
    tags=("llm", "multimodal"),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize/thumbnail multimodal stage (1:1 payload transform via
    mapInPandas; deterministic fake scale — 128×96 → 192-byte budget —
    checksummed so the oracle verifies the transform byte-exactly).
    ASCII-restricted twin, same rationale as multimodal_frames."""
    d = load_table(spark, sf_dir, "documents").filter(_ascii_only())
    return multimodal.resize(multimodal.documents_as_binary(d), 128, 96)


# ---------------------------------------------------------------------------
# Event-stream analytics (the batch shapes of the streaming operators)
# ---------------------------------------------------------------------------

@register(
    "events_hourly",
    oracle="""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
               event_type,
               count(*)::BIGINT AS n,
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS total_value
        FROM events GROUP BY 1, 2
    """,
    tags=("llm", "events"),
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour aggregation — identical frame to the streaming
    window(ts, '1 hour') version in streaming/ (same grouping keys)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_start"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            money_round(exact_sum("value")).alias("total_value"),
        )
    )


@register(
    "events_sessionize",
    oracle="""
        WITH x AS (
            SELECT user_id, event_id, epoch_us(ts) AS tus,
                   CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                             OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        ),
        s AS (
            SELECT user_id, event_id, tus,
                   sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY tus, event_id
                       ROWS UNBOUNDED PRECEDING
                   )::BIGINT AS session_id
            FROM x
        )
        SELECT user_id, session_id,
               count(*)::BIGINT AS n_events,
               min(tus) AS start_us,
               max(tus) AS end_us,
               (max(tus) - min(tus))::BIGINT AS duration_us
        FROM s GROUP BY user_id, session_id
    """,
    tags=("llm", "events"),
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + running sum
    of session starts. Uses exact epoch-µs integers end-to-end (µs is
    the precision both engines share), so the cross-engine comparison
    has zero float risk. The streaming twin is session_window(ts,
    '30 minutes') in streaming/."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events").withColumn(
        "tus", F.expr("ts_ns DIV 1000")
    )
    w = W.partitionBy("user_id").orderBy("tus", "event_id")
    gap_us = 1_800_000_000  # 30 min
    x = e.select(
        "user_id",
        "event_id",
        "tus",
        F.when(
            F.lag("tus").over(w).isNull()
            | (F.col("tus") - F.lag("tus").over(w) > gap_us),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    w2 = (
        W.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    s = x.select(
        "user_id", "event_id", "tus", F.sum("is_new").over(w2).alias("session_id")
    )
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("tus").alias("start_us"),
        F.max("tus").alias("end_us"),
        (F.max("tus") - F.min("tus")).cast("long").alias("duration_us"),
    )


@register(
    "events_json",
    oracle="""
        SELECT event_type,
               count(*)::BIGINT AS n,
               round(avg(regexp_extract(props, '"k":\\s*(\\d+)', 1)::INT), 4) AS avg_k,
               max(regexp_extract(props, '"k":\\s*(\\d+)', 1)::INT)::INTEGER AS max_k
        FROM events GROUP BY 1
    """,
    tags=("llm", "events"),
)
def events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props: JSON field extraction + aggregation
    (get_json_object on Spark; the oracle proves the values, not the
    parser)."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "events_hypertable_rollup",
    oracle="""
        SELECT coalesce(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day,
               coalesce(strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S'), 'ALL') AS hour,
               grouping(date_trunc('day', ts), date_trunc('hour', ts))::BIGINT AS gid,
               count(*)::BIGINT AS n,
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS total_value
        FROM events
        GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts))
    """,
    tags=("llm", "events", "rollup"),
)
def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate hierarchy: one ROLLUP
    produces hour, day, and grand-total resolutions in a single pass
    over the events stream table (the batch shape of a
    TimescaleDB-like multi-resolution rollup).  At scale the hour rows
    feed the day rows through partial aggregation — Catalyst's Expand
    + two-phase HashAggregate does precisely the cascade a hypertable
    maintains incrementally."""
    e = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    hour = F.date_trunc("hour", "ts")
    return (
        e.rollup(day.alias("d"), hour.alias("h"))
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            money_round(exact_sum("value")).alias("total_value"),
        )
        .select(
            F.coalesce(F.date_format("d", "yyyy-MM-dd"), F.lit("ALL")).alias("day"),
            F.coalesce(F.date_format("h", "yyyy-MM-dd HH:mm:ss"), F.lit("ALL")).alias("hour"),
            F.col("gid").cast("long").alias("gid"),
            "n",
            "total_value",
        )
    )


_IVF_E = (
    "SELECT vec_id, embedding::DOUBLE[] AS emb, "
    "list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS nrm "
    "FROM embeddings"
)


@register(
    "embedding_ivf_ann",
    oracle=f"""
        WITH e AS ({_IVF_E}),
        c AS (SELECT vec_id AS cent_id, emb AS cemb, nrm AS cnrm FROM e WHERE vec_id < 16),
        assign AS (
            SELECT vec_id, emb, nrm, cent_id AS cell FROM (
                SELECT e.vec_id, e.emb, e.nrm, c.cent_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(list_inner_product(e.emb, c.cemb)
                                          / sqrt(e.nrm * c.cnrm), 4) DESC, c.cent_id
                       ) AS rn
                FROM e, c
            ) WHERE rn = 1
        ),
        q AS (SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm FROM e WHERE vec_id < 8),
        probes AS (
            SELECT query_id, qemb, qnrm, cent_id AS cell FROM (
                SELECT q.query_id, q.qemb, q.qnrm, c.cent_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY round(list_inner_product(q.qemb, c.cemb)
                                          / sqrt(q.qnrm * c.cnrm), 4) DESC, c.cent_id
                       ) AS rn
                FROM q, c
            ) WHERE rn <= 2
        ),
        cand AS (
            SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
                   round(list_inner_product(p.qemb, a.emb)
                         / sqrt(p.qnrm * a.nrm), 4) AS cos_sim
            FROM assign a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id
        )
        SELECT query_id, neighbor_id, cos_sim,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
               )::BIGINT AS rnk
        FROM cand
        QUALIFY rnk <= 3
    """,
    tags=("llm", "similarity"),
)
def embedding_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: coarse-quantizer cells (nearest of 16 deterministic
    centroids), queries probe their 2 nearest cells, exact cosine
    re-rank inside — the inverted-file scale path complementing the
    LSH variant (cell id becomes the storage partition key at 100 TB,
    so a probe touches nprobe partitions)."""
    return similarity.ivf_ann(
        load_table(spark, sf_dir, "embeddings"),
        n_query_vecs=8, k=3, n_centroids=16, nprobe=2,
    )


_PQ_SEGS = """
        e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        segs AS (
            SELECT e.vec_id, s.seg, e.emb[s.seg*16+1 : s.seg*16+16] AS vseg
            FROM e, (SELECT unnest([0,1,2,3]) AS seg) s
        ),
        cb AS (SELECT vec_id AS cent_id, seg, vseg AS cseg FROM segs WHERE vec_id < 16),
        assign AS (
            SELECT vec_id, seg, cent_id, cseg FROM (
                SELECT s.vec_id, s.seg, c.cent_id, c.cseg,
                       row_number() OVER (
                           PARTITION BY s.vec_id, s.seg
                           ORDER BY round(list_inner_product(s.vseg, s.vseg)
                                          - 2*list_inner_product(s.vseg, c.cseg)
                                          + list_inner_product(c.cseg, c.cseg), 4) ASC,
                                    c.cent_id
                       ) AS rn
                FROM segs s JOIN cb c ON s.seg = c.seg
            ) WHERE rn = 1
        )
"""


@register(
    "embedding_pq_codes",
    oracle=f"""
        WITH {_PQ_SEGS}
        SELECT vec_id,
               array_to_string(list(cent_id ORDER BY seg), '_') AS codes_key
        FROM assign GROUP BY vec_id
    """,
    tags=("llm", "similarity"),
)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode: each 64-dim vector → 4 segment
    codes (nearest of 16 deterministic sub-centroids per segment, L2).
    The codes are the 100 TB storage artifact — m small ints instead
    of d floats per vector (here 4 codes for 64 floats, a 64× byte
    shrink at int8 codebooks).  Rendered as a '_'-joined string key so
    the driver's canonicalizer never sees an array cell."""
    enc = similarity.pq_encode(
        load_table(spark, sf_dir, "embeddings"), m=4, n_sub=16, dims=64
    )
    return enc.select(
        "vec_id",
        F.array_join(F.expr("transform(codes, c -> cast(c AS string))"), "_").alias(
            "codes_key"
        ),
    )


@register(
    "embedding_pq_ann",
    oracle=f"""
        WITH {_PQ_SEGS},
        recon AS (
            SELECT vec_id, flatten(list(cseg ORDER BY seg)) AS recon
            FROM assign GROUP BY vec_id
        ),
        r AS (SELECT vec_id, recon, list_inner_product(recon, recon) AS rnrm FROM recon),
        q AS (
            SELECT vec_id AS query_id, emb AS qemb,
                   list_inner_product(emb, emb) AS qnrm
            FROM e WHERE vec_id < 8
        ),
        scored AS (
            SELECT q.query_id, r.vec_id AS neighbor_id,
                   round(list_inner_product(q.qemb, r.recon)
                         / sqrt(q.qnrm * r.rnrm), 4) AS approx_cos
            FROM r, q WHERE r.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id, approx_cos,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY approx_cos DESC, neighbor_id
               )::BIGINT AS rnk
        FROM scored
        QUALIFY rnk <= 3
    """,
    tags=("llm", "similarity"),
)
def embedding_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance ANN: full-precision queries scored
    against the PQ-decoded corpus (the ADC lookup-table sum, expressed
    as one 64-dim fold so both engines accumulate identically).  The
    compressed exhaustive scan — every code is scored but the scan
    reads 4-byte codes, not 256-byte vectors; composes with IVF cells
    (probe subset) for a FAISS-style IVFPQ at 100 TB."""
    return similarity.pq_ann(
        load_table(spark, sf_dir, "embeddings"),
        n_query_vecs=8, k=3, m=4, n_sub=16, dims=64,
    )


@register(
    "llm_corpus_prep",
    oracle=f"""
        WITH kept AS (
            SELECT doc_id, lang, text,
                   len({_TOKS})::BIGINT AS n_toks
            FROM documents
            WHERE len({_TOKS}) >= 20
        ),
        dedup AS (
            SELECT doc_id, lang, n_toks FROM (
                SELECT doc_id, lang, n_toks,
                       row_number() OVER (
                           PARTITION BY md5(text) ORDER BY doc_id
                       ) AS rn
                FROM kept
            ) WHERE rn = 1
        )
        SELECT lang,
               count(*)::BIGINT AS n_docs,
               sum(n_toks)::BIGINT AS total_tokens,
               round(avg(n_toks), 4) AS avg_tokens
        FROM dedup GROUP BY lang
    """,
    tags=("llm", "pipeline"),
)
def llm_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-corpus prep pipeline, composed from the
    individual operators: quality gate (min token count) → exact
    near-dup removal (keep lowest doc_id per content hash) → per-
    language token budget.  One shuffle for the dedup window (keyed on
    the 16-byte content hash, never the text) and one for the tiny
    final aggregate — the same plan shape a 100 TB corpus run needs."""
    from pyspark.sql import Window as W

    d = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    kept = d.select(
        "doc_id", "lang", "text", F.size(T.tokens("text")).cast("long").alias("n_toks")
    ).filter(F.col("n_toks") >= 20)
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    uniq = (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return uniq.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("total_tokens"),
        F.round(F.avg("n_toks"), 4).alias("avg_tokens"),
    )


@register(
    "vocab_topk",
    oracle=f"""
        SELECT tok, n, rnk FROM (
            SELECT tok, count(*)::BIGINT AS n,
                   row_number() OVER (ORDER BY count(*) DESC, tok)::BIGINT AS rnk
            FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
            WHERE tok <> ''
            GROUP BY tok
        ) WHERE rnk <= 100
    """,
    tags=("llm", "text"),
)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build: explode tokens, count, global top-100 (ties
    break lexicographically).  The shuffle carries (token, partial
    count) pairs — partial aggregation means corpus size only affects
    the scan, not the exchange; the final top-k is a
    TakeOrderedAndProject over the aggregated vocabulary."""
    from pyspark.sql import Window as W

    d = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    toks = d.select(F.explode(T.tokens_ne("text")).alias("tok"))
    counted = toks.groupBy("tok").agg(F.count("*").alias("n"))
    # limit-first: the top-100 is a per-partition heap merge
    # (TakeOrderedAndProject); the rnk window then runs over 100 rows
    # instead of shuffling the whole vocabulary to one task
    top = counted.orderBy(F.desc("n"), F.asc("tok")).limit(100)
    return top.withColumn(
        "rnk", F.row_number().over(W.orderBy(F.desc("n"), F.asc("tok"))).cast("long")
    )


@register(
    "text_scrub",
    oracle=r"""
        SELECT doc_id,
               len(regexp_extract_all(text, 'https?://[^\s]+'))::BIGINT AS n_urls,
               len(regexp_extract_all(text, '[a-zA-Z0-9_.]+@[a-zA-Z0-9.]+'))::BIGINT AS n_emails,
               length(regexp_replace(
                   regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
                   '[a-zA-Z0-9_.]+@[a-zA-Z0-9.]+', '<EMAIL>', 'g'
               ))::BIGINT AS scrubbed_len
        FROM documents
    """,
    tags=("llm", "text"),
)
def text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-pattern scrub for training corpora: count + redact URL and
    email spans (standard pre-training hygiene).  Pure JVM regex — at
    100 TB this is a map-only stage with zero shuffle.  (DuckDB's
    regexp_replace needs the 'g' flag for replace-all parity with
    Spark.)"""
    d = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    url = r"https?://[^\s]+"
    email = r"[a-zA-Z0-9_.]+@[a-zA-Z0-9.]+"
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit(url)).cast("long").alias("n_urls"),
        F.regexp_count("text", F.lit(email)).cast("long").alias("n_emails"),
        F.length(
            F.regexp_replace(
                F.regexp_replace("text", url, "<URL>"), email, "<EMAIL>"
            )
        ).cast("long").alias("scrubbed_len"),
    )


# LSH candidate pairs -> undirected edges -> min-label connected
# components, as recursive CTEs.  Shared by dedup_clusters and the
# cluster-size histogram (plans/mining.py); embed as
# f"WITH RECURSIVE {_CLUSTERS_CTES} SELECT ... FROM walk ...".
_CLUSTERS_CTES = f"""sig AS MATERIALIZED ({_SIG8}),
        bands AS MATERIALIZED (
            SELECT doc_id, 0 AS band, concat(h0::VARCHAR, '_', h1::VARCHAR) AS key FROM sig
            UNION ALL
            SELECT doc_id, 1, concat(h2::VARCHAR, '_', h3::VARCHAR) FROM sig
            UNION ALL
            SELECT doc_id, 2, concat(h4::VARCHAR, '_', h5::VARCHAR) FROM sig
            UNION ALL
            SELECT doc_id, 3, concat(h6::VARCHAR, '_', h7::VARCHAR) FROM sig
        ),
        pairs AS MATERIALIZED (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        ),
        edges AS MATERIALIZED (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b, doc_a FROM pairs
        ),
        walk(node, comp) AS (
            SELECT src, src FROM (SELECT DISTINCT src FROM edges)
            UNION
            SELECT e.src, w.comp FROM edges e JOIN walk w ON w.node = e.dst
        )"""


@register(
    "dedup_clusters",
    oracle=f"""
        WITH RECURSIVE {_CLUSTERS_CTES}
        SELECT node AS doc_id, min(comp)::BIGINT AS component
        FROM walk GROUP BY node
    """,
    tags=("llm", "dedup", "iterative"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS from LSH candidate pairs: connected
    components by iterative min-label propagation (the step that turns
    pairwise near-dup hits into groups with one keeper each).  The
    Spark side is a bounded join-aggregate loop with lineage
    checkpointing; the oracle computes the same components with a
    recursive CTE — an iterative-algorithm operator (see also
    trade_pagerank) that still hash-matches exactly."""
    pairs = dedup.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), k=3, n_hashes=8, band_size=2
    )
    return dedup.connected_components(pairs)


_SPLIT_H = stable_hash64_sql("concat('split:', doc_id::VARCHAR)") + " % 100"


@register(
    "corpus_sample_split",
    oracle=f"""
        WITH assigned AS (
            SELECT doc_id, lang,
                   CASE WHEN {_SPLIT_H} < 80 THEN 'train'
                        WHEN {_SPLIT_H} < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        )
        SELECT lang, split, count(*)::BIGINT AS n_docs,
               min(doc_id)::BIGINT AS min_doc_id
        FROM assigned GROUP BY lang, split
    """,
    tags=("llm", "sampling"),
)
def corpus_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by CONTENT-STABLE
    hash bucketing — hash(doc_id) % 100 range-assigns the split, so the
    assignment is reproducible across engines, runs, and cluster sizes
    (RNG-based df.sample is none of those).  This is how corpus splits
    must be done at 100 TB: no shuffle, no state, any worker can
    re-derive any document's split."""
    from encodesrv_spark.functions.hashing import stable_hash64

    d = load_table(spark, sf_dir, "documents")
    bucket = stable_hash64(
        F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
    ) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select("doc_id", "lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
    )


@register(
    "corpus_stratified_sample",
    oracle=f"""
        SELECT doc_id, lang
        FROM documents
        WHERE {stable_hash64_sql("concat('samp:', doc_id::VARCHAR)")} % 1000
              < CASE lang WHEN 'en' THEN 50 WHEN 'es' THEN 200 ELSE 500 END
    """,
    tags=("llm", "sampling"),
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified consistent sampling: per-language rates (en 5%,
    es 20%, others 50% — downsample the over-represented strata) via
    hash-mod thresholds.  Same properties as the split op: exact,
    reproducible, shuffle-free; the 100 TB path to a balanced training
    mix."""
    from encodesrv_spark.functions.hashing import stable_hash64

    d = load_table(spark, sf_dir, "documents")
    h = stable_hash64(
        F.concat(F.lit("samp:"), F.col("doc_id").cast("string"))
    ) % 1000
    rate = (
        F.when(F.col("lang") == "en", 50)
        .when(F.col("lang") == "es", 200)
        .otherwise(500)
    )
    return d.filter(h < rate).select("doc_id", "lang")


@register(
    "corpus_pack_bins",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   len({_TOKS})::BIGINT AS n_toks,
                   ({stable_hash64_sql("concat('pack:', doc_id::VARCHAR)")} % 8) AS bucket
            FROM documents
        ),
        packed AS (
            SELECT doc_id, n_toks, bucket,
                   ((sum(n_toks) OVER (
                        PARTITION BY bucket ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING
                    ) - n_toks) // 512)::BIGINT AS local_bin
            FROM toks
        )
        SELECT bucket, local_bin,
               count(*)::BIGINT AS n_docs,
               sum(n_toks)::BIGINT AS bin_tokens
        FROM packed GROUP BY bucket, local_bin
    """,
    tags=("llm", "packing"),
)
def corpus_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing for training batches: greedy running-sum
    binning (bin = floor(prefix_tokens/512)).  Packing is inherently
    sequential, so the scale move is hash-bucketing FIRST (8 here;
    thousands at 100 TB): each bucket packs independently in parallel
    and the global bin id is (bucket, local_bin).  One window over
    (bucket, doc_id) order — no global sort, no single-partition
    bottleneck."""
    from pyspark.sql import Window as W

    from encodesrv_spark.functions.hashing import stable_hash64

    d = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id",
        F.size(T.tokens("text")).cast("long").alias("n_toks"),
        (
            stable_hash64(F.concat(F.lit("pack:"), F.col("doc_id").cast("string")))
            % 8
        ).alias("bucket"),
    )
    w = (
        W.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = toks.withColumn(
        "local_bin",
        F.floor((F.sum("n_toks").over(w) - F.col("n_toks")) / 512).cast("long"),
    )
    return packed.groupBy("bucket", "local_bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("bin_tokens"),
    )


# ---------------------------------------------------------------------------
# Language-ID confusion matrix + near-dedup drop list
# ---------------------------------------------------------------------------

@register(
    "lang_confusion",
    oracle=f"""
        WITH s AS (
            SELECT lang AS labeled_lang, {_lang_scores_sql()} FROM documents
        ),
        p AS (SELECT labeled_lang, {_lang_case_sql()} AS pred_lang FROM s)
        SELECT labeled_lang, pred_lang, count(*)::BIGINT AS n,
               round(count(*) * 1.0 /
                     sum(count(*)) OVER (PARTITION BY labeled_lang), 4) AS share
        FROM p GROUP BY 1, 2
    """,
    tags=("llm", "text", "quality"),
)
def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled-vs-predicted language confusion matrix — the evaluation
    view of the lang_id classifier (per-label row shares sum to 1).
    The matrix is langs^2-bounded, so after the map-side scoring pass
    everything downstream is dimension-sized; the window runs on the
    already-aggregated frame, not the corpus."""
    d = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    p = d.select(
        F.col("lang").alias("labeled_lang"),
        T.predicted_lang("text").alias("pred_lang"),
    )
    counts = p.groupBy("labeled_lang", "pred_lang").agg(F.count("*").alias("n"))
    w = W.partitionBy("labeled_lang")
    return counts.select(
        "labeled_lang",
        "pred_lang",
        "n",
        F.round(F.col("n") / F.sum("n").over(w), 4).alias("share"),
    )


@register(
    "neardup_removals",
    oracle=f"""
        WITH RECURSIVE sig AS MATERIALIZED ({_SIG8}),
        bands AS MATERIALIZED (
            SELECT doc_id, 0 AS band, concat(h0::VARCHAR, '_', h1::VARCHAR) AS key FROM sig
            UNION ALL
            SELECT doc_id, 1, concat(h2::VARCHAR, '_', h3::VARCHAR) FROM sig
            UNION ALL
            SELECT doc_id, 2, concat(h4::VARCHAR, '_', h5::VARCHAR) FROM sig
            UNION ALL
            SELECT doc_id, 3, concat(h6::VARCHAR, '_', h7::VARCHAR) FROM sig
        ),
        pairs AS MATERIALIZED (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        ),
        edges AS MATERIALIZED (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b, doc_a FROM pairs
        ),
        walk(node, comp) AS (
            SELECT src, src FROM (SELECT DISTINCT src FROM edges)
            UNION
            SELECT e.src, w.comp FROM edges e JOIN walk w ON w.node = e.dst
        )
        SELECT node AS doc_id, min(comp)::BIGINT AS keeper_doc_id
        FROM walk GROUP BY node
        HAVING min(comp) <> node
    """,
    tags=("llm", "dedup", "iterative"),
)
def neardup_removals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable end of the near-dedup pipeline: the DROP LIST —
    every non-canonical cluster member mapped to its keeper (min doc_id
    in its connected component).  Applying it is one anti-join of the
    corpus against this table; at 100 TB the list is duplicates-sized
    (a small fraction of the corpus) and joins on the compact doc_id
    key, never on content."""
    pairs = dedup.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), k=3, n_hashes=8, band_size=2
    )
    cc = dedup.connected_components(pairs)
    return cc.filter(F.col("component") != F.col("doc_id")).select(
        "doc_id", F.col("component").alias("keeper_doc_id")
    )


_LEAK_ORACLE = f"""
    WITH idx AS MATERIALIZED (
        SELECT doc_id, {stable_hash64_sql('s')} AS h FROM ({_SHINGLES3})
    ),
    sizes AS MATERIALIZED (SELECT doc_id, count(*) AS c FROM idx GROUP BY 1),
    common AS MATERIALIZED (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        FROM idx a JOIN idx b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b,
               round(common * 1.0 / (sa.c + sb.c - common), 4) AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(common * 1.0 / (sa.c + sb.c - common), 4) >= 0.5
    ),
    assigned AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN {_SPLIT_H} < 80 THEN 'train'
                    WHEN {_SPLIT_H} < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT p.doc_a, p.doc_b, p.jaccard,
           sa.split AS split_a, sb.split AS split_b
    FROM pairs p
    JOIN assigned sa ON sa.doc_id = p.doc_a
    JOIN assigned sb ON sb.doc_id = p.doc_b
    WHERE sa.split <> sb.split
"""


@register(
    "split_leakage",
    oracle=_LEAK_ORACLE,
    tags=("llm", "sampling", "dedup"),
)
def split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination audit: near-duplicate document pairs
    (3-shingle Jaccard >= 0.5, same machinery as `neardup_jaccard`)
    whose two members land in DIFFERENT splits of
    `corpus_sample_split`'s hash-bucket assignment — each pair is
    leakage: an eval document with a training-set near-copy.  Exact-dup
    leakage is the jaccard = 1.0 subset.

    Identical split arithmetic to `corpus_sample_split` (content-stable
    hash, any worker re-derives it — no split-assignment table to join
    at corpus scale); the split columns attach to the PAIRS output
    (duplicate-cardinality), so the post-dedup joins never touch
    corpus-scale data."""
    from encodesrv_spark.functions.hashing import stable_hash64

    d = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    # fan_out preserves cardinality, so the footer row count is the
    # frame's exact size — no count() job for the census gate
    pairs = dedup.jaccard_pairs(
        d, k=3, threshold=0.5, n_docs=table_rows(sf_dir, "documents")
    )
    bucket = stable_hash64(
        F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
    ) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    assigned = d.select("doc_id", split.alias("split"))
    sa = assigned.alias("sa")
    sb = assigned.alias("sb")
    return (
        pairs.join(sa, pairs["doc_a"] == F.col("sa.doc_id"))
        .join(sb, pairs["doc_b"] == F.col("sb.doc_id"))
        .filter(F.col("sa.split") != F.col("sb.split"))
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.col("sa.split").alias("split_a"),
            F.col("sb.split").alias("split_b"),
        )
    )


@register(
    "dedup_keep_best",
    oracle=f"""
        WITH RECURSIVE sig AS MATERIALIZED ({_SIG8}),
        bands AS MATERIALIZED (
            SELECT doc_id, 0 AS band, concat(h0::VARCHAR, '_', h1::VARCHAR) AS key FROM sig
            UNION ALL
            SELECT doc_id, 1, concat(h2::VARCHAR, '_', h3::VARCHAR) FROM sig
            UNION ALL
            SELECT doc_id, 2, concat(h4::VARCHAR, '_', h5::VARCHAR) FROM sig
            UNION ALL
            SELECT doc_id, 3, concat(h6::VARCHAR, '_', h7::VARCHAR) FROM sig
        ),
        pairs AS MATERIALIZED (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        ),
        edges AS MATERIALIZED (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b, doc_a FROM pairs
        ),
        walk(node, comp) AS (
            SELECT src, src FROM (SELECT DISTINCT src FROM edges)
            UNION
            SELECT e.src, w.comp FROM edges e JOIN walk w ON w.node = e.dst
        ),
        comp AS MATERIALIZED (
            SELECT node AS doc_id, min(comp)::BIGINT AS component
            FROM walk GROUP BY node
        )
        SELECT component, doc_id AS keeper_doc_id, n_members, kept_chars
        FROM (
            SELECT c.component, c.doc_id, d.n_chars AS kept_chars,
                   count(*) OVER (PARTITION BY c.component)::BIGINT AS n_members,
                   row_number() OVER (
                       PARTITION BY c.component
                       ORDER BY d.n_chars DESC, c.doc_id
                   ) AS rn
            FROM comp c JOIN documents d USING (doc_id)
        ) WHERE rn = 1
    """,
    tags=("llm", "dedup", "iterative"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: within each near-dup cluster
    (same LSH→connected-components machinery as `dedup_clusters`) keep
    the LONGEST member (ties → lowest doc_id) — the content-aware
    alternative to `neardup_removals`' min-id canonicalization, e.g.
    keeping the least-truncated copy of a boilerplate-stripped page.
    The argmax is a per-cluster window on the cluster table
    (duplicate-cardinality), joined to document metadata only — the
    text itself never moves."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, k=3, n_hashes=8, band_size=2)
    cc = dedup.connected_components(pairs)
    j = cc.join(docs.select("doc_id", "n_chars"), "doc_id")
    wc = W.partitionBy("component")
    wr = W.partitionBy("component").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        j.withColumn("n_members", F.count("*").over(wc))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("keeper_doc_id"),
            "n_members",
            F.col("n_chars").alias("kept_chars"),
        )
    )


@register(
    "embedding_ivfpq_ann",
    oracle="""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb,
                   list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS nrm
            FROM embeddings
        ),
        segs AS (
            SELECT e.vec_id, s.seg, e.emb[s.seg*16+1 : s.seg*16+16] AS vseg
            FROM e, (SELECT unnest([0,1,2,3]) AS seg) s
        ),
        cb AS (SELECT vec_id AS cent_id, seg, vseg AS cseg FROM segs WHERE vec_id < 16),
        passign AS (
            SELECT vec_id, seg, cseg FROM (
                SELECT s.vec_id, s.seg, c.cseg,
                       row_number() OVER (
                           PARTITION BY s.vec_id, s.seg
                           ORDER BY round(list_inner_product(s.vseg, s.vseg)
                                          - 2*list_inner_product(s.vseg, c.cseg)
                                          + list_inner_product(c.cseg, c.cseg), 4) ASC,
                                    c.cent_id
                       ) AS rn
                FROM segs s JOIN cb c ON s.seg = c.seg
            ) WHERE rn = 1
        ),
        recon AS (
            SELECT vec_id, flatten(list(cseg ORDER BY seg)) AS recon
            FROM passign GROUP BY vec_id
        ),
        r AS (SELECT vec_id, recon, list_inner_product(recon, recon) AS rnrm FROM recon),
        c AS (SELECT vec_id AS cent_id, emb AS cemb, nrm AS cnrm FROM e WHERE vec_id < 16),
        cells AS (
            SELECT vec_id, cent_id AS cell FROM (
                SELECT e.vec_id, c.cent_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(list_inner_product(e.emb, c.cemb)
                                          / sqrt(e.nrm * c.cnrm), 4) DESC, c.cent_id
                       ) AS rn
                FROM e, c
            ) WHERE rn = 1
        ),
        q AS (SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm FROM e WHERE vec_id < 8),
        probes AS (
            SELECT query_id, qemb, qnrm, cent_id AS cell FROM (
                SELECT q.query_id, q.qemb, q.qnrm, c.cent_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY round(list_inner_product(q.qemb, c.cemb)
                                          / sqrt(q.qnrm * c.cnrm), 4) DESC, c.cent_id
                       ) AS rn
                FROM q, c
            ) WHERE rn <= 2
        ),
        cand AS (
            SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
                   round(list_inner_product(p.qemb, r.recon)
                         / sqrt(p.qnrm * r.rnrm), 4) AS approx_cos
            FROM cells a
            JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id
            JOIN r ON r.vec_id = a.vec_id
        )
        SELECT query_id, neighbor_id, approx_cos,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY approx_cos DESC, neighbor_id
               )::BIGINT AS rnk
        FROM cand
        QUALIFY rnk <= 3
    """,
    tags=("llm", "similarity"),
)
def embedding_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ: queries probe their 2 nearest coarse cells and candidates
    inside those cells are scored against PQ reconstructions (ADC) —
    the composed FAISS-style index (coarse cells prune the corpus read,
    PQ codes shrink what's read to m bytes/vector).  Composes the
    verified `embedding_ivf_ann` cell machinery with the verified
    `embedding_pq_*` codebook."""
    return similarity.ivfpq_ann(
        load_table(spark, sf_dir, "embeddings"),
        n_query_vecs=8, k=3, n_centroids=16, nprobe=2, m=4, n_sub=16, dims=64,
    )


def _mmr_oracle(k: int = 5, lam: float = 0.7, n_cand: int = 20) -> str:
    """Unrolled-CTE oracle for the greedy MMR selection: one CTE pair
    (pick, accumulated-selection) per round, same pattern as
    trade_pagerank's unrolled iterations.  λ and 1−λ are emitted with
    repr() so both engines multiply by the bit-identical double."""
    ip = "list_inner_product"
    parts = [
        f"e AS ({_EMB})",
        "q AS (SELECT emb AS qemb FROM e WHERE vec_id = 0)",
        f"""cand AS (
            SELECT e.vec_id,
                   round({ip}(q.qemb, e.emb) /
                         sqrt({ip}(q.qemb, q.qemb) * {ip}(e.emb, e.emb)), 6) AS qsim
            FROM e, q WHERE e.vec_id <> 0
            ORDER BY qsim DESC, e.vec_id LIMIT {n_cand}
        )""",
        "ce AS (SELECT c.vec_id, e.emb FROM cand c JOIN e USING (vec_id))",
        f"""ps AS (
            SELECT a.vec_id AS av, b.vec_id AS bv,
                   round({ip}(a.emb, b.emb) /
                         sqrt({ip}(a.emb, a.emb) * {ip}(b.emb, b.emb)), 6) AS psim
            FROM ce a JOIN ce b ON a.vec_id <> b.vec_id
        )""",
        f"""s1 AS (
            SELECT 1::BIGINT AS rnk, vec_id, qsim,
                   round({lam!r}::DOUBLE * qsim, 6) AS mmr_score
            FROM cand ORDER BY mmr_score DESC, vec_id LIMIT 1
        )""",
        "sel1 AS (SELECT * FROM s1)",
    ]
    for step in range(2, k + 1):
        parts.append(f"""s{step} AS (
            SELECT {step}::BIGINT AS rnk, c.vec_id, c.qsim,
                   round({lam!r}::DOUBLE * c.qsim - {1 - lam!r}::DOUBLE * coalesce((
                       SELECT max(ps.psim) FROM ps
                       WHERE ps.av = c.vec_id
                         AND ps.bv IN (SELECT vec_id FROM sel{step - 1})
                   ), 0), 6) AS mmr_score
            FROM cand c
            WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{step - 1})
            ORDER BY mmr_score DESC, c.vec_id LIMIT 1
        )""")
        parts.append(
            f"sel{step} AS (SELECT * FROM sel{step - 1} UNION ALL SELECT * FROM s{step})"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT rnk, vec_id, qsim, mmr_score FROM sel{k}"
    )


@register(
    "embedding_mmr_topk",
    oracle=_mmr_oracle(),
    tags=("llm", "similarity", "iterative"),
)
def embedding_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified top-5 for query vector 0:
    one corpus-scale relevance pass cuts to 20 candidates
    (TakeOrderedAndProject), then the greedy λ·relevance −
    (1−λ)·max-redundancy selection runs entirely on the constant-size
    candidate set (aggregate-big/iterate-small).  The diversity-aware
    retrieval step of a RAG stack, sitting downstream of the ANN
    candidate generators."""
    return similarity.mmr_select(
        load_table(spark, sf_dir, "embeddings"),
        query_vec_id=0, n_candidates=20, k=5, lam=0.7,
    )


@register(
    "ann_recall_eval",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, emb, {similarity.lsh_bucket_sql('emb')} AS bucket
            FROM ({_EMB})
        ),
        q AS (SELECT vec_id AS query_id, emb AS qemb, bucket AS qbucket
              FROM e WHERE vec_id < 8),
        exact AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY round(list_inner_product(q.qemb, e.emb) /
                                 sqrt(list_inner_product(q.qemb, q.qemb)
                                      * list_inner_product(e.emb, e.emb)), 4)
                                 DESC, e.vec_id
                       ) AS rnk
                FROM e, q WHERE e.vec_id <> q.query_id
            ) WHERE rnk <= 3
        ),
        ann AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY round(list_inner_product(q.qemb, e.emb) /
                                 sqrt(list_inner_product(q.qemb, q.qemb)
                                      * list_inner_product(e.emb, e.emb)), 4)
                                 DESC, e.vec_id
                       ) AS rnk
                FROM e JOIN q ON e.bucket = q.qbucket AND e.vec_id <> q.query_id
            ) WHERE rnk <= 3
        )
        SELECT ex.query_id,
               count(*)::BIGINT AS n_exact,
               sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_hits,
               round(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                     * 1.0 / count(*), 6) AS recall
        FROM exact ex
        LEFT JOIN ann a
          ON a.query_id = ex.query_id AND a.neighbor_id = ex.neighbor_id
        GROUP BY ex.query_id
    """,
    tags=("llm", "similarity", "eval"),
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the LSH ANN index against the exact brute-force
    baseline, per query — the evaluation harness that makes the ANN
    quality/latency trade-off measurable instead of asserted.  Both
    sub-pipelines are the already-verified operators (brute_force_knn,
    lsh_ann) joined on (query, neighbor); recall = |ANN ∩ exact|/k.

    Scale shape: the exact arm is the one intentionally corpus-scale
    pass (the baseline you run on a SAMPLE at 100 TB — the eval
    doesn't need the full corpus, just a representative slice); the
    ANN arm and the comparison join are bucket-pruned and
    result-sized."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.brute_force_knn(emb, n_query_vecs=8, k=3).select(
        "query_id", "neighbor_id"
    )
    ann = similarity.lsh_ann(emb, n_query_vecs=8, k=3).select(
        F.col("query_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
    )
    return (
        exact.join(
            ann,
            (F.col("query_id") == F.col("a_qid"))
            & (F.col("neighbor_id") == F.col("a_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.sum(
                F.when(F.col("a_nid").isNotNull(), 1).otherwise(0)
            ).alias("n_hits"),
            F.round(
                F.sum(F.when(F.col("a_nid").isNotNull(), 1).otherwise(0))
                * 1.0
                / F.count("*"),
                6,
            ).alias("recall"),
        )
    )
