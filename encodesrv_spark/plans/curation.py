"""Data-curation queries for training-data pipelines, round 3:
rule-based quality gating (Gopher-style), BPE merge statistics, Zipf
law fitting, Johnson-Lindenstrauss projection, and SemDeDup-style
semantic pruning.

Same conventions as plans/corpus.py: DuckDB oracles share every
constant with the Spark plan, floats are rounded identically on BOTH
sides before any ranking or threshold, and document pipelines go
through ``dedup.fan_out`` so a single small parquet file still
parallelizes.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from encodesrv_spark.catalog import load_table, table_rows
from encodesrv_spark.functions.text import TOKS_NE_SQL, tokens_ne
from encodesrv_spark.operators import dedup, similarity
from encodesrv_spark.plans.corpus import (
    _DOC_SHINGLES5,
    _kmeans_assign_sql,
    _kmeans_update_sql,
)
from encodesrv_spark.plans.llm import _SHINGLES3, _SIG8
from encodesrv_spark.plans.registry import register

_EMB = "SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings"

# Gopher-style gate constants (Rae et al. 2021 §A1.1, adapted to this
# corpus's word-salad geometry so each rule actually discriminates —
# the real thresholds are noted inline).
_W_MIN, _W_MAX = 20, 90          # Gopher: 50..100_000 words
_WLEN_MIN, _WLEN_MAX = 3.0, 10.0  # Gopher: mean word length 3..10
_TTR_MIN = 0.35                   # stand-in for Gopher's dup-fraction rules
_STOP_MIN = 2                     # Gopher: >= 2 distinct stop words
_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


@register(
    "gopher_quality_flags",
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   len({TOKS_NE_SQL})::BIGINT AS n_words,
                   round(length(regexp_replace(text, '\\s', '', 'g')) * 1.0
                         / len({TOKS_NE_SQL}), 4) AS mean_wlen,
                   round(len(list_distinct({TOKS_NE_SQL})) * 1.0
                         / len({TOKS_NE_SQL}), 4) AS ttr,
                   len(list_distinct(list_filter({TOKS_NE_SQL},
                       t -> t IN {_STOPWORDS!r})))::BIGINT AS n_stop_types
            FROM documents
        )
        SELECT doc_id, n_words, mean_wlen, ttr, n_stop_types,
               (n_words BETWEEN {_W_MIN} AND {_W_MAX}) AS f_words,
               (mean_wlen BETWEEN {_WLEN_MIN} AND {_WLEN_MAX}) AS f_wlen,
               (ttr >= {_TTR_MIN}) AS f_ttr,
               (n_stop_types >= {_STOP_MIN}) AS f_stop,
               ((n_words BETWEEN {_W_MIN} AND {_W_MAX})
                AND (mean_wlen BETWEEN {_WLEN_MIN} AND {_WLEN_MAX})
                AND (ttr >= {_TTR_MIN})
                AND (n_stop_types >= {_STOP_MIN})) AS keep
        FROM m
    """,
    tags=("llm", "quality"),
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality gate: per-document word count,
    mean word length, type-token ratio, and distinct-stopword coverage
    each become a boolean flag; `keep` is their conjunction — the
    document-level filter step every pre-training pipeline runs before
    dedup.  Pure per-row expressions: zero shuffles, whole-stage
    codegen end to end, filters push to the scan when composed."""
    d = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    toks = tokens_ne()
    n_words = F.size(toks).cast("long")
    mean_wlen = F.round(
        F.length(F.regexp_replace("text", r"\s", "")) * F.lit(1.0) / n_words, 4
    )
    ttr = F.round(F.size(F.array_distinct(toks)) * F.lit(1.0) / n_words, 4)
    n_stop = F.size(
        F.array_distinct(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    ).cast("long")
    m = d.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wlen.alias("mean_wlen"),
        ttr.alias("ttr"),
        n_stop.alias("n_stop_types"),
    )
    f_words = F.col("n_words").between(_W_MIN, _W_MAX)
    f_wlen = F.col("mean_wlen").between(_WLEN_MIN, _WLEN_MAX)
    f_ttr = F.col("ttr") >= _TTR_MIN
    f_stop = F.col("n_stop_types") >= _STOP_MIN
    return m.select(
        "*",
        f_words.alias("f_words"),
        f_wlen.alias("f_wlen"),
        f_ttr.alias("f_ttr"),
        f_stop.alias("f_stop"),
        (f_words & f_wlen & f_ttr & f_stop).alias("keep"),
    )


@register(
    "bpe_pair_stats",
    oracle=f"""
        WITH d AS (SELECT {TOKS_NE_SQL} AS t FROM documents),
        p AS (
            SELECT t[i] || ' ' || t[i + 1] AS pair
            FROM d, LATERAL (
                SELECT unnest(generate_series(1, len(t) - 1)) AS i
            )
        )
        SELECT pair, count(*)::BIGINT AS n
        FROM p GROUP BY pair
        ORDER BY n DESC, pair LIMIT 20
    """,
    tags=("llm", "text"),
)
def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent adjacent token pairs — the statistic the first
    BPE merge step maximizes (Sennrich et al. 2016); re-run on each
    merged vocabulary this IS tokenizer training.  Pair generation is
    a per-row array transform (no self-join); the count is map-side
    partial-aggregated on the pair key, and the top-20 is
    TakeOrderedAndProject over the vocab²-bounded aggregate, never a
    global sort of the corpus."""
    d = (
        dedup.fan_out(load_table(spark, sf_dir, "documents"))
        .select(tokens_ne().alias("t"))
        .filter(F.size("t") >= 2)
    )
    # Spark SQL array indexing is 0-based (DuckDB's is 1-based): the
    # i-th pair is (t[i-1], t[i]) for i in 1..len-1 on both engines.
    pairs = d.select(
        F.explode(
            F.expr("transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


def _pairs_sql(src: str) -> str:
    """Adjacent-token-pair stream over `src` (a FROM-able relation with
    a `text` column) — shared by bpe_pair_stats and bpe_merge_step."""
    return f"""
            SELECT t[i] || ' ' || t[i + 1] AS pair
            FROM (SELECT {TOKS_NE_SQL} AS t FROM {src}), LATERAL (
                SELECT unnest(generate_series(1, len(t) - 1)) AS i
            )
    """


@register(
    "bpe_merge_step",
    oracle=f"""
        WITH top1 AS (
            SELECT pair FROM ({_pairs_sql('documents')})
            GROUP BY pair ORDER BY count(*) DESC, pair LIMIT 1
        ),
        merged AS (
            SELECT replace(text, (SELECT pair FROM top1),
                           replace((SELECT pair FROM top1), ' ', '_')) AS text
            FROM documents
        )
        SELECT (SELECT pair FROM top1) AS merged_pair, pair, count(*)::BIGINT AS n
        FROM ({_pairs_sql('merged')})
        GROUP BY pair ORDER BY n DESC, pair LIMIT 20
    """,
    tags=("llm", "text"),
)
def bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full BPE training iteration: find the most frequent adjacent
    pair, merge it corpus-wide (greedy leftmost non-overlapping — the
    semantics string replace has in BOTH engines), and emit the
    post-merge top-20 pair statistics.  Iterating this to a vocab
    budget IS tokenizer training.

    The winning pair reaches the merge pass as a SCALAR SUBQUERY
    (`DataFrame.scalar()`, same mechanism as the Bloom bit-array
    publish): no collect, no driver round-trip in the plan — the
    re-count is a second corpus scan whose filter constant Spark
    evaluates once.  Both passes keep the map-side-combined
    pair-count shape of bpe_pair_stats."""
    docs = dedup.fan_out(load_table(spark, sf_dir, "documents"))

    def pair_counts(frame: DataFrame) -> DataFrame:
        d = frame.select(tokens_ne().alias("t")).filter(F.size("t") >= 2)
        return (
            d.select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"
                    )
                ).alias("pair")
            )
            .groupBy("pair")
            .agg(F.count("*").alias("n"))
        )

    # Materialize the 1-row winner BEFORE lifting it to a scalar: the
    # subquery is referenced three times (replace pattern, replacement
    # text, output column) and ReuseSubquery does not deduplicate them
    # — unmaterialized, the executed plan replayed the full corpus
    # tokenize+pair pipeline once per reference (4 extra scans).  With
    # the checkpoint each reference scans a 1-row RDD and the corpus is
    # paired exactly twice: the find pass and the post-merge recount —
    # the irreducible two passes of a BPE step.
    top1 = (
        pair_counts(docs)
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(1)
        .select("pair")
        .localCheckpoint(eager=True)
        .scalar()
    )
    merged = docs.select(
        F.replace(F.col("text"), top1, F.replace(top1, F.lit(" "), F.lit("_"))).alias(
            "text"
        )
    )
    return (
        pair_counts(merged)
        .select(top1.alias("merged_pair"), "pair", "n")
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


@register(
    "token_zipf_fit",
    oracle=f"""
        WITH tok AS (
            SELECT unnest({TOKS_NE_SQL}) AS w FROM documents
        ),
        freq AS (SELECT w, count(*)::BIGINT AS cnt FROM tok GROUP BY w),
        ranked AS (
            SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rnk
            FROM freq
        )
        SELECT count(*)::BIGINT AS n_types,
               sum(cnt)::BIGINT AS n_tokens,
               round(regr_slope(ln(cnt), ln(rnk)), 4) AS zipf_slope,
               round(regr_intercept(ln(cnt), ln(rnk)), 4) AS zipf_intercept,
               round(regr_r2(ln(cnt), ln(rnk)), 4) AS zipf_r2
        FROM ranked
    """,
    tags=("llm", "text"),
)
def token_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the token frequency table: least-squares
    slope/intercept/R² of log-frequency on log-rank.  Natural corpora
    fit slope ≈ -1; a flat slope (like this synthetic word salad) is
    itself the quality signal — it flags machine-generated or
    template text.  One corpus-scale (token) aggregate; the regression
    runs over the vocab-sized ranked frame as single-pass moment
    sketches (regr_*), and the rank window sorts vocab rows, never
    corpus rows."""
    tok = (
        dedup.fan_out(load_table(spark, sf_dir, "documents"))
        .select(F.explode(tokens_ne()).alias("w"))
    )
    freq = tok.groupBy("w").agg(F.count("*").alias("cnt"))
    from pyspark.sql import Window as W

    ranked = freq.select(
        "cnt",
        F.row_number()
        .over(W.orderBy(F.desc("cnt"), F.asc("w")))
        .alias("rnk"),
    )
    lc, lr = F.log(F.col("cnt")), F.log(F.col("rnk"))
    return ranked.agg(
        F.count("*").alias("n_types"),
        F.sum("cnt").alias("n_tokens"),
        F.round(F.regr_slope(lc, lr), 4).alias("zipf_slope"),
        F.round(F.regr_intercept(lc, lr), 4).alias("zipf_intercept"),
        F.round(F.regr_r2(lc, lr), 4).alias("zipf_r2"),
    )


# --- Johnson-Lindenstrauss projection ---------------------------------------

_JL_K = 16  # output dims; sqrt(_JL_K) scaling keeps E[||p||²] = ||v||²
_JL_D = 64


def _jl_sign(i: int, j: int) -> float:
    """±1 from the same md5-derived 60-bit hash both engines compute
    (functions/hashing.py contract), on the string 'i:j' with i the
    1-based input dim and j the 0-based output dim."""
    h = int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:15], 16)
    return 1.0 if h % 2 == 0 else -1.0


_JL_SIGNS = [
    [_jl_sign(i, j) for i in range(1, _JL_D + 1)] for j in range(_JL_K)
]


@register(
    "embedding_jl_projection",
    oracle=f"""
        WITH e AS ({_EMB}),
        signs AS (
            SELECT i, j,
                   CASE WHEN (('0x' || substr(md5(concat(i::VARCHAR, ':', j::VARCHAR)), 1, 15))::BIGINT) % 2 = 0
                        THEN 1.0 ELSE -1.0 END AS s
            FROM (SELECT unnest(generate_series(1, {_JL_D})) AS i),
                 (SELECT unnest(generate_series(0, {_JL_K - 1})) AS j)
        ),
        proj AS (
            SELECT e.vec_id, sg.j, round(sum(e.emb[sg.i] * sg.s), 6) AS p
            FROM e, signs sg
            WHERE sg.i <= len(e.emb)
            GROUP BY e.vec_id, sg.j
        ),
        nrm AS (SELECT vec_id, list_inner_product(emb, emb) AS o FROM e)
        SELECT p.vec_id AS vec_id,
               round(n.o, 4) AS orig_nrm2,
               round(sum(p.p * p.p) / {_JL_K}.0, 4) AS proj_nrm2,
               round(sum(p.p * p.p) / {_JL_K}.0 / n.o, 4) AS distortion
        FROM proj p JOIN nrm n ON p.vec_id = n.vec_id
        GROUP BY p.vec_id, n.o
    """,
    tags=("llm", "similarity"),
)
def embedding_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64→16 dims with a
    deterministic ±1 sign matrix (Achlioptas 2003 database-friendly
    variant; signs derive from the cross-engine md5 hash so the DuckDB
    oracle replays them exactly).  Emits per-vector squared norms
    before/after and the distortion ratio — the JL lemma says the
    ratio concentrates around 1, which the companion test asserts.

    Scale shape: the sign matrix is a CONSTANT (embedded as literal
    arrays, the same trick as the LSH hyperplanes), so the projection
    is 16 per-row dot products inside whole-stage codegen — zero
    shuffles, zero joins, no Python.  The oracle's (i,j) join form is
    the same arithmetic, just unrolled relationally."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", similarity._as_double("embedding").alias("emb")
    )
    p_cols = _jl_p_cols()
    orig = similarity.sq_norm(F.col("emb"))
    proj = e.select("vec_id", orig.alias("o"), *p_cols)
    psum = sum(F.col(f"p{j}") * F.col(f"p{j}") for j in range(_JL_K))
    return proj.select(
        "vec_id",
        F.round(F.col("o"), 4).alias("orig_nrm2"),
        F.round(psum / _JL_K, 4).alias("proj_nrm2"),
        F.round(psum / _JL_K / F.col("o"), 4).alias("distortion"),
    )




@register(
    "neardup_containment",
    # same stop-shingle df-cap discipline as neardup_jaccard
    oracle=f"""
        WITH idx0 AS MATERIALIZED (SELECT doc_id, s FROM ({_SHINGLES3})),
        idx AS MATERIALIZED (
            SELECT doc_id, s FROM idx0
            WHERE s IN (SELECT s FROM idx0 GROUP BY s HAVING count(*) <= 10000)
        ),
        sizes AS MATERIALIZED (SELECT doc_id, count(*) AS c FROM idx GROUP BY 1),
        common AS MATERIALIZED (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
            FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(common * 1.0 / sa.c, 4) AS c_ab,
               round(common * 1.0 / sb.c, 4) AS c_ba,
               round(common * 1.0 / (sa.c + sb.c - common), 4) AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE greatest(round(common * 1.0 / sa.c, 4),
                       round(common * 1.0 / sb.c, 4)) >= 0.8
    """,
    tags=("llm", "dedup"),
)
def neardup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup pairs — catches a short document
    fully quoted inside a longer one, where C(A→B) = |A∩B|/|A| ≈ 1 but
    Jaccard ≈ |A|/|B| ≈ 0 (the sub-document-inclusion case Jaccard
    structurally misses; Broder's containment measure).  Shares the
    inverted-index self-join and df-cap machinery with neardup_jaccard;
    only the normalization differs.  The planted-inclusion unit test
    pins the asymmetric case this corpus's exact-copy dups can't."""
    return dedup.containment_pairs(
        load_table(spark, sf_dir, "documents"),
        k=3,
        threshold=0.8,
        df_cap=10000,
        n_docs=table_rows(sf_dir, "documents"),
    )


# the (source, shingle) stream is corpus._DOC_SHINGLES5 minus doc_id —
# ONE tokenization fragment to keep in sync, not three
_SRC_SHINGLES5 = f"SELECT source, s FROM ({_DOC_SHINGLES5})"


@register(
    "source_overlap_matrix",
    oracle=f"""
        WITH d AS (SELECT DISTINCT source, s FROM ({_SRC_SHINGLES5})),
        p AS (
            SELECT a.source AS src_a, b.source AS src_b
            FROM d a JOIN d b ON a.s = b.s AND a.source < b.source
        )
        SELECT src_a, src_b, count(*)::BIGINT AS shared_shingles
        FROM p GROUP BY src_a, src_b
    """,
    tags=("llm", "dedup", "quality"),
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, the
    number of distinct 5-gram shingles they share — the artifact that
    tells a curation team WHICH feeds mirror each other (syndication,
    scrapes of scrapes) before any doc-level dedup runs.

    Scale shape: the shingle hash is the join key and the pair blowup
    is bounded by sources² per shingle (source cardinality, not corpus
    cardinality); the (source, shingle) frame is de-duplicated BEFORE
    the self-join so each source contributes one row per shingle.  At
    100 TB a df-cap on universally-shared shingles (the jaccard_pairs
    stop-shingle rule) bounds the hot keys; at test SF every shingle
    is under any sane cap."""
    d = (
        dedup.fan_out(load_table(spark, sf_dir, "documents"))
        .select(
            "source",
            F.explode_outer(
                F.array_distinct(dedup.word_shingles("text", 5))
            ).alias("sh"),
        )
        .filter(F.col("sh").isNotNull())
    )
    # 128-bit hash, not xxhash64: unlike jaccard_pairs (where the hash
    # is join-internal and only co-occurrence COUNTS survive), here the
    # count of DISTINCT hashes IS the reported metric, so a 64-bit
    # birthday collision at corpus scale would undercount it
    s = d.select("source", F.md5("sh").alias("h")).distinct()
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("shared_shingles"))
    )


@register(
    "embedding_dim_stats",
    oracle=f"""
        WITH e AS ({_EMB}),
        x AS (
            SELECT d.dim, e.emb[d.dim] AS v
            FROM e, (SELECT unnest(generate_series(1, {_JL_D})) AS dim) d
        )
        SELECT dim::BIGINT AS dim,
               round(avg(v), 6) AS mu,
               round(stddev_pop(v), 6) AS sd,
               round(min(v), 6) AS lo,
               round(max(v), 6) AS hi
        FROM x GROUP BY dim
    """,
    tags=("llm", "similarity"),
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/stddev/min/max over the embedding corpus —
    the fitted standard scaler (and the sanity report that catches a
    dead or exploding dimension after an encoder change).  One
    posexplode + one (dim)-keyed aggregate, partially aggregated
    map-side: the shuffle carries 64 moment tuples per partition, and
    the output is dims-sized regardless of corpus size."""
    e = load_table(spark, sf_dir, "embeddings").select(
        similarity._as_double("embedding").alias("emb")
    )
    return (
        e.select(F.posexplode("emb").alias("dim0", "v"))
        .select((F.col("dim0") + 1).cast("long").alias("dim"), "v")
        .groupBy("dim")
        .agg(
            # determinism adjudication: v is CONTINUOUS float32 data
            # (no exact fixed-point form); per-dim drift is ~1e-15
            # relative against the 5e-7 quantum of the 6-dp round —
            # accepted rather than quantized (quantization would
            # change the registered values for negligible risk)
            F.round(F.avg("v"), 6).alias("mu"),
            F.round(F.stddev_pop("v"), 6).alias("sd"),
            F.round(F.min("v"), 6).alias("lo"),
            F.round(F.max("v"), 6).alias("hi"),
        )
    )


def _jl_p_cols() -> list:
    """The 16 projected components as rounded codegen'd dot products
    against constant sign arrays (shared by the projection query and
    the JL-ANN coarse scorer)."""
    return [
        F.round(
            similarity.dot(
                F.col("emb"), F.array(*[F.lit(s) for s in _JL_SIGNS[j]])
            ),
            6,
        ).alias(f"p{j}")
        for j in range(_JL_K)
    ]


_JL_SIGNS_SQL = f"""
            SELECT i, j,
                   CASE WHEN (('0x' || substr(md5(concat(i::VARCHAR, ':', j::VARCHAR)), 1, 15))::BIGINT) % 2 = 0
                        THEN 1.0 ELSE -1.0 END AS s
            FROM (SELECT unnest(generate_series(1, {_JL_D})) AS i),
                 (SELECT unnest(generate_series(0, {_JL_K - 1})) AS j)
"""

_JL_NQ = 8       # query vectors (vec_id < 8, same stand-in as other ANN ops)
_JL_SHORTLIST = 10  # coarse candidates per query before exact rerank
_JL_TOPK = 3


@register(
    "embedding_jl_ann",
    oracle=f"""
        WITH e AS ({_EMB}),
        signs AS ({_JL_SIGNS_SQL}),
        proj AS (
            SELECT vec_id, list(p ORDER BY j) AS pvec FROM (
                SELECT e.vec_id, sg.j, round(sum(e.emb[sg.i] * sg.s), 6) AS p
                FROM e, signs sg
                WHERE sg.i <= len(e.emb)
                GROUP BY e.vec_id, sg.j
            ) GROUP BY vec_id
        ),
        q AS (SELECT vec_id AS query_id, pvec AS qpvec FROM proj WHERE vec_id < {_JL_NQ}),
        coarse AS (
            SELECT q.query_id, p.vec_id AS neighbor_id,
                   round(list_inner_product(q.qpvec, p.pvec)
                         / sqrt(list_inner_product(q.qpvec, q.qpvec)
                                * list_inner_product(p.pvec, p.pvec)), 4) AS pcos,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(list_inner_product(q.qpvec, p.pvec)
                                      / sqrt(list_inner_product(q.qpvec, q.qpvec)
                                             * list_inner_product(p.pvec, p.pvec)), 4) DESC,
                                p.vec_id
                   ) AS crn
            FROM q JOIN proj p ON p.vec_id <> q.query_id
            QUALIFY crn <= {_JL_SHORTLIST}
        )
        SELECT query_id, neighbor_id,
               round(list_inner_product(eq.emb, en.emb)
                     / sqrt(list_inner_product(eq.emb, eq.emb)
                            * list_inner_product(en.emb, en.emb)), 4) AS cos_sim,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY round(list_inner_product(eq.emb, en.emb)
                                  / sqrt(list_inner_product(eq.emb, eq.emb)
                                         * list_inner_product(en.emb, en.emb)), 4) DESC,
                            neighbor_id
               )::BIGINT AS rnk
        FROM coarse
        JOIN e eq ON eq.vec_id = coarse.query_id
        JOIN e en ON en.vec_id = coarse.neighbor_id
        QUALIFY rnk <= {_JL_TOPK}
    """,
    tags=("llm", "similarity"),
)
def embedding_jl_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN through the JL bottleneck: coarse cosine in the 16-dim
    projected space shortlists 10 candidates per query, then exact
    64-dim cosine re-ranks the shortlist to top-3.

    The scale story the projection exists for: the coarse pass scans
    4× fewer bytes per vector (16 rounded doubles vs 64) with 4× less
    arithmetic — at 100 TB the projected table is the one you store
    hot and scan, and only the shortlist (queries × 10 rows) ever
    touches full-precision vectors, via a key-lookup join AQE turns
    into a broadcast of the shortlist side."""
    return jl_ann(load_table(spark, sf_dir, "embeddings"))


def jl_ann(
    embeddings: DataFrame,
    n_query_vecs: int = _JL_NQ,
    shortlist: int = _JL_SHORTLIST,
    k: int = _JL_TOPK,
) -> DataFrame:
    """The JL-shortlist ANN as a reusable operator (see
    `embedding_jl_ann` for semantics and scale accounting).  Recall
    depends on corpus structure: true near-duplicates (cos ≈ 1)
    survive the projection essentially always (multiplicative JL
    distortion), while ranking among near-orthogonal noise does not —
    the planted-duplicate test asserts the former, the recall harness
    measures the latter."""
    from pyspark.sql import Window as W

    # materialize the shared projection ONCE: the coarse corpus side,
    # the query side, and both rerank lookups all derive from it —
    # without the checkpoint the embeddings scan replays 4x (same fix
    # as ivf_ann's _norm_projection materialization)
    e = embeddings.select(
        "vec_id", similarity._as_double("embedding").alias("emb")
    ).localCheckpoint(eager=True)
    # projected frame: (vec_id, pvec); built once, used for queries and corpus
    proj = e.select("vec_id", *_jl_p_cols()).select(
        "vec_id", F.array(*[F.col(f"p{j}") for j in range(_JL_K)]).alias("pvec")
    )
    q = proj.filter(F.col("vec_id") < n_query_vecs).select(
        F.col("vec_id").alias("query_id"), F.col("pvec").alias("qpvec")
    )
    pcos = F.round(
        similarity.dot(F.col("qpvec"), F.col("pvec"))
        / F.sqrt(
            similarity.dot(F.col("qpvec"), F.col("qpvec"))
            * similarity.dot(F.col("pvec"), F.col("pvec"))
        ),
        4,
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("pcos"), F.asc("neighbor_id"))
    coarse = (
        proj.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            pcos.alias("pcos"),
        )
        .withColumn("crn", F.row_number().over(wq))
        .filter(F.col("crn") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    eq = e.select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb"))
    en = e.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("nemb"))
    exact = F.round(
        similarity.dot(F.col("qemb"), F.col("nemb"))
        / F.sqrt(
            similarity.dot(F.col("qemb"), F.col("qemb"))
            * similarity.dot(F.col("nemb"), F.col("nemb"))
        ),
        4,
    )
    wr = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        coarse.join(eq, "query_id")
        .join(en, "neighbor_id")
        .select("query_id", "neighbor_id", exact.alias("cos_sim"))
        .withColumn("rnk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rnk") <= k)
    )


_SEMDEDUP_THRESHOLD = 0.25  # synthetic near-orthogonal corpus; ~0.9 in prod
_SEMDEDUP_TARGET = 64  # target cluster size: k = max(8, ceil(n/64)) on BOTH engines


@register(
    "semdedup_prune",
    oracle=f"""
        WITH e AS ({_EMB}),
        kp AS (SELECT greatest(8, (count(*) + {_SEMDEDUP_TARGET} - 1)
                                  // {_SEMDEDUP_TARGET}) AS k
               FROM e),
        c0 AS (SELECT vec_id AS cid, emb AS cemb FROM e
               WHERE vec_id < (SELECT k FROM kp)),
        {_kmeans_assign_sql('c0', 'a1')},
        {_kmeans_update_sql('a1', 'c1')},
        {_kmeans_assign_sql('c1', 'a2')},
        m AS (
            SELECT vec_id, emb, cid, list_inner_product(emb, emb) AS nrm
            FROM a2
        ),
        pairs AS (
            SELECT a.cid, b.vec_id AS drop_id,
                   round(list_inner_product(a.emb, b.emb)
                         / sqrt(a.nrm * b.nrm), 4) AS cos_sim
            FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id
            WHERE round(list_inner_product(a.emb, b.emb)
                        / sqrt(a.nrm * b.nrm), 4) >= {_SEMDEDUP_THRESHOLD}
        ),
        drops AS (SELECT DISTINCT cid, drop_id FROM pairs)
        SELECT m.cid AS cluster_id, count(*)::BIGINT AS n_members,
               count(d.drop_id)::BIGINT AS n_dropped,
               round(1.0 - count(d.drop_id) * 1.0 / count(*), 4) AS keep_rate
        FROM m LEFT JOIN drops d
            ON m.cid = d.cid AND m.vec_id = d.drop_id
        GROUP BY m.cid
    """,
    tags=("llm", "dedup", "similarity"),
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic pruning: k-means clusters (the deterministic
    Lloyd operator the `embedding_kmeans` oracle already unrolls) block
    the candidate space, intra-cluster cosine pairs ≥ threshold mark
    drops, and the output is per-cluster keep statistics.

    k is DERIVED from corpus size on both engines — k = max(8,
    ceil(n/64)) (similarity.derive_k; the oracle's `kp` CTE) — so the
    intra-cluster pair pass is O(N·64), not the O(N²/8) the fixed k=8
    form degraded to at scale (round-3 verdict).  At the driver's
    sf0.01 (n=500) the derived k is exactly 8, keeping the oracle's
    unrolled Lloyd CTEs on the same seed set as before."""
    return similarity.semdedup(
        load_table(spark, sf_dir, "embeddings"),
        k=8,
        iters=2,
        threshold=_SEMDEDUP_THRESHOLD,
        target_cluster_size=_SEMDEDUP_TARGET,
        n_vecs=table_rows(sf_dir, "embeddings"),
    )


@register(
    "corpus_train_order",
    oracle="""
        WITH q AS (
            SELECT quantile_cont(n_chars, 0.25) AS q1,
                   quantile_cont(n_chars, 0.5) AS q2,
                   quantile_cont(n_chars, 0.75) AS q3
            FROM documents
        ),
        b AS (
            SELECT d.doc_id,
                   (('0x' || substr(md5(concat('ord:', d.doc_id::VARCHAR)), 1, 15))::BIGINT) % 8 AS shard,
                   CASE WHEN d.n_chars <= q.q1 THEN 1
                        WHEN d.n_chars <= q.q2 THEN 2
                        WHEN d.n_chars <= q.q3 THEN 3 ELSE 4 END AS band,
                   (('0x' || substr(md5(concat('shuf:', d.doc_id::VARCHAR)), 1, 15))::BIGINT) AS shuf
            FROM documents d, q
        )
        SELECT doc_id, shard::BIGINT AS shard, band::BIGINT AS band,
               row_number() OVER (
                   PARTITION BY shard ORDER BY band, shuf, doc_id
               )::BIGINT AS pos
        FROM b
    """,
    tags=("llm", "pipeline"),
)
def corpus_train_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training curriculum: shard assignment + within-
    shard reading order = (length-quartile band ascending, then a
    content-stable hash shuffle).  Short-to-long curricula and
    reproducible epoch shuffles are both data-ORDER problems — this is
    the op that pins the order without any RNG state (re-runs give
    byte-identical shard files).

    Scale shape: band boundaries come from ONE 3-quantile aggregate
    broadcast back as a 1-row frame (never a global percent_rank sort);
    the only window is per-shard, so each partition sorts its own
    shard — no global ordering of the corpus anywhere."""
    from pyspark.sql import Window as W

    from encodesrv_spark.functions.hashing import stable_hash64

    d = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    q = d.agg(
        F.percentile("n_chars", F.lit(0.25)).alias("q1"),
        F.percentile("n_chars", F.lit(0.5)).alias("q2"),
        F.percentile("n_chars", F.lit(0.75)).alias("q3"),
    )
    b = d.crossJoin(F.broadcast(q)).select(
        "doc_id",
        (
            stable_hash64(F.concat(F.lit("ord:"), F.col("doc_id").cast("string")))
            % 8
        ).alias("shard"),
        F.when(F.col("n_chars") <= F.col("q1"), 1)
        .when(F.col("n_chars") <= F.col("q2"), 2)
        .when(F.col("n_chars") <= F.col("q3"), 3)
        .otherwise(4)
        .cast("long")
        .alias("band"),
        stable_hash64(
            F.concat(F.lit("shuf:"), F.col("doc_id").cast("string"))
        ).alias("shuf"),
    )
    w = W.partitionBy("shard").orderBy("band", "shuf", "doc_id")
    return b.select(
        "doc_id",
        "shard",
        "band",
        F.row_number().over(w).cast("long").alias("pos"),
    )


@register(
    "minhash_estimate_error",
    oracle=f"""
        WITH sig AS MATERIALIZED ({_SIG8}),
        bands AS MATERIALIZED (
            SELECT doc_id, 0 AS band, concat(h0::VARCHAR, '_', h1::VARCHAR) AS key FROM sig
            UNION ALL
            SELECT doc_id, 1, concat(h2::VARCHAR, '_', h3::VARCHAR) FROM sig
            UNION ALL
            SELECT doc_id, 2, concat(h4::VARCHAR, '_', h5::VARCHAR) FROM sig
            UNION ALL
            SELECT doc_id, 3, concat(h6::VARCHAR, '_', h7::VARCHAR) FROM sig
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        ),
        est AS (
            SELECT c.doc_a, c.doc_b,
                   round(((sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT
                        + (sa.h2 = sb.h2)::INT + (sa.h3 = sb.h3)::INT
                        + (sa.h4 = sb.h4)::INT + (sa.h5 = sb.h5)::INT
                        + (sa.h6 = sb.h6)::INT + (sa.h7 = sb.h7)::INT) / 8.0, 4)
                       AS est_jaccard
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.doc_a
            JOIN sig sb ON sb.doc_id = c.doc_b
        ),
        idx0 AS MATERIALIZED (SELECT doc_id, s FROM ({_SHINGLES3})),
        idx AS MATERIALIZED (
            SELECT doc_id, s FROM idx0
            WHERE s IN (SELECT s FROM idx0 GROUP BY s HAVING count(*) <= 10000)
        ),
        sizes AS MATERIALIZED (SELECT doc_id, count(*) AS c FROM idx GROUP BY 1),
        common AS MATERIALIZED (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
            FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        exact AS (
            SELECT doc_a, doc_b,
                   round(common * 1.0 / (sa.c + sb.c - common), 4) AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
        )
        SELECT e.doc_a, e.doc_b, e.est_jaccard,
               coalesce(x.jaccard, 0.0) AS jaccard,
               round(abs(e.est_jaccard - coalesce(x.jaccard, 0.0)), 4) AS abs_err
        FROM est e
        LEFT JOIN exact x ON e.doc_a = x.doc_a AND e.doc_b = x.doc_b
    """,
    tags=("llm", "dedup", "eval"),
)
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality harness for MinHash: for every LSH candidate
    pair, the signature-agreement estimate (matches/8) next to the
    EXACT shingle-set Jaccard and the absolute error — the number that
    justifies (or indicts) an 8-hash signature before anyone dedups a
    100 TB corpus with it.  Completes the measure-your-approximations
    family beside ann_recall_eval (ANN recall) and token_cms_topk
    (CMS over-count).

    Scale shape: candidates come from the banding join (never all
    pairs); the exact-Jaccard side reuses the df-capped inverted-index
    core, and the final join is candidate-sized on both sides.  The
    signature frame is computed ONCE, materialized, and shared by all
    three signature consumers (the banding join and both est-side
    probes) — left lazy, the shingle+KM-hash pass ran three times
    (r09 A/B at sf0.1: ~3.1 s → ~2.6 s warm).  The est arm and the
    exact arm additionally share ONE tokenize+shingle pass via
    ``hashed_shingles`` (r10 §2.3: 24 fixed bytes/shingle of hashes
    materialized once instead of re-tokenizing the corpus per arm);
    the remaining cost is the exact-Jaccard audit arm's df-capped
    inverted-index self-join, which is the thing this query exists to
    measure the estimator against."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = dedup.hashed_shingles(docs, k=3).localCheckpoint(eager=True)
    sig = dedup.minhash_signatures(
        docs, k=3, n_hashes=8, hashed=hashed
    ).localCheckpoint(eager=True)
    cand = dedup.minhash_lsh_pairs(docs, k=3, n_hashes=8, band_size=2, sig=sig)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(8)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(8)],
    )
    matches = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(8)
    )
    est = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(matches / 8.0, 4).alias("est_jaccard"))
    )
    exact = dedup.jaccard_pairs(
        docs,
        k=3,
        threshold=0.0,
        df_cap=10000,
        n_docs=table_rows(sf_dir, "documents"),
        hashed=hashed,
    ).select("doc_a", "doc_b", "jaccard")
    return (
        est.join(exact, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("jaccard"),
            F.round(
                F.abs(F.col("est_jaccard") - F.coalesce(F.col("jaccard"), F.lit(0.0))),
                4,
            ).alias("abs_err"),
        )
    )


@register(
    "simhash_hamming_pairs",
    oracle="""
        WITH th AS (
            SELECT doc_id, (('0x' || substr(md5(tok), 1, 15))::BIGINT) AS h
            FROM (SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\\s+'))) AS tok
                  FROM documents)
        ),
        votes AS (
            SELECT doc_id, b, sum(2 * ((h >> b) & 1) - 1) AS s
            FROM th, (SELECT unnest(generate_series(0, 31)) AS b)
            GROUP BY doc_id, b
        ),
        sig AS (
            SELECT doc_id,
                   sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS sh
            FROM votes GROUP BY doc_id
        ),
        blocks AS (
            SELECT doc_id, i, (sh >> (i * 8)) & 255 AS val, sh
            FROM sig, (SELECT unnest(generate_series(0, 3)) AS i)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                            a.sh AS sa, b.sh AS sb
            FROM blocks a
            JOIN blocks b ON a.i = b.i AND a.val = b.val AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, bit_count(xor(sa, sb))::BIGINT AS hamming
        FROM cand
        WHERE bit_count(xor(sa, sb)) <= 2
    """,
    tags=("llm", "dedup"),
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance 2 via the
    Manku-et-al. pigeonhole multi-index — the apply-side of the
    simhash32 fingerprint: 4 signature blocks bucket the candidates,
    the exact bit-count check runs only inside buckets, and the
    guarantee is exact (no false negatives) up to distance 3.  See
    operators/dedup.simhash_hamming_pairs for the block-width scale
    knob."""
    return dedup.simhash_hamming_pairs(
        load_table(spark, sf_dir, "documents"), bits=32, max_hamming=2, n_blocks=4
    )


@register(
    "embedding_density_clusters",
    oracle=f"""
        WITH RECURSIVE e AS MATERIALIZED (
            SELECT vec_id, emb, ((CASE WHEN list_inner_product(emb, [-0.218, -0.59, 0.762, 0.952, -0.728, 0.045, -0.219, -0.014, -0.113, -0.41, -0.854, -0.575, 0.199, -0.354, -0.614, -0.918, 0.975, 0.735, -0.138, -0.229, 0.861, -0.45, 0.43, 0.671, -0.133, -0.601, 0.77, 0.186, 0.049, -0.706, 0.73, 0.309, -0.957, -0.554, 0.817, 0.972, -0.897, -0.535, 0.077, -0.421, -0.4, 0.645, -0.517, -0.079, 0.522, -0.105, -0.102, -0.972, -0.418, -0.259, -0.767, -0.602, 0.034, -0.877, 0.187, -0.074, 0.21, 0.971, 0.737, -0.143, -0.098, 0.441, -0.435, -0.733]) > 0 THEN 1 ELSE 0 END) + (CASE WHEN list_inner_product(emb, [0.866, -0.715, 0.661, -0.465, 0.702, -0.645, -0.658, 0.14, -0.932, 0.051, 0.841, 0.638, -0.826, 0.831, -0.452, 0.931, -0.583, 0.758, 0.816, 0.802, 0.704, -0.124, 0.795, 0.343, -0.991, -0.022, 0.792, -0.745, 0.332, 0.338, 0.867, -0.521, 0.364, 0.856, 0.926, -0.769, 0.429, -0.933, 0.283, -0.224, 0.047, 0.678, 0.291, 0.475, -0.368, 0.615, -0.994, -0.405, -0.623, 0.888, -0.639, -0.104, -0.658, -0.963, 0.533, -0.106, -0.413, -0.441, 0.456, -0.742, 0.064, 0.454, 0.477, 0.366]) > 0 THEN 2 ELSE 0 END) + (CASE WHEN list_inner_product(emb, [-0.073, -0.481, 0.726, 0.968, -0.294, -0.265, -0.681, -0.462, -0.393, 0.161, 0.634, -0.088, -0.313, 0.911, 0.003, -0.58, 0.29, 0.36, 0.883, 0.197, -0.559, -0.764, 0.027, 0.464, 0.525, -0.256, -0.771, 0.623, 0.883, -0.085, -0.032, 0.937, 0.28, 0.298, 0.208, 0.23, -0.987, -0.757, 0.324, 0.741, 0.113, 0.393, 0.231, -0.196, -0.513, -0.948, -0.024, -0.199, 0.389, 0.384, 0.011, -0.261, -0.62, -0.003, 0.257, -0.763, -0.974, -0.811, -0.916, 0.176, 0.155, 0.287, 0.643, -0.395]) > 0 THEN 4 ELSE 0 END) + (CASE WHEN list_inner_product(emb, [0.256, -0.265, 0.314, 0.056, -0.407, 0.061, -0.175, 0.597, 0.907, -0.277, 0.893, -0.735, 0.716, 0.927, -0.96, 0.817, 0.808, 0.911, 0.694, -0.639, 0.789, 0.251, 0.423, 0.929, -0.593, -0.456, 0.601, -0.926, 0.89, -0.01, -0.141, 0.34, 0.286, 0.092, 0.918, 0.404, -0.968, -0.128, -0.895, -0.603, -0.247, 0.685, 0.28, 0.402, 0.411, -0.384, -0.055, -0.235, -0.061, -0.207, -0.34, 0.473, -0.19, -0.191, -0.457, 0.217, 0.368, 0.194, 0.023, -0.614, 0.856, -0.093, 0.381, 0.264]) > 0 THEN 8 ELSE 0 END) + (CASE WHEN list_inner_product(emb, [0.624, 0.087, 0.06, -0.731, 0.097, -0.174, 0.221, -0.481, 0.742, -0.18, -0.523, -0.121, -0.008, -0.563, 0.635, 0.164, 0.73, 0.915, -0.998, 0.805, -0.445, 0.667, 0.219, 0.013, 0.264, 0.623, -0.043, 0.974, -0.774, -0.682, 0.91, -0.834, 0.24, 0.058, 0.158, -0.674, -0.698, -0.932, 0.354, -0.143, -0.485, -0.042, -0.634, 0.587, 0.462, -0.69, -0.106, 0.123, -0.489, -0.423, 0.868, 0.414, 0.369, -0.846, -0.045, -0.467, -0.402, 0.228, 0.671, -0.162, -0.937, 0.884, 0.541, 0.953]) > 0 THEN 16 ELSE 0 END) + (CASE WHEN list_inner_product(emb, [0.474, 0.926, 0.1, 0.479, -0.319, -0.247, -0.84, 0.848, 0.462, 0.159, 0.92, -0.314, 0.536, -0.342, -0.695, 0.86, -0.88, -0.945, 0.458, -0.603, -0.92, -0.656, -0.617, -0.268, -0.029, -0.861, 0.235, 0.415, -0.297, 0.109, 0.22, -0.873, -0.379, 0.786, -0.601, 0.591, -0.264, -0.955, 0.856, 0.272, 0.734, 0.246, -0.08, 0.775, -0.275, -0.468, -0.405, 0.418, -0.216, -0.702, -0.354, 0.155, 0.044, -0.943, -0.023, -0.783, -0.452, 0.966, 0.024, 0.755, -0.315, -0.46, 0.371, -0.435]) > 0 THEN 32 ELSE 0 END) + (CASE WHEN list_inner_product(emb, [0.652, -0.986, -0.798, -0.752, -0.176, 0.568, 0.066, 0.249, -0.168, -0.46, -0.828, -0.391, 0.453, 0.694, 0.207, -0.389, 0.834, -0.46, -0.016, 0.457, -0.512, -0.242, 0.711, -0.985, 0.586, -0.188, -0.39, 0.253, -0.098, -0.194, 0.803, -0.83, 0.044, -0.174, 0.912, -0.633, -0.213, 0.062, 0.926, -0.513, -0.926, -0.484, 0.699, -0.315, 0.458, -0.123, -0.538, 0.337, 0.598, 0.519, 0.873, 0.191, -0.617, -0.829, 0.414, 0.878, -0.822, -0.598, -0.569, -0.008, 0.61, -0.097, -0.347, -0.947]) > 0 THEN 64 ELSE 0 END) + (CASE WHEN list_inner_product(emb, [0.558, -0.309, 0.208, -0.205, 0.874, 0.01, -0.424, -0.465, 0.514, -0.997, -0.623, 0.181, 0.175, -0.533, 0.978, -0.145, 0.929, 0.674, -0.171, 0.247, 0.984, -0.933, -0.953, 0.995, 0.889, 0.87, 0.063, 0.79, 0.543, 0.558, -0.658, -0.819, -0.782, -0.479, -0.767, -0.501, -0.693, -0.187, -0.377, 0.571, -0.925, 0.014, 0.483, -0.765, 0.541, 0.923, 0.82, -0.245, -0.131, -0.739, 0.986, -0.586, -0.495, 0.291, -0.502, -0.804, 0.901, -0.484, 0.808, -0.619, 0.196, 0.828, -0.921, 0.716]) > 0 THEN 128 ELSE 0 END))::BIGINT AS bucket,
                   list_inner_product(emb, emb) AS nrm
            FROM ({_EMB})
        ),
        pairs AS MATERIALIZED (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE round(list_inner_product(a.emb, b.emb)
                        / sqrt(a.nrm * b.nrm), 4) >= 0.25
        ),
        sym AS MATERIALIZED (
            SELECT vec_a AS node, vec_b AS nbr FROM pairs
            UNION ALL SELECT vec_b, vec_a FROM pairs
        ),
        deg AS (SELECT node, count(*) AS degree FROM sym GROUP BY node),
        cores AS MATERIALIZED (SELECT node FROM deg WHERE degree >= 2),
        core_edges AS MATERIALIZED (
            SELECT vec_a AS doc_a, vec_b AS doc_b FROM pairs
            WHERE vec_a IN (SELECT node FROM cores)
              AND vec_b IN (SELECT node FROM cores)
        ),
        edges AS MATERIALIZED (
            SELECT doc_a AS src, doc_b AS dst FROM core_edges
            UNION SELECT doc_b, doc_a FROM core_edges
        ),
        walk(node, comp) AS (
            SELECT src, src FROM (SELECT DISTINCT src FROM edges)
            UNION
            SELECT e2.src, w.comp FROM edges e2 JOIN walk w ON w.node = e2.dst
        ),
        comp AS MATERIALIZED (SELECT node, min(comp) AS cluster FROM walk GROUP BY node),
        core_clusters AS MATERIALIZED (
            SELECT c.node, coalesce(p.cluster, c.node) AS cluster
            FROM cores c LEFT JOIN comp p ON p.node = c.node
        ),
        border AS MATERIALIZED (
            SELECT s.node, min(cc.cluster) AS cluster
            FROM sym s
            JOIN core_clusters cc ON cc.node = s.nbr
            WHERE s.node NOT IN (SELECT node FROM cores)
            GROUP BY s.node
        )
        SELECT vec_id, role, cluster FROM (
            SELECT node AS vec_id, 'core' AS role, cluster::BIGINT AS cluster
            FROM core_clusters
            UNION ALL
            SELECT node, 'border', cluster::BIGINT FROM border
            UNION ALL
            SELECT vec_id, 'noise', NULL::BIGINT FROM embeddings
            WHERE vec_id NOT IN (SELECT node FROM core_clusters)
              AND vec_id NOT IN (SELECT node FROM border)
        )
    """,
    tags=("llm", "similarity", "iterative"),
)
def embedding_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN-shaped density clustering: LSH-blocked cosine
    ε-neighborhood graph, core points (≥ 2 neighbors), connected
    components of the core subgraph as clusters, border points
    attached to their smallest neighboring core cluster, the rest
    noise.  The variable-shape/variable-count complement to k-means
    (no k parameter).  See operators/similarity.density_clusters for
    the composition and scale accounting."""
    return similarity.density_clusters(
        load_table(spark, sf_dir, "embeddings"), threshold=0.25, min_pts=2
    )
