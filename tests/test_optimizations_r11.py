"""Focused guards for the round-11 optimization changes.

Each test pins the EQUIVALENCE an optimization relies on, not the
speed: the CMS sketch derived from the token-frequency table instead
of a second pass over the raw token stream (token_cms_topk), and the
plain-count census over the per-document-distinct shingle index
(repeated_ngram_audit).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from encodesrv_spark.catalog import load_table
from encodesrv_spark.functions import hashing as H
from encodesrv_spark.operators import dedup
from encodesrv_spark.functions.text import tokens_ne
from encodesrv_spark.plans.corpus import _CMS_D, _CMS_W


def test_cms_sketch_from_frequency_table_is_equivalent(spark, sf_dir):
    """token_cms_topk's rewrite: a CMS cell's counter is the number of
    token OCCURRENCES hashing into it, so building the sketch as
    sum(exact_n) over the token-frequency table must produce the exact
    (r, cell, n) rows the direct count over the raw token stream
    produces."""
    toks = dedup.fan_out(load_table(spark, sf_dir, "documents")).select(
        F.explode(tokens_ne()).alias("tok")
    )
    cells = F.array(*[H.seeded_hash64("tok", i) % _CMS_W for i in range(_CMS_D)])
    direct = (
        toks.select(F.posexplode(cells).alias("r", "cell"))
        .groupBy("r", "cell")
        .agg(F.count("*").alias("n"))
    )
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_n"))
    derived = (
        exact.select(F.posexplode(cells).alias("r", "cell"), "exact_n")
        .groupBy("r", "cell")
        .agg(F.sum("exact_n").alias("n"))
    )
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, derived.collect())
    )


def test_shingle_index_rows_are_distinct_per_document(spark, sf_dir):
    """repeated_ngram_audit's census rewrite (countDistinct(doc_id) ->
    count(*)) stands on the hashed index emitting at most one row per
    (doc_id, h): shingle_index array_distincts per document before
    exploding, so duplicates would need an intra-document xxhash64
    collision.  Assert the invariant holds on real data AND that the
    two census forms agree row-for-row."""
    d = load_table(spark, sf_dir, "documents")
    idx = dedup.shingle_index(d, 5).select(
        "doc_id", F.xxhash64("sh").alias("h")
    )
    dup = (
        idx.groupBy("doc_id", "h")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .count()
    )
    assert dup == 0
    old = idx.groupBy("h").agg(F.countDistinct("doc_id").alias("df"))
    new = idx.groupBy("h").agg(F.count("*").alias("df"))
    assert sorted(map(tuple, old.collect())) == sorted(map(tuple, new.collect()))
