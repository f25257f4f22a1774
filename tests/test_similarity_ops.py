"""Operator-level invariants for the embedding similarity family
(complementing the DuckDB-oracle differential tests in
test_queries_oracle.py): PQ encode/decode identities and k-means
partition properties that the value-hash comparison can't express."""

from __future__ import annotations

from pyspark.sql import functions as F

from encodesrv_spark.catalog import load_table
from encodesrv_spark.operators import similarity


def test_pq_encode_centroids_are_fixed_points(spark, sf_dir):
    """A codebook vector's segments are distance-0 from themselves, so
    every vec_id < n_sub must encode to its own id in all segments and
    reconstruct EXACTLY (recon == emb) — the PQ identity that proves
    encode/decode wiring (segment order, slicing, codebook join) is
    right."""
    emb = load_table(spark, sf_dir, "embeddings")
    enc = similarity.pq_encode(emb, m=4, n_sub=16, dims=64)
    rows = enc.filter(F.col("vec_id") < 16).collect()
    assert len(rows) == 16
    orig = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 16).collect()
    }
    for r in rows:
        assert r["codes"] == [r["vec_id"]] * 4, (r["vec_id"], r["codes"])
        assert r["recon"] == orig[r["vec_id"]]


def test_pq_ann_scores_bounded_and_complete(spark, sf_dir):
    """ADC scores are cosines of real (query, reconstruction) pairs —
    every score must lie in [-1, 1] and every query must get exactly k
    ranked neighbors with dense ranks 1..k."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.pq_ann(emb, n_query_vecs=8, k=3).collect()
    assert len(out) == 8 * 3
    by_q: dict[int, list[int]] = {}
    for r in out:
        assert -1.0001 <= r["approx_cos"] <= 1.0001, r
        by_q.setdefault(r["query_id"], []).append(r["rnk"])
    assert all(sorted(v) == [1, 2, 3] for v in by_q.values())


def test_kmeans_partitions_the_corpus(spark, sf_dir):
    """After 2 Lloyd rounds every vector belongs to exactly one of the
    k clusters and the member counts add up to the corpus size — the
    assignment is a partition, not a multi-assignment or a drop."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    assigned, cent = similarity.kmeans(emb, k=8, iters=2)
    per_vec = assigned.groupBy("vec_id").count().filter(F.col("count") != 1).count()
    assert per_vec == 0
    counts = {r["cid"]: r["n"] for r in
              assigned.groupBy("cid").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == n
    assert set(counts) <= set(range(8))
    cents = cent.collect()
    assert all(len(r["cemb"]) == 64 for r in cents)
    # two well-separated pairs: each point joins its own pair's
    # centroid, and the result is the (assigned, centroids) 2-tuple
    vecs = [(0, [0.0, 0.0]), (1, [10.0, 10.0]), (2, [0.0, 0.0]), (3, [10.0, 10.0])]
    e = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = similarity.kmeans(e, k=2, iters=2)
    assert len(out) == 2
    got = {r["vec_id"]: r["cid"] for r in out[0].collect()}
    assert got == {0: 0, 1: 1, 2: 0, 3: 1}


def test_doc_chunks_cover_and_overlap(spark):
    """Chunking invariants on synthetic docs: every token index is
    covered by at least one chunk, consecutive full chunks overlap by
    exactly W-S tokens, and a short doc yields exactly one chunk of
    its own length."""
    from encodesrv_spark.plans.corpus import _CHUNK_S, _CHUNK_W, doc_chunks

    import os
    import tempfile

    n_long = 130  # spans 4 starts: 0, 40, 80, 120
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(n_long)), "en", "srcX", 0),
            (2, "only three words", "en", "srcX", 0),
            (3, "", "en", "srcX", 0),  # empty: no chunks
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        out = {
            (r["doc_id"], r["chunk_idx"]): r["n_words"]
            for r in doc_chunks(spark, d).collect()
        }
    import math

    expect_chunks = math.ceil(n_long / _CHUNK_S)  # starts at 0,40,80,120
    got_long = {k: v for k, v in out.items() if k[0] == 1}
    assert len(got_long) == expect_chunks
    # full chunks are W tokens; the trailing one is n - last_start
    for (_, idx), n_words in got_long.items():
        start = idx * _CHUNK_S
        assert n_words == min(_CHUNK_W, n_long - start)
    # coverage: union of [start, start+n_words) spans [0, n_long)
    covered = set()
    for (_, idx), n_words in got_long.items():
        covered.update(range(idx * _CHUNK_S, idx * _CHUNK_S + n_words))
    assert covered == set(range(n_long))
    assert out[(2, 0)] == 3 and (2, 1) not in out
    assert not any(k[0] == 3 for k in out)


def test_cms_estimates_are_one_sided(spark, sf_dir):
    """Count-min guarantees estimate >= true count (collisions only
    ever ADD) — the invariant the value-hash oracle can't state."""
    from encodesrv_spark.plans.registry import all_queries

    rows = all_queries()["token_cms_topk"].fn(spark, sf_dir).collect()
    assert len(rows) == 20
    assert all(r["cms_n"] >= r["exact_n"] for r in rows)
