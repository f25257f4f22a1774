"""Focused guards for the round-10 optimization changes.

Each test pins the EQUIVALENCE an optimization relies on, not the
speed: footer row counts vs count(), the threshold-levenshtein filter
rewrite, and the n_vecs fast path of semdedup.  (The fused
connected_components initialization is covered by the existing
randomized union-find equivalence test in test_curation.py, whose
cases include multi-round chains.)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from encodesrv_spark.catalog import TABLES, load_table, table_rows


def test_table_rows_matches_count_for_every_table(spark, sf_dir):
    """catalog.table_rows (parquet-footer metadata) must agree with the
    Spark count for every testdata table — the equivalence the
    count()-job removal in the dedup/similarity call sites stands on."""
    for t in TABLES:
        assert table_rows(sf_dir, t) == load_table(spark, sf_dir, t).count(), t


def test_threshold_levenshtein_filter_is_equivalent(spark):
    """fuzzy_pairs_levenshtein's rewrite: levenshtein(a, b, k) >= 0
    must select exactly the rows levenshtein(a, b) <= k selects, with
    identical distances on the kept rows — including the boundary
    (dist == k), just-over (k+1), empty strings, and equal strings."""
    k = 3
    rows = [
        ("kitten", "sitting"),        # dist 3 == k (kept, boundary)
        ("kitten", "kitten"),         # 0
        ("abcd", "wxyz"),             # 4 > k (dropped)
        ("", "abc"),                  # 3 == k
        ("", ""),                     # 0
        ("abcdefgh", "abxdefgh"),     # 1
        ("aaaaaaaa", "bbbbbbbb"),     # 8 > k
    ]
    df = spark.createDataFrame(rows, "a string, b string")
    old = df.select(
        "a", "b", F.levenshtein("a", "b").alias("d")
    ).filter(F.col("d") <= k)
    new = df.select(
        "a", "b", F.levenshtein("a", "b", k).alias("d")
    ).filter(F.col("d") >= 0)
    assert sorted(map(tuple, old.collect())) == sorted(map(tuple, new.collect()))


def test_kmeans_update_last_false_preserves_assignment(spark, sf_dir):
    """kmeans(update_last=False) must return the exact assignment the
    default path returns — the skipped work is only the final centroid
    update nobody reads (semdedup's fast path)."""
    from encodesrv_spark.operators.similarity import kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    full, _ = kmeans(emb, k=8, iters=2)
    fast, _ = kmeans(emb, k=8, iters=2, update_last=False)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, fast.collect()))


def test_kmeans_update_last_centroids_are_previous_round(spark, sf_dir):
    """With update_last=False the returned centroids are the ones the
    final assignment was scored against — i.e. the previous round's
    update — matching the documented contract."""
    from encodesrv_spark.operators.similarity import kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    _, cent_after_1 = kmeans(emb, k=8, iters=1)
    _, cent_fast = kmeans(emb, k=8, iters=2, update_last=False)
    a = {r["cid"]: list(r["cemb"]) for r in cent_after_1.collect()}
    b = {r["cid"]: list(r["cemb"]) for r in cent_fast.collect()}
    assert a == b


def test_connected_components_pairs_distinct_equivalence(spark):
    """connected_components does not de-duplicate its edge list, so an
    input with duplicated and reversed pairs must label exactly like
    the clean input — on graphs with chains (multi-round), isolated
    cliques, and a lone pair — and both must match the ground truth."""
    import random

    from encodesrv_spark.operators.dedup import connected_components

    rng = random.Random(10)
    # chain 0-1-2-...-9, clique {20..23}, pair {40,41}, plus shuffled
    pairs = [(i, i + 1) for i in range(9)]
    pairs += [(a, b) for a in range(20, 24) for b in range(a + 1, 24)]
    pairs += [(40, 41)]
    rng.shuffle(pairs)
    clean = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    base = sorted(map(tuple, connected_components(clean).collect()))
    dirty_pairs = pairs + pairs + [(b, a) for a, b in pairs]
    rng.shuffle(dirty_pairs)
    dirty = spark.createDataFrame(dirty_pairs, "doc_a long, doc_b long")
    assert sorted(map(tuple, connected_components(dirty).collect())) == base
    # ground truth: chain -> 0, clique -> 20, pair -> 40
    want = {i: 0 for i in range(10)}
    want |= {i: 20 for i in range(20, 24)}
    want |= {40: 40, 41: 40}
    assert dict(base) == want
    assert len(base) == len(want)


def test_hashed_shingles_path_is_equivalent(spark, sf_dir):
    """The shared hashed_shingles fast path (minhash_estimate_error's
    one-tokenize-pass optimization) must reproduce BOTH consumers
    bit-identically: minhash_signatures(hashed=) returns the exact
    signatures of the self-computed path, and jaccard_pairs(hashed=)
    the exact pair set and Jaccard values."""
    from encodesrv_spark.operators.dedup import (
        hashed_shingles,
        jaccard_pairs,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    hashed = hashed_shingles(docs, k=3).localCheckpoint(eager=True)

    sig_self = minhash_signatures(docs, k=3, n_hashes=8)
    sig_shared = minhash_signatures(docs, k=3, n_hashes=8, hashed=hashed)
    assert sorted(map(tuple, sig_self.collect())) == sorted(
        map(tuple, sig_shared.collect())
    )

    jac_self = jaccard_pairs(docs, k=3, threshold=0.0, df_cap=10000)
    jac_shared = jaccard_pairs(
        docs, k=3, threshold=0.0, df_cap=10000, hashed=hashed
    )
    assert sorted(map(tuple, jac_self.collect())) == sorted(
        map(tuple, jac_shared.collect())
    )


def test_ivf_assign_matches_window_reference(spark, sf_dir):
    """The map-only array_max assignment must reproduce the
    row_number-window argmax exactly: max csim, ties to the LOWEST
    centroid id."""
    from pyspark.sql import Window as W

    from encodesrv_spark.operators.similarity import (
        _norm_projection,
        dot,
        ivf_assign,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    got = sorted(
        (r["vec_id"], r["cell"])
        for r in ivf_assign(_norm_projection(emb), n_centroids=16).collect()
    )
    e = _norm_projection(emb)
    c = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"),
        F.col("emb").alias("cemb"),
        F.col("nrm").alias("cnrm"),
    )
    scored = e.crossJoin(F.broadcast(c)).select(
        "vec_id",
        "cent_id",
        F.round(
            dot(F.col("emb"), F.col("cemb")) / F.sqrt(F.col("nrm") * F.col("cnrm")),
            4,
        ).alias("csim"),
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("cent_id"))
    ref = sorted(
        (r["vec_id"], r["cent_id"])
        for r in scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    )
    assert got == ref


def test_pq_encode_matches_window_reference(spark, sf_dir):
    """The map-side array_min code assignment must reproduce the
    window argmin exactly: min rounded L2², ties to the LOWEST
    sub-centroid id — pinned end-to-end through codes AND the decoded
    reconstruction."""
    from pyspark.sql import Window as W

    from encodesrv_spark.operators.similarity import dot, pq_encode, sq_norm

    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        r["vec_id"]: (list(r["codes"]), [round(x, 9) for x in r["recon"]])
        for r in pq_encode(emb, m=4, n_sub=16, dims=64).collect()
    }
    seglen = 16
    from encodesrv_spark.operators.similarity import _as_double

    e = emb.select("vec_id", _as_double("embedding").alias("emb"))
    segs = e.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.slice("emb", j * seglen + 1, seglen) for j in range(4)])
        ).alias("seg", "vseg"),
    )
    cb = segs.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"),
        F.col("seg").alias("cseg_id"),
        F.col("vseg").alias("cseg"),
    )
    l2sq = F.round(
        sq_norm(F.col("vseg"))
        - 2 * dot(F.col("vseg"), F.col("cseg"))
        + sq_norm(F.col("cseg")),
        4,
    )
    w = W.partitionBy("vec_id", "seg").orderBy(F.asc("d2"), F.asc("cent_id"))
    assign = (
        segs.join(F.broadcast(cb), F.col("seg") == F.col("cseg_id"))
        .select("vec_id", "seg", "cent_id", "cseg", l2sq.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    ref_rows = (
        assign.groupBy("vec_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("seg", F.col("cent_id").alias("code"), "cseg"))
            ).alias("sc")
        )
        .select(
            "vec_id",
            F.expr("transform(sc, x -> x.code)").alias("codes"),
            F.flatten(F.expr("transform(sc, x -> x.cseg)")).alias("recon"),
        )
        .collect()
    )
    ref = {
        r["vec_id"]: (list(r["codes"]), [round(x, 9) for x in r["recon"]])
        for r in ref_rows
    }
    assert got == ref


def test_semdedup_n_vecs_equals_counted_path(spark, sf_dir):
    """semdedup(n_vecs=footer count) must produce exactly the frame the
    count()-based path produces — same derived k, same clusters."""
    from encodesrv_spark.operators.similarity import semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    counted = semdedup(emb, k=8, iters=1, threshold=0.25, target_cluster_size=64)
    footer = semdedup(
        emb,
        k=8,
        iters=1,
        threshold=0.25,
        target_cluster_size=64,
        n_vecs=table_rows(sf_dir, "embeddings"),
    )
    assert sorted(map(tuple, counted.collect())) == sorted(
        map(tuple, footer.collect())
    )


def test_q2_semi_join_pushdown_is_equivalent(spark):
    """q2's rewrite: semi-joining the fact rows against the wanted-part
    and regional-supplier key sets BEFORE the (partkey, suppkey)
    unit-cost aggregate must reproduce the aggregate-then-filter
    reference exactly — on a fixture built to spring both traps:

    * the globally cheapest supplier of a WANTED part is NON-regional
      (must not win: the min ranges over regional suppliers only, and
      it must not win in EITHER form);
    * the globally cheapest (part, supplier) pair overall is on a
      NON-wanted part (pre-filtering must drop the whole group without
      touching surviving groups' unit costs);
    * a wanted part has two regional suppliers tied at the min (both
      rows must survive in both forms).
    """
    from pyspark.sql import Window as W

    # lineitem: (partkey, suppkey, extendedprice, quantity)
    li = spark.createDataFrame(
        [
            # part 1 (wanted): s1 regional cost 10.0 (2 rows -> mean),
            # s2 NON-regional cost 1.0 (cheapest overall for the part),
            # s3 regional cost 10.0 (tie with s1)
            (1, 1, 20.0, 2.0),
            (1, 1, 10.0, 1.0),
            (1, 2, 1.0, 1.0),
            (1, 3, 10.0, 1.0),
            # part 2 (NOT wanted): s1 cost 0.5 — cheapest group anywhere
            (2, 1, 0.5, 1.0),
            # part 3 (wanted): only a NON-regional supplier -> no output row
            (3, 2, 4.0, 1.0),
        ],
        "l_partkey long, l_suppkey long, l_extendedprice double, l_quantity double",
    )
    wanted_keys = spark.createDataFrame([(1,), (3,)], "p_partkey long")
    regional_keys = spark.createDataFrame([(1,), (3,)], "s_suppkey long")

    def unit_cost_agg(rows):
        return rows.groupBy("l_partkey", "l_suppkey").agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") / F.col("l_quantity")).cast(
                        "decimal(18,10)"
                    )
                ).cast("double")
                / F.count("*"),
                4,
            ).alias("unit_cost")
        )

    def cheapest(ps):
        eligible = ps.join(
            regional_keys, ps.l_suppkey == regional_keys.s_suppkey
        ).drop("s_suppkey")
        return (
            eligible.withColumn(
                "min_cost", F.min("unit_cost").over(W.partitionBy("l_partkey"))
            )
            .filter(F.col("unit_cost") == F.col("min_cost"))
            .join(wanted_keys, F.col("l_partkey") == F.col("p_partkey"))
            .select("l_partkey", "l_suppkey", "unit_cost")
        )

    reference = cheapest(unit_cost_agg(li))
    pushed = cheapest(
        unit_cost_agg(
            li.join(
                wanted_keys, li.l_partkey == F.col("p_partkey"), "left_semi"
            ).join(
                regional_keys, li.l_suppkey == F.col("s_suppkey"), "left_semi"
            )
        )
    )
    ref_rows = sorted(map(tuple, reference.collect()))
    got_rows = sorted(map(tuple, pushed.collect()))
    assert got_rows == ref_rows
    # the fixture's traps actually fired: part 1 keeps BOTH tied
    # regional suppliers at 10.0 (the non-regional 1.0 never wins),
    # part 2 and part 3 emit nothing
    assert ref_rows == [(1, 1, 10.0), (1, 3, 10.0)]
