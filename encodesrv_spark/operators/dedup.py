"""Deduplication operators for document corpora.

Four families, all shuffle-conscious:

* exact        — group by content hash (128-bit md5), never by the full
                 text: at 100 TB the shuffle carries 16-byte keys, not
                 document bodies.
* n-gram Jaccard — shingle-inverted-index self-join: only documents
                 sharing a shingle ever meet, so the quadratic pair
                 space is never materialized.
* MinHash/LSH  — constant-size signatures (k hashes) per document, then
                 band-bucket join: candidate pairs are generated only
                 inside matching bands. The scale path for near-dedup.
* SimHash      — bitwise majority fingerprint; Hamming-near documents
                 collide on the fingerprint value.

Hashes are the cross-engine md5-derived family from
encodesrv_spark.functions.hashing so every operator is DuckDB-oracle
checkable (SURVEY.md §5 strategy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from encodesrv_spark.functions.hashing import km_hash64, stable_hash64
from encodesrv_spark.functions.text import distinct_tokens, word_shingles


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups keyed by md5(text).

    Returns (text_hash, keeper_doc_id, n_copies): keeper is the lowest
    doc_id in the group — the row a dedup pass would retain.
    """
    return (
        docs.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def fan_out(docs: DataFrame) -> DataFrame:
    """Spread rows across shuffle partitions before CPU-heavy per-row
    work.  Small corpora arrive as one parquet file = ONE partition, so
    without this every shingle/hash runs on a single core; the shuffle
    moves only raw text bytes — orders of magnitude cheaper than the
    per-row compute it parallelizes.

    Gated on the input's partition count: a 100 TB corpus is already
    many-partitioned, and an unconditional repartition would force a
    full shuffle of raw text for nothing — inputs that already have
    >= defaultParallelism partitions are returned untouched.

    The partition count is explicit: with a bare repartition(col), AQE
    sees a few-MB shuffle and coalesces straight back to one partition,
    silently re-serializing the CPU-heavy stage."""
    n = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() >= n:
        return docs
    return docs.repartition(n, F.col("doc_id"))


def shingle_index(docs: DataFrame, k: int) -> DataFrame:
    """Inverted index (doc_id, shingle) over distinct k-word shingles.

    explode_OUTER on purpose: plain explode makes Catalyst infer a
    `size(arr) > 0` filter and push it below the fan-out exchange,
    re-evaluating the whole shingle expression on the unsplit input
    partition (single-core).  The outer variant infers nothing; the
    null rows (empty docs) are filtered AFTER the generate."""
    return (
        fan_out(docs)
        .select(
            "doc_id",
            F.explode_outer(F.array_distinct(word_shingles("text", k))).alias("sh"),
        )
        .filter(F.col("sh").isNotNull())
    )


def hashed_shingles(docs: DataFrame, k: int) -> DataFrame:
    """ONE tokenize+shingle pass hashed for BOTH downstream consumers:
    (doc_id, b1, b2, h) where b1/b2 are the Kirsch-Mitzenmacher md5
    bases `minhash_signatures` derives its k hash functions from and
    h is the xxhash64 join key the Jaccard inverted index uses.

    Callers that run a signature arm AND an exact-Jaccard arm over the
    same corpus (the estimator harness) materialize this once
    (localCheckpoint) and hand it to both — the second full shingle
    pass disappears, and because every column is a fixed-width long
    the materialized bytes are 24/shingle regardless of shingle text
    size (the §2.3 rule: share keys and hashes, never payloads)."""
    return shingle_index(docs, k).select(
        "doc_id",
        stable_hash64("sh").alias("b1"),
        stable_hash64(F.concat(F.lit("m:"), F.col("sh"))).alias("b2"),
        F.xxhash64("sh").alias("h"),
    )


def jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    df_cap: int | None = 10000,
    n_docs: int | None = None,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact shingle-set Jaccard similarity.

    Self-join on the shingle inverted index (only co-shingled pairs are
    generated), count shared shingles per pair, then
    J = |A∩B| / (|A| + |B| - |A∩B|).  Hash the shingles before the join
    so the shuffle keys are fixed-width ints, not strings.

    `df_cap` is stop-shingle pruning: a shingle occurring in more than
    `df_cap` documents is dropped from the index BEFORE the self-join
    (and from the per-doc set sizes, so Jaccard stays consistent over
    the pruned shingle space).  Without it one hot shingle shared by
    millions of documents makes the self-join O(df²) on that key — the
    quadratic blow-up that kills this operator at 100 TB.  Recall
    trade-off: near-dup evidence is carried by RARE shingles (a shingle
    in >df_cap docs contributes ~0 to any pair's Jaccard anyway since
    it inflates both union sizes), so sane caps drop no true near-dups.

    `n_docs`, when the caller already knows the corpus size, skips the
    count() this function otherwise runs to decide whether the census
    prune is a no-op — one fewer scan per call on hot paths.

    `hashed`, when the caller already materialized a
    ``hashed_shingles`` frame for this corpus and k (see there), skips
    this function's own shingle pass; only the (doc_id, h) columns are
    read.
    """
    return (
        _pair_overlap_counts(docs, k, df_cap, n_docs, hashed)
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = 10000,
    n_docs: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by shingle-set CONTAINMENT — the asymmetric
    similarity Jaccard misses: a short document fully quoted inside a
    much longer one has C(A→B) = |A∩B|/|A| ≈ 1 while its Jaccard is
    ≈ |A|/|B| ≈ 0.  Emits both directions (c_ab, c_ba) plus jaccard
    for comparison, filtered on greatest(c_ab, c_ba) ≥ threshold.

    Same machinery and scale accounting as `jaccard_pairs` (shared
    inverted-index self-join with the stop-shingle df-cap); only the
    final normalization differs."""
    m = _pair_overlap_counts(docs, k, df_cap, n_docs)
    c_ab = F.round(F.col("common") / F.col("n_a"), 4)
    c_ba = F.round(F.col("common") / F.col("n_b"), 4)
    return (
        m.select(
            "doc_a",
            "doc_b",
            c_ab.alias("c_ab"),
            c_ba.alias("c_ba"),
            F.round(
                F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 4
            ).alias("jaccard"),
        )
        .filter(F.greatest(F.col("c_ab"), F.col("c_ba")) >= threshold)
    )


def _pair_overlap_counts(
    docs: DataFrame,
    k: int,
    df_cap: int | None,
    n_docs: int | None,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, common, n_a, n_b) over co-shingled pairs — the
    shared core of jaccard_pairs and containment_pairs (see
    jaccard_pairs for the df-cap and checkpoint rationale)."""
    if hashed is not None:
        # caller-materialized hashed_shingles frame: same xxhash64
        # join key this function would have computed, already
        # checkpointed by the caller — no second shingle pass and no
        # second checkpoint (a column projection of a materialized
        # frame is free).
        idx = hashed.select("doc_id", "h")
    else:
        # the hash is join-internal (never in the output), so use the
        # fast JVM xxhash64 — the oracle's own internal hash differs,
        # outputs don't: Jaccard is computed from co-occurrence COUNTS
        sh = fan_out(docs).select(
            "doc_id", F.array_distinct(word_shingles("text", k)).alias("shs")
        )
        idx = (
            sh.select("doc_id", F.explode_outer("shs").alias("s"))
            .filter(F.col("s").isNotNull())
            .select("doc_id", F.xxhash64("s").alias("h"))
            # materialize once: the index feeds the stop-shingle
            # census, BOTH self-join sides, and the size aggregate;
            # without this the shingle pipeline re-executes per
            # consumer (ReuseExchange does not fire across the
            # aliases). 3-4x wall-clock win measured at sf0.1.
            .localCheckpoint(eager=True)
        )
    # A shingle's df cannot exceed the document count, so the census +
    # prune is provably a no-op when n_docs <= df_cap — skip it then
    # (one cheap parquet-metadata count) and the small-corpus plan is
    # identical to the uncapped one.  The DuckDB oracle keeps the cap
    # unconditionally (HAVING df <= cap), which filters nothing in
    # exactly the same case, so equivalence holds on both branches.
    if df_cap is not None and (n_docs if n_docs is not None else docs.count()) > df_cap:
        # hot shingles are by definition few (n_docs/df_cap at most),
        # so the pruned-key set broadcasts.  No second checkpoint: the
        # anti-join is a hash probe over the already-checkpointed
        # index, and the identical broadcast subplan is shared across
        # the three consumers by ReuseExchange — re-materializing idx
        # here measurably cost more than it saved.
        hot = (
            idx.groupBy("h")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > df_cap)
            .select("h")
        )
        idx = idx.join(F.broadcast(hot), "h", "left_anti")
    sizes = idx.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = idx.alias("a")
    b = idx.alias("b")
    common = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return common.join(sa, "doc_a").join(sb, "doc_b")


def minhash_signatures(
    docs: DataFrame,
    k: int = 3,
    n_hashes: int = 8,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document: h_i = min over shingles of the
    i-th Kirsch-Mitzenmacher hash (two md5s per shingle, k derived
    functions).  One explode + one grouped aggregation — the signature
    is constant-size however large the document set, which is what
    makes the LSH join scale.

    `hashed`, when the caller already materialized a
    ``hashed_shingles`` frame for this corpus and k (see there), skips
    this function's own shingle pass; only the (doc_id, b1, b2)
    columns are read and the derived-hash values are bit-identical."""
    if hashed is not None:
        idx = hashed.select("doc_id", "b1", "b2")
    else:
        idx = shingle_index(docs, k).select(
            "doc_id",
            stable_hash64("sh").alias("b1"),
            stable_hash64(F.concat(F.lit("m:"), F.col("sh"))).alias("b2"),
        )
    aggs = [
        F.min(km_hash64(F.col("b1"), F.col("b2"), i)).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return idx.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 3,
    n_hashes: int = 8,
    band_size: int = 2,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding: signatures split
    into bands of `band_size` hashes; documents agreeing on ANY full
    band become a candidate pair.  The join key is (band_id, band_hash)
    so only same-band-value documents shuffle together.

    Pass `sig` (an already-MATERIALIZED frame from
    ``minhash_signatures`` with matching k/n_hashes) when the caller
    also consumes the signatures itself — estimator harnesses join the
    banding candidates back to the signature columns, and without
    sharing, the shingle+hash pass runs once per consumer."""
    # constant-size signatures: cheap to materialize, reused by both
    # self-join sides (same rationale as jaccard_pairs' checkpoint)
    if sig is None:
        sig = minhash_signatures(docs, k, n_hashes).localCheckpoint(eager=True)
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"h{b * band_size + j}").cast("string")
                        for j in range(band_size)
                    ],
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    exploded = sig.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """SimHash fingerprint over distinct tokens.

    Expanded as (token × bit) rows with a grouped bit-majority vote —
    linear in corpus size, fully shuffled by (doc_id, bit) so it
    parallelizes; kept explode-based (rather than a pandas UDF) so the
    DuckDB oracle can reproduce it bit-for-bit.
    """
    toks = (
        fan_out(docs)
        .select("doc_id", F.explode_outer(distinct_tokens("text")).alias("tok"))
        .filter(F.col("tok").isNotNull())
        .select("doc_id", stable_hash64("tok").alias("h"))
    )
    bit = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b")
    votes = (
        toks.select("doc_id", "h", bit)
        # +1 vote when bit b of the token hash is set, -1 otherwise
        .select("doc_id", "b", F.expr("2 * (shiftright(h, b) & 1) - 1").alias("v"))
        .groupBy("doc_id", "b")
        .agg(F.sum("v").alias("s"))
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("simhash")
    )


# label-propagation rounds connected_components runs at most
CC_MAX_ITERS = 20


def connected_components(pairs: DataFrame) -> DataFrame:
    """Connected components over an undirected pair graph
    ((doc_a, doc_b) edges) by iterative min-label propagation: every
    node repeatedly adopts the smallest label among itself and its
    neighbors until fixpoint.  Returns (doc_id, component) where
    component = min doc_id reachable.

    This is the cluster step of dedup (candidate PAIRS from LSH →
    duplicate GROUPS → one keeper per group).  Convergence needs
    O(graph diameter) rounds — near-dup graphs are unions of small
    cliques, so 2-3 iterations in practice; `CC_MAX_ITERS` bounds
    pathological chains.  (A pointer-jumping variant — Rastogi et al.
    2012 — was measured: it cut rounds 7 → 5 on the densest in-repo
    graph but its label-table re-key broke the co-partitioned loop
    below and cost MORE exchanges overall; propagation-only with
    pinned partitioning won the A/B.)

    Both per-round joins carry SHUFFLE_HASH hints (§3.1 deliberate
    strategy choice): checkpointed inputs surface no size statistics,
    so the static planner falls back to sort-merge — re-SORTING the
    edge list and the label table once per round for nothing — and AQE
    then spends extra re-planning jobs converting stages.  Hinting
    shuffled-hash (build = the narrow label/vote side) removed both:
    39 vs 53 jobs per CC call on the embedding-density graph, measured
    interleaved.  (Pinning a co-partitioned layout to delete the probe
    exchange outright — §2.4 — was prototyped and does NOT survive
    localCheckpoint under AQE: the materialized RDD scans report
    UnknownPartitioning, so every round re-exchanges regardless; the
    explicit repartition only added cost.)  `localCheckpoint` truncates
    the growing lineage so iteration N doesn't re-execute iterations
    1..N-1 (the classic iterative-DataFrame trap).  The driver-side
    loop checks a single aggregate per round (a scalar, not a collect
    of data).

    The symmetrized edge list is not de-duplicated: a repeated or
    reversed input pair only repeats an input of the min() aggregates,
    so labels are the same with or without a distinct, and the in-repo
    producers emit each doc_a < doc_b pair at most once anyway."""
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint(eager=True)
    )
    # Round 1 fused into the initialization: with identity labels, the
    # first propagation round reduces algebraically to component =
    # min(node, min(neighbors)) — ONE aggregate over the symmetrized
    # edge list instead of a join + aggregate + convergence-count job
    # (and round 1's `changed` is structurally > 0 on any non-empty
    # edge set: the larger endpoint of any edge adopts the smaller id,
    # so the skipped fixpoint check could never have fired).  The label
    # sequence from round 2 on is identical to the unfused loop, and
    # the total round bound is unchanged: 1 fused + (CC_MAX_ITERS − 1)
    # joined rounds.
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("min_nbr"))
        .select("node", F.least(F.col("node"), F.col("min_nbr")).alias("component"))
        .localCheckpoint(eager=True)
    )
    for _ in range(CC_MAX_ITERS - 1):
        # SHUFFLE_HASH build on the narrow label side: no per-round
        # re-sort of the edge list, no size-statistics guesswork on
        # checkpointed inputs (see docstring)
        neighbor_min = (
            edges.join(labels.hint("SHUFFLE_HASH"), edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        # The fixpoint check rides ALONG with the propagation: `moved`
        # is computed in the same select and lands in the checkpointed
        # frame, so detecting convergence is a filter-count on
        # materialized data instead of a second old-vs-new join + job
        # per round (that join was half the per-round fixed cost).
        adopted = F.least(
            F.col("component"), F.coalesce("nbr_component", "component")
        )
        new_labels = (
            labels.join(
                neighbor_min.hint("SHUFFLE_HASH"),
                labels.node == neighbor_min.src,
                "left",
            )
            .select(
                "node",
                adopted.alias("new_component"),
                (adopted < F.col("component")).alias("moved"),
            )
            .withColumnRenamed("new_component", "component")
            # lazy checkpoint: the `changed` count below is the action
            # that materializes it, so each round is ONE job (propagate
            # + checkpoint + converged?) instead of two
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter("moved").count()
        labels = new_labels.select("node", "component")
        if changed == 0:
            break
    return labels.select(F.col("node").alias("doc_id"), "component")


def simhash_hamming_pairs(
    docs: DataFrame,
    bits: int = 32,
    max_hamming: int = 2,
    n_blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, via the pigeonhole
    multi-index (Manku et al. 2007, 'Detecting Near-Duplicates for Web
    Crawling'): split the signature into `n_blocks` equal blocks — any
    pair within Hamming distance n_blocks−1 must agree on at least one
    whole block, so candidates are generated ONLY inside per-block
    value buckets and the exact bit_count(xor) check runs on
    candidates, never all pairs.  Exact (no false negatives) for
    max_hamming <= n_blocks − 1.

    Scale knob: expected bucket width is N / 2^(bits/n_blocks); at
    corpus scale you grow the signature (64-bit) and the block count
    so block values stay wide enough to keep buckets bounded — same
    trade as every multi-index."""
    assert max_hamming <= n_blocks - 1, "pigeonhole guarantee violated"
    width = bits // n_blocks
    mask = (1 << width) - 1
    sig = simhash(docs, bits).localCheckpoint(eager=True)
    blk = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        F.expr(f"shiftright(simhash, {i * width}) & {mask}").alias(
                            "val"
                        ),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", F.col("b.i").alias("i"), F.col("b.val").alias("val"))
    a, b = blk.alias("a"), blk.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.bit_count(F.expr("sa ^ sb")).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
