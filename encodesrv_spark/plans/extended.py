"""Extended relational surface: the operator families the reference
lacks entirely (SURVEY.md §2.6/§2.7 'absent') but a complete engine
must offer — set operations, rollup/grouping sets, pivot, as-of join,
distinct/approx statistics, and skew-mitigation patterns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from encodesrv_spark.catalog import load_table
from encodesrv_spark.functions.exact import (
    _units,
    exact_sum,
    exact_units_sum,
    half_up_idx_sql,
    money_round,
)
from encodesrv_spark.plans.registry import register


def _rev_sum():
    """Exact Σ ``l_extendedprice * (1 - l_discount)`` — money sums must
    be order-independent; uses the compact-integer fast path (see
    functions/exact.py::exact_sum), value-identical to summing the
    pure-decimal product."""
    return exact_sum("l_extendedprice", F.lit(1) - F.col("l_discount"))


@register(
    "asof_join_purchases",
    oracle="""
        WITH p AS (
            SELECT event_id, user_id, epoch_us(ts) AS tus
            FROM events WHERE event_type = 'purchase'
        ),
        s AS (
            SELECT event_id, user_id, epoch_us(ts) AS tus
            FROM events WHERE event_type = 'signup'
        )
        SELECT event_id, user_id, tus, prior_signup_event, prior_signup_tus
        FROM (
            SELECT p.event_id, p.user_id, p.tus,
                   s.event_id AS prior_signup_event,
                   s.tus AS prior_signup_tus,
                   row_number() OVER (
                       PARTITION BY p.event_id
                       ORDER BY s.tus DESC NULLS LAST, s.event_id DESC NULLS LAST
                   ) AS rn
            FROM p LEFT JOIN s ON p.user_id = s.user_id AND s.tus <= p.tus
        ) WHERE rn = 1
    """,
    tags=("extended", "asof"),
)
def asof_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join: each purchase matched to the same user's
    most recent prior signup.  Implemented WITHOUT a join: one
    partitioned sort and a last_value(ignore-nulls) carry-forward —
    O(n log n) per user partition, no pair blowup, the canonical
    distributed as-of pattern (an actual join would be quadratic on
    hot users).  Ties on tus break by event_id (larger wins), matching
    the oracle's DESC ordering."""
    e = load_table(spark, sf_dir, "events").withColumn("tus", F.expr("ts_ns DIV 1000"))
    both = e.filter(F.col("event_type").isin("purchase", "signup")).select(
        "event_id", "user_id", "event_type", "tus"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = both.withColumn(
        "prior_signup",
        F.last(
            F.when(
                F.col("event_type") == "signup",
                F.struct(F.col("tus").alias("tus"), F.col("event_id").alias("event_id")),
            ),
            ignorenulls=True,
        ).over(w),
    )
    return carried.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "tus",
        F.col("prior_signup.event_id").alias("prior_signup_event"),
        F.col("prior_signup.tus").alias("prior_signup_tus"),
    )


# 30-minute attribution horizon, in epoch-microseconds — shared by the
# batch query below and (as "30 minutes") its streaming twin
# streaming/events.py:click_purchase_attribution.
_ATTR_HORIZON_US = 30 * 60 * 1_000_000


@register(
    "click_attribution_interval",
    oracle=f"""
        WITH c AS (
            SELECT event_id AS click_id, user_id, epoch_us(ts) AS click_tus
            FROM events WHERE event_type = 'click'
        ),
        p AS (
            SELECT event_id AS purchase_id, user_id,
                   epoch_us(ts) AS purchase_tus, value
            FROM events WHERE event_type = 'purchase'
        )
        SELECT p.purchase_id, c.click_id, p.user_id,
               p.purchase_tus, c.click_tus, p.value
        FROM p JOIN c ON p.user_id = c.user_id
                     AND c.click_tus >= p.purchase_tus - {_ATTR_HORIZON_US}
                     AND c.click_tus <= p.purchase_tus
    """,
    tags=("extended", "rangejoin", "streaming-twin"),
)
def click_attribution_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join on a time horizon: every purchase matched
    to ALL of the same user's clicks in the preceding 30 minutes — ad
    attribution, the many-match complement of the single-match
    `asof_join_purchases`.  This is the oracle-backed BATCH twin of the
    stream-stream interval join `click_purchase_attribution`
    (streaming/events.py:178): identical match semantics, so the
    streaming path's correctness is driver-evidenced through this
    query plus the stream/batch equivalence test
    (tests/test_streaming.py).

    Scale shape: a naive user-keyed equi-join is quadratic on hot
    users (every purchase × the user's entire click history).  Instead
    both sides are BANDED by horizon-sized time buckets: a click's
    candidates live in exactly two bands (its own and the next), so
    the purchase side explodes to two probe rows and the join is a
    plain shuffle equi-join on (user_id, band) — each join group is
    bounded by per-user activity inside ~30 minutes, never by history
    length, the batch analog of the streaming version's
    watermark-bounded state.  The exact interval predicate then
    filters band-mates outside the horizon.  All output cells are
    exact integers (ids, epoch-micros) or raw column passthrough —
    nothing engine-rounded."""
    h = _ATTR_HORIZON_US
    e = load_table(spark, sf_dir, "events").withColumn(
        "tus", F.expr("ts_ns DIV 1000")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("tus").alias("click_tus"),
        F.expr(f"tus DIV {h}").alias("band"),
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("tus").alias("purchase_tus"),
            "value",
        )
        # probe the purchase's own band and the previous one — an
        # interval of length h overlaps at most these two click bands
        .withColumn(
            "band",
            F.explode(
                F.array(
                    F.expr(f"purchase_tus DIV {h}"),
                    F.expr(f"purchase_tus DIV {h} - 1"),
                )
            ),
        )
    )
    return (
        purchases.join(clicks, ["user_id", "band"])
        # closed interval [purchase − h, purchase], matching the
        # streaming twin's `click_ts >= purchase_ts - INTERVAL h`
        .filter(
            (F.col("click_tus") >= F.col("purchase_tus") - F.lit(h))
            & (F.col("click_tus") <= F.col("purchase_tus"))
        )
        .select(
            "purchase_id",
            "click_id",
            "user_id",
            "purchase_tus",
            "click_tus",
            "value",
        )
    )


@register(
    "rollup_lineitem",
    oracle="""
        SELECT coalesce(l_returnflag, 'ALL') AS rf,
               coalesce(l_linestatus, 'ALL') AS ls,
               grouping(l_returnflag, l_linestatus)::BIGINT AS gid,
               count(*)::BIGINT AS n,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS total
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("extended", "agg"),
)
def rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals with grouping-id disambiguation — the
    multi-level aggregate family the reference has no analog for."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n"),
            money_round(exact_sum("l_extendedprice")).alias("total"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "gid",
            "n",
            "total",
        )
    )


@register(
    "pivot_linestatus",
    oracle="""
        SELECT l_returnflag,
               CAST(round(coalesce(sum(CASE WHEN l_linestatus = 'O'
                          THEN CAST(l_extendedprice AS DECIMAL(12,2)) END), 0), 2)
                    AS DOUBLE) AS open_total,
               CAST(round(coalesce(sum(CASE WHEN l_linestatus = 'F'
                          THEN CAST(l_extendedprice AS DECIMAL(12,2)) END), 0), 2)
                    AS DOUBLE) AS filled_total
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("extended", "pivot"),
)
def pivot_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT on an explicit value list (no second scan to discover
    values — the implicit form costs an extra distinct pass).

    Determinism: the pivoted money sums are EXACT (the compound
    exact_sum expression rides inside the pivot aggregate — pivot
    cells whose (flag, status) pair never occurs stay NULL and
    coalesce to 0 in exact decimal space before the one round/cast)."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(exact_sum("l_extendedprice"))
        .select(
            "l_returnflag",
            money_round(F.coalesce("O", F.lit(0))).alias("open_total"),
            money_round(F.coalesce("F", F.lit(0))).alias("filled_total"),
        )
    )


@register(
    "order_set_ops",
    oracle="""
        WITH y96 AS (SELECT DISTINCT o_custkey FROM orders
                     WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                       AND o_orderdate < TIMESTAMP '1997-01-01'),
             y97 AS (SELECT DISTINCT o_custkey FROM orders
                     WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                       AND o_orderdate < TIMESTAMP '1998-01-01')
        SELECT 'only_1996' AS tag, o_custkey FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y97)
        UNION ALL
        SELECT 'both_years' AS tag, o_custkey FROM (SELECT * FROM y96 INTERSECT SELECT * FROM y97)
    """,
    tags=("extended", "setops"),
)
def order_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT / INTERSECT / UNION ALL in one query (§2.6 'absent' in
    the reference).  Catalyst plans except/intersect as anti/semi hash
    joins on the distinct sets."""
    o = load_table(spark, sf_dir, "orders")

    def year(y: int) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
            )
            .select("o_custkey")
            .distinct()
        )

    y96, y97 = year(1996), year(1997)
    only96 = y96.exceptAll(y97).select(F.lit("only_1996").alias("tag"), "o_custkey")
    both = y96.intersect(y97).select(F.lit("both_years").alias("tag"), "o_custkey")
    return only96.unionAll(both)


@register(
    "distinct_stats",
    oracle="""
        SELECT o_orderstatus,
               count(DISTINCT o_custkey)::BIGINT AS n_customers,
               count(DISTINCT o_orderpriority)::BIGINT AS n_priorities,
               count(*)::BIGINT AS n_orders
        FROM orders GROUP BY o_orderstatus
    """,
    tags=("extended", "agg"),
)
def distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column COUNT(DISTINCT) — Catalyst expands to the
    expand+two-phase aggregate plan automatically."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.count("*").alias("n_orders"),
    )


@register(
    "approx_stats",
    oracle="""
        SELECT l_returnflag,
               count(*)::BIGINT AS n_rows,
               true AS orders_est_ok,
               true AS parts_est_ok,
               true AS q50_rank_ok,
               true AS q95_rank_ok,
               true AS q99_rank_ok
        FROM lineitem GROUP BY l_returnflag
    """,
    tags=("extended", "approx"),
)
def approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates for 100 TB interactivity — HyperLogLog++
    NDV and quantile sketches — shipped WITH their accuracy audit.

    Sketch internals are engine-specific, so raw estimates can't be
    hash-compared against DuckDB.  What CAN be differentially checked
    is the error contract: per group the query emits the exact row
    count plus booleans asserting each estimate honors its documented
    bound — HLL++ NDV within 15% of the exact distinct count (default
    rsd 0.05, 3σ), and each percentile_approx value's exact rank within
    ±0.01 of its target quantile (accuracy 1000 → rank error 1e-3,
    10× inside the asserted bound — accuracy 10000 bought 1e-4 the
    contract never used).  The oracle computes the same contract from
    exact values — `true` per group — so any bound violation is a hash
    mismatch, not a silent pass.  The booleans are also
    partitioning-stable even where the underlying quantile sketch merge
    is not, because the contract holds for every merge order.

    Plan shape (the r08 perf watch item, 8.9–14.9 s → ~1.5 s at sf0.1):
    the sketches and the exact COUNT(DISTINCT) audit columns aggregate
    in SEPARATE passes joined on the group key.  Fused, Catalyst's
    Expand for two distinct columns replicates every fact row 3× and
    every sketch update (HLL registers, KLL buffer inserts) runs on the
    expanded, null-gated stream — profiling put the fused form at 7–10 s
    vs 0.8–1.3 s split, with each arm alone sub-second.  The split is
    also the honest 100 TB posture: the sketch pass is the product
    surface (one scan, mergeable state, no Expand ever touches it), the
    exact pass is audit-only scaffolding a production deployment drops.
    The three quantiles share ONE KLL sketch via the array form
    (one buffer per group, not three).  Joining two group-cardinality
    aggregates is an AQE-broadcast no-op.

    Exact twins for the raw values: distinct_stats / q1.  Cost: sketch
    scan + audit scans (exact-NDV pass and the rank check of the three
    quantile values against a group-sized broadcast)."""
    l = load_table(spark, sf_dir, "lineitem")
    sketch = l.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx(
            "l_extendedprice", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)), 1000
        ).alias("qs"),
    )
    exact = l.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    est = (
        sketch.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            "n_rows",
            "approx_orders",
            "approx_parts",
            "exact_orders",
            "exact_parts",
            F.col("qs")[0].alias("price_q50"),
            F.col("qs")[1].alias("price_q95"),
            F.col("qs")[2].alias("price_q99"),
        )
        .localCheckpoint(eager=True)
    )
    # est/ranks are group-cardinality frames (tiny in practice) but NOT
    # bounded by construction, so no explicit broadcast hint — AQE sizes
    # both joins at runtime (repo rule: hints only on provable bounds).
    ranks = (
        l.select("l_returnflag", "l_extendedprice")
        .join(est, "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            *[
                (
                    F.sum(
                        F.when(
                            F.col("l_extendedprice") <= F.col(f"price_q{q}"), 1
                        ).otherwise(0)
                    )
                    / F.count("*")
                ).alias(f"rank_q{q}")
                for q in (50, 95, 99)
            ]
        )
    )

    def ndv_ok(approx, exact):
        return (
            F.abs(F.col(approx) - F.col(exact)) <= 0.15 * F.col(exact)
        )

    def rank_ok(q):
        target = q / 100.0
        return (F.col(f"rank_q{q}") >= target - 0.01) & (
            F.col(f"rank_q{q}") <= target + 0.01
        )

    return est.join(ranks, "l_returnflag").select(
        "l_returnflag",
        "n_rows",
        ndv_ok("approx_orders", "exact_orders").alias("orders_est_ok"),
        ndv_ok("approx_parts", "exact_parts").alias("parts_est_ok"),
        rank_ok(50).alias("q50_rank_ok"),
        rank_ok(95).alias("q95_rank_ok"),
        rank_ok(99).alias("q99_rank_ok"),
    )


@register(
    "skew_salted_agg",
    oracle="""
        SELECT l_returnflag, count(*)::BIGINT AS n,
               round(sum(l_quantity), 2) AS total_qty
        FROM lineitem GROUP BY l_returnflag
    """,
    tags=("extended", "skew"),
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level salted aggregation: stage 1 groups by (key, salt) so a
    hot key spreads over 16 reducers, stage 2 merges the partials.
    Results identical to the direct groupBy (the oracle); the plan
    shape is what changes.  (For *joins* on skewed keys, AQE skew-join
    splitting is on via session conf — this pattern covers aggregation
    skew, which AQE does not rebalance.)"""
    l = load_table(spark, sf_dir, "lineitem")
    salted = l.withColumn("salt", F.pmod(F.xxhash64("l_orderkey"), F.lit(16)))
    partial = salted.groupBy("l_returnflag", "salt").agg(
        F.count("*").alias("pn"), F.sum("l_quantity").alias("pq")
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("pn").cast("long").alias("n"),
        F.round(F.sum("pq"), 2).alias("total_qty"),
    )


_BANDS = [
    ("budget", 0.0, 50_000.0),
    ("mid", 50_000.0, 150_000.0),
    ("upper_mid", 150_000.0, 250_000.0),
    ("premium", 250_000.0, 400_000.0),
    ("luxury", 400_000.0, 1e18),
]


@register(
    "price_band_range_join",
    oracle=f"""
        WITH bands(band, lo, hi) AS (VALUES
            {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _BANDS)}
        )
        SELECT b.band,
               count(*)::BIGINT AS n_orders,
               CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS total,
               round(min(o.o_totalprice), 2) AS min_price,
               round(max(o.o_totalprice), 2) AS max_price
        FROM orders o
        JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
        GROUP BY b.band
    """,
    tags=("extended", "rangejoin"),
)
def price_band_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: each fact row lands in the band whose
    [lo, hi) interval contains it.  The interval side broadcasts, so
    the fact table is scanned once with no shuffle — a
    BroadcastNestedLoopJoin whose inner side is 5 rows is O(n·bands)
    with zero exchange, which IS the right plan when intervals are
    few.  (When the interval side is itself large, the scale path is
    bucket-prefiltering: explode intervals over coarse buckets,
    equi-join on bucket, then refine the range predicate — same
    composition, one extra explode stage.)"""
    o = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(_BANDS, "band string, lo double, hi double")
    return (
        o.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_orders"),
            money_round(exact_sum("o_totalprice")).alias("total"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


@register(
    "skew_salted_join",
    oracle="""
        SELECT n.n_name,
               count(*)::BIGINT AS n_customers,
               CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS total_bal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """,
    tags=("extended", "skew"),
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manually salted equi-join for hot keys: the fact side appends a
    deterministic salt (row key mod NSALT) to its join key; the dim
    side explodes into NSALT replicas, one per salt value, so a hot
    key's rows spread over NSALT tasks instead of one straggler.
    Results are identical to the unsalted join (the oracle runs the
    plain join).  This is the fallback when AQE skew splitting can't
    fire — e.g. a broadcast-inelegible mid-size dim or a streaming
    join; NSALT here is 8, sized to the executor count at scale."""
    NSALT = 8
    c = load_table(spark, sf_dir, "customer").withColumn(
        "salt", (F.col("c_custkey") % NSALT).cast("int")
    )
    n = load_table(spark, sf_dir, "nation").withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(NSALT)]))
    )
    return (
        c.join(n, (c.c_nationkey == n.n_nationkey) & (c.salt == n.salt))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            money_round(exact_sum("c_acctbal")).alias("total_bal"),
        )
    )


@register(
    "sql_revenue_by_region",
    oracle="""
        SELECT r.r_name,
               count(DISTINCT c.c_custkey)::BIGINT AS n_customers,
               CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS total_revenue
        FROM region r
        JOIN nation n ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY r.r_name
    """,
    tags=("extended", "sql"),
)
def sql_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The plain-SQL surface: identical ANSI SQL runs on Spark and on
    the DuckDB oracle — users who query the reference's Postgres in SQL
    keep writing SQL here, same Catalyst plan as the DataFrame form
    (broadcast dims, partial agg).  The tables are passed as
    `spark.sql` keyword frames, which PySpark binds to uniquely named
    views for analysis only, so a run leaves the session's temp views
    as it found them."""
    return spark.sql(
        """
        SELECT r.r_name,
               count(DISTINCT c.c_custkey) AS n_customers,
               CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS total_revenue
        FROM {region} r
        JOIN {nation} n ON n.n_regionkey = r.r_regionkey
        JOIN {customer} c ON c.c_nationkey = n.n_nationkey
        JOIN {orders} o ON o.o_custkey = c.c_custkey
        GROUP BY r.r_name
        """,
        **{t: load_table(spark, sf_dir, t) for t in ("region", "nation", "customer", "orders")},
    )


# ---------------------------------------------------------------------------
# Funnel conversion (ordered multi-stage user journey)
# ---------------------------------------------------------------------------

@register(
    "funnel_conversion",
    oracle="""
        WITH e AS (
            SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
        ),
        v AS (
            SELECT user_id, min(tus) AS vt FROM e
            WHERE event_type = 'view' GROUP BY 1
        ),
        c AS (
            SELECT e.user_id, min(tus) AS ct
            FROM e JOIN v USING (user_id)
            WHERE event_type = 'click' AND tus > vt GROUP BY 1
        ),
        p AS (
            SELECT e.user_id, min(tus) AS pt
            FROM e JOIN c USING (user_id)
            WHERE event_type = 'purchase' AND tus > ct GROUP BY 1
        )
        SELECT (SELECT count(*) FROM v)::BIGINT AS n_view,
               (SELECT count(*) FROM c)::BIGINT AS n_click_after_view,
               (SELECT count(*) FROM p)::BIGINT AS n_purchase_after_click
    """,
    tags=("events", "analytics"),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view -> click -> purchase funnel: users counted at a
    stage only if the stage's FIRST event strictly follows their first
    event of the previous stage.  Each stage is one filtered min-
    aggregate on user_id; the per-user stage tables shrink monotonically
    down the funnel, so each successive join is smaller than the last
    and every shuffle shares the user_id key (one exchange per stage,
    all co-partitioned).  Timestamps compared as epoch-us integers —
    zero cross-engine float/timezone risk."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts_ns DIV 1000").alias("tus")
    )
    # each stage table feeds BOTH the next stage and the final count —
    # materialize them (user-cardinality, monotonically shrinking) so
    # lineage replay doesn't re-scan events per consumer (plan audit
    # showed 6 fact scans for a 3-stage funnel; now one per stage)
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("tus").alias("vt"))
        .localCheckpoint(eager=True)
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("tus") > F.col("vt"))
        .groupBy("user_id")
        .agg(F.min("tus").alias("ct"))
        .localCheckpoint(eager=True)
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("tus") > F.col("ct"))
        .groupBy("user_id")
        .agg(F.min("tus").alias("pt"))
    )
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_click_after_view")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase_after_click")))
    )


# ---------------------------------------------------------------------------
# Cohort retention (first-seen day x activity-day offset)
# ---------------------------------------------------------------------------

@register(
    "cohort_retention",
    oracle="""
        WITH e AS (
            SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
        ),
        f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1)
        SELECT cohort_day::BIGINT AS cohort_day,
               (day - cohort_day)::BIGINT AS day_offset,
               count(DISTINCT user_id)::BIGINT AS n_users
        FROM e JOIN f USING (user_id)
        WHERE day - cohort_day <= 7
        GROUP BY 1, 2
    """,
    tags=("events", "analytics"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: users bucketed by first-active day
    (epoch-day integers — no timezone ambiguity in either engine),
    counted distinct per (cohort, day-offset) for the first week.  The
    first-seen table is user-cardinality (<< events) and shares the
    user_id exchange with the distinct count, so the plan is two
    user-keyed aggregates around one join — AQE picks broadcast when
    the user dimension fits, plain shuffle join when it doesn't."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("(ts_ns DIV 1000) DIV 86400000000").alias("day")
    )
    f = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        e.join(f, "user_id")
        .filter(F.col("day") - F.col("cohort_day") <= 7)
        .groupBy(
            F.col("cohort_day").cast("long").alias("cohort_day"),
            (F.col("day") - F.col("cohort_day")).cast("long").alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# PageRank over the nation trade graph (aggregate-big, iterate-small)
# ---------------------------------------------------------------------------

_PR_EDGES = """
    SELECT n1.n_name AS src, n2.n_name AS dst,
           sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS w
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    GROUP BY 1, 2
"""


def _pr_step(prev: str) -> str:
    return f"""
        SELECT nodes.node, nodes.cnt,
               0.15 / nodes.cnt
                   + 0.85 * coalesce(sum({prev}.r
                       * (CAST(e.w AS DOUBLE) / CAST(outw.ow AS DOUBLE))), 0) AS r
        FROM nodes
        LEFT JOIN edges e ON e.dst = nodes.node
        LEFT JOIN outw ON outw.src = e.src
        LEFT JOIN {prev} ON {prev}.node = e.src
        GROUP BY nodes.node, nodes.cnt
    """


@register(
    "trade_pagerank",
    oracle=f"""
        WITH edges AS ({_PR_EDGES}),
        outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY 1),
        nodes AS (
            SELECT n_name AS node,
                   (SELECT count(*) FROM nation)::DOUBLE AS cnt
            FROM nation
        ),
        r0 AS (SELECT node, cnt, 1.0 / cnt AS r FROM nodes),
        r1 AS ({_pr_step('r0')}),
        r2 AS ({_pr_step('r1')}),
        r3 AS ({_pr_step('r2')})
        SELECT node AS nation, round(r, 6) AS pagerank FROM r3
    """,
    tags=("iterative", "graph", "tpch"),
)
def trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (d=0.85, 3 synchronous iterations, dangling
    mass dropped) over the nation->nation trade graph.  The 100 TB
    pattern on display: ONE corpus-scale join-aggregate collapses the
    fact tables to a nodes^2-bounded edge list (weights summed as EXACT
    decimals, so both engines iterate from identical shares), and the
    iteration then runs entirely on that tiny graph — each step is a
    broadcast join + re-aggregate, no further contact with the fact
    data.  For graphs too large to broadcast, the same loop runs with
    hash joins + per-iteration localCheckpoint (the dedup_clusters
    pattern); the oracle unrolls the identical three steps as CTEs."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("src")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("dst")
    )
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .groupBy("src", "dst")
        .agg(_rev_sum().alias("w"))
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    # materialize the nodes^2-bounded edge list ONCE: without this the
    # iteration's lineage re-derives the corpus-scale join-aggregate on
    # every step (the plan audit showed 44 FileScans for 3 iterations)
    e2 = (
        edges.join(F.broadcast(outw), "src")
        .select(
            "src",
            "dst",
            (F.col("w").cast("double") / F.col("ow").cast("double")).alias("share"),
        )
        .localCheckpoint(eager=True)
    )
    ncnt = nation.agg(F.count("*").cast("double").alias("cnt"))
    nodes = nation.select(F.col("n_name").alias("node")).crossJoin(F.broadcast(ncnt))
    r = nodes.select("node", "cnt", (F.lit(1.0) / F.col("cnt")).alias("r"))
    for _ in range(3):
        contrib = (
            F.broadcast(e2)
            .join(r.select(F.col("node").alias("src"), "r"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("r") * F.col("share")).alias("contrib"))
        )
        r = (
            nodes.join(F.broadcast(contrib), nodes.node == contrib.dst, "left")
            .select(
                "node",
                "cnt",
                (
                    F.lit(0.15) / F.col("cnt")
                    + F.lit(0.85) * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return r.select(F.col("node").alias("nation"), F.round("r", 6).alias("pagerank"))


# ---------------------------------------------------------------------------
# Operational monitoring: hourly error rate + anomaly z-scores
# ---------------------------------------------------------------------------

@register(
    "error_rate_hourly",
    oracle="""
        SELECT (epoch_us(ts) // 3600000000)::BIGINT AS hour_id,
               count(*)::BIGINT AS n_events,
               sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
                   AS n_errors,
               round(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                     * 1.0 / count(*), 4) AS error_rate,
               (sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 1.0
                / count(*) > 0.25) AS alert
        FROM events GROUP BY 1
    """,
    tags=("events", "monitoring"),
)
def error_rate_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine-side form of the reference's error escalation (its
    SMTP-on-ERROR handler, encodesrv/logs/log.py:32-38): per-hour error
    share over the event stream with an alert flag.  One partial-
    aggregated groupBy on epoch-hour integers; the streaming twin is
    hourly_counts + a filter on the rate."""
    e = load_table(spark, sf_dir, "events").select(
        F.expr("(ts_ns DIV 1000) DIV 3600000000").alias("hour_id"), "event_type"
    )
    err = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    return e.groupBy(F.col("hour_id").cast("long").alias("hour_id")).agg(
        F.count("*").alias("n_events"),
        err.cast("long").alias("n_errors"),
        F.round(err * 1.0 / F.count("*"), 4).alias("error_rate"),
        (err * 1.0 / F.count("*") > 0.25).alias("alert"),
    )


@register(
    "value_anomaly_zscore",
    oracle="""
        WITH m AS (
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS s1,
                   CAST(sum(CAST(value AS DECIMAL(12,2))
                            * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS s2
            FROM events GROUP BY 1
        ),
        stats AS (
            SELECT event_type, s1 / n AS mu,
                   sqrt(greatest(CAST(0 AS DOUBLE),
                        (s2 - s1 * s1 / n) / nullif(n - 1, 0))) AS sd
            FROM m
        )
        SELECT e.event_id, e.event_type,
               round(e.value, 2) AS value,
               round((e.value - s.mu) / nullif(s.sd, 0), 2) AS z
        FROM events e JOIN stats s USING (event_type)
        WHERE abs(round((e.value - s.mu) / nullif(s.sd, 0), 2)) >= 3.0
    """,
    tags=("events", "monitoring"),
)
def value_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers (|z| >= 3): the two-pass pattern — a
    type-cardinality stats aggregate BROADCAST back onto the stream-
    scale side, so the detector is one map-side join away from the raw
    events (no second shuffle).  z is rounded before thresholding on
    both sides, the established cross-engine fp rule.

    Determinism: engine-native avg/stddev merge doubles in
    partition-order-dependent ways, so mu/sd derive from EXACT
    decimal moments (Σv, Σv² via exact_sum — value is probed 2-dp
    data) through identical IEEE double expressions on both engines.
    The variance is clamped (greatest 0 — catastrophic cancellation on
    a near-constant type could land at −ε, where DuckDB's
    sqrt(negative) ERRORS rather than NaNs) and both the n−1 divisor
    and the sd denominator route through nullif, so degenerate types
    (one event, zero variance) yield NULL z and drop out of the |z|
    filter identically on both engines — the events_cusum template."""
    e = load_table(spark, sf_dir, "events")
    m = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        exact_sum("value").alias("s1d"),
        exact_sum("value", "value").alias("s2d"),
    )
    s1, s2, n = F.col("s1d").cast("double"), F.col("s2d").cast("double"), F.col("n")
    stats = m.select(
        "event_type",
        (s1 / n).alias("mu"),
        F.sqrt(
            F.greatest(
                F.lit(0.0), (s2 - s1 * s1 / n) / F.nullif(n - F.lit(1), F.lit(0))
            )
        ).alias("sd"),
    )
    z = F.round(
        (F.col("value") - F.col("mu")) / F.nullif(F.col("sd"), F.lit(0.0)), 2
    )
    return (
        e.join(F.broadcast(stats), "event_type")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) >= 3.0)
        .select("event_id", "event_type", F.round("value", 2).alias("value"), "z")
    )


@register(
    "bloom_prune_join",
    oracle="""
        SELECT o.o_orderpriority,
               count(*)::BIGINT AS n,
               CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                              * CAST(1 - l.l_discount AS DECIMAL(4,2))), 2)
                    AS DOUBLE) AS revenue
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority = '1-URGENT'
        GROUP BY o.o_orderpriority
    """,
    tags=("extended", "scale", "bloom"),
)
def bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning (operators/bloom.py): the fact side is
    cut to might-match rows BEFORE the join, so at 100 TB the shuffle
    moves only the selective subset instead of the whole table.  A
    Bloom filter has no false negatives and the prune is followed by an
    exact join, so the result equals the plain join — which is exactly
    what the oracle runs.  The bit array is built distributed (bit_or
    per 64-bit word), ships as ONE scalar-subquery row, and the k bit probes
    are JVM expressions inside codegen — no Python, no driver collect."""
    from encodesrv_spark.operators.bloom import bloom_prune

    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderpriority")
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    pruned = bloom_prune(l, o, "l_orderkey", "o_orderkey")
    return (
        pruned.join(o, pruned["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            money_round(_rev_sum()).alias("revenue"),
        )
    )


@register(
    "bloom_prune_selective",
    oracle="""
        SELECT o.o_orderstatus,
               count(*)::BIGINT AS n,
               CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                              * CAST(1 - l.l_discount AS DECIMAL(4,2))), 2)
                    AS DOUBLE) AS revenue
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey % 128 = 0
        GROUP BY o.o_orderstatus
    """,
    tags=("extended", "scale", "bloom"),
)
def bloom_prune_selective(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bloom_prune_join at its design point: the filter side is a
    ~0.8% key sample (orderkey ≡ 0 mod 128 — the drill-down-a-sample
    shape), so the Bloom probe eliminates >99% of the fact side BEFORE
    the join.  At 100 TB that is the difference between shuffling the
    whole lineitem table and shuffling <1% of it; the bit array is
    still one scalar-subquery row (m/8 bytes) regardless of SF.  The join
    itself carries no broadcast hint (both sides sf-scaled — AQE
    decides); the oracle is the plain join, which must agree exactly
    because Bloom filters have no false negatives and the prune is
    followed by the exact join."""
    from encodesrv_spark.operators.bloom import bloom_prune

    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 128 == 0)
        .select("o_orderkey", "o_orderstatus")
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    pruned = bloom_prune(l, o, "l_orderkey", "o_orderkey")
    return (
        pruned.join(o, pruned["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            money_round(_rev_sum()).alias("revenue"),
        )
    )


# Derived write-once layout copies (bucketed / z-ordered) live here,
# named {layout}_{sf-tag}_p{pid} so scale factors never collide AND two
# CONCURRENT PROCESSES never share a path (ADVICE r07: the per-path
# locks below only serialize threads within one process — pytest and
# check_oracle running at once could otherwise overwrite the path the
# other is mid-read on).  The pid suffix makes every process's copies
# private; an atexit hook removes them on normal exit (a crashed
# process leaves garbage under spark-warehouse, which the next write
# neither reads nor trips over — names can't collide).  The copies are
# keyed by SESSION-scoped state (catalog / module set), never by path
# existence, so a regenerated testdata directory is always re-derived
# by a fresh process.
_WAREHOUSE = "/root/repo/spark-warehouse"
_LAYOUT_PATHS: set[str] = set()


def _layout_path(name: str) -> str:
    import atexit

    path = f"{_WAREHOUSE}/{name}"
    if not _LAYOUT_PATHS:
        _sweep_dead_layouts()

        def _cleanup(paths=_LAYOUT_PATHS):
            import shutil

            for p in paths:
                shutil.rmtree(p, ignore_errors=True)

        atexit.register(_cleanup)
    _LAYOUT_PATHS.add(path)
    return path


def _sweep_dead_layouts() -> None:
    """Once per process (first layout write): remove warehouse entries
    whose `_p{pid}` suffix names a DEAD process — the garbage a crashed
    run leaves behind (normal exits clean up after themselves via the
    atexit hook; a LIVE pid's copies are never touched, so concurrent
    processes stay isolated).  Covers maintenance staging dirs too
    (`*__maintain_p{pid}`).  Best-effort: the sweep is hygiene, never
    correctness — nothing ever reads another process's paths."""
    import os
    import re
    import shutil

    try:
        entries = os.listdir(_WAREHOUSE)
    except OSError:
        return
    for entry in entries:
        m = re.search(r"_p(\d+)$", entry)
        if not m or int(m.group(1)) == os.getpid():
            continue
        try:
            os.kill(int(m.group(1)), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(_WAREHOUSE, entry),
                          ignore_errors=True)
        except (PermissionError, OSError):
            pass  # live (or unknowable) pid — leave its copies alone


def _sf_tag(sf_dir: str) -> str:
    import os
    import re

    return re.sub(r"\W+", "_", sf_dir.strip("/")) + f"_p{os.getpid()}"


def _bucketed_copy(spark: SparkSession, sf_dir: str, table: str, key: str,
                   cols: list[str], n_buckets: int = 8) -> DataFrame:
    """Write-once bucketed+sorted copy of a testdata table, keyed for
    the zero-exchange join (sources/bucketed.py contract).  The table
    name embeds sf_dir and the pid so SFs and concurrent processes
    never collide; within a session the copy is written once and
    reused from the catalog."""
    from encodesrv_spark.sources.bucketed import read_bucketed, write_bucketed

    name = f"{table}_bkt_{_sf_tag(sf_dir)}"
    if not spark.catalog.tableExists(name):
        write_bucketed(
            load_table(spark, sf_dir, table).select(*cols), name, key,
            n_buckets, _layout_path(name),
        )
    return read_bucketed(spark, name)


@register(
    "bucketed_colocated_join",
    oracle="""
        SELECT o.o_orderstatus,
               count(*)::BIGINT AS n,
               CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                              * CAST(1 - l.l_discount AS DECIMAL(4,2))), 2)
                    AS DOUBLE) AS revenue
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderstatus
    """,
    tags=("extended", "scale", "bucketed"),
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The zero-exchange fact↔fact join, end-to-end: orders and
    lineitem are written bucketed+sorted by the join key
    (sources/bucketed.py), then joined WITHOUT any shuffle — each task
    zips bucket i of one side with bucket i of the other, because the
    catalog's bucket spec already satisfies the join's distribution
    requirement.  At 100 TB the dominant cost of a fact↔fact join is
    shuffling both sides; bucketing pays that shuffle ONCE at write
    time and amortizes it over every subsequent join on the key — the
    layout a jobs/lineitem-scale pipeline wants for its hot join.

    The merge hint pins sort-merge (at the gate SFs the orders side
    would broadcast, which also avoids the exchange but would not
    exercise the bucketed path being proven; at production SF merge is
    what AQE picks anyway).  The plan contract — zero Exchange
    anywhere under the join — is asserted by
    tests/test_plans.py::test_bucketed_colocated_join_plan.  The
    oracle is the plain join on the raw parquet: the bucketed copy is
    a pure re-layout, so results must match exactly; revenue is the
    exact decimal money sum."""
    ob = _bucketed_copy(
        spark, sf_dir, "orders", "o_orderkey", ["o_orderkey", "o_orderstatus"]
    )
    lb = _bucketed_copy(
        spark, sf_dir, "lineitem", "l_orderkey",
        ["l_orderkey", "l_extendedprice", "l_discount"],
    )
    return (
        lb.hint("merge")
        .join(ob, lb["l_orderkey"] == ob["o_orderkey"])
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            money_round(_rev_sum()).alias("revenue"),
        )
    )


import threading

# Session-scoped write-once registry for the z-ordered events copy
# (same contract as _bucketed_copy's catalog check: the copy is
# rewritten once per PROCESS, so a regenerated testdata directory can
# never serve a stale layout across driver rounds; the _sf_tag pid
# suffix makes the path per-process, so OTHER processes can neither
# read a half-written copy nor overwrite one mid-read — ADVICE r07).
# Locking is PER-PATH — the oracle harness runs queries from 4
# threads, and a thread building sf A's copy must not block one
# reading sf B's — with a tiny meta-lock guarding only the lock-map
# itself.
_ZORDER_DONE: set[str] = set()
_ZORDER_LOCKS: dict[str, threading.Lock] = {}
_ZORDER_META = threading.Lock()


def _zorder_events_copy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-once Z-order-clustered copy of events on (user_id, value):
    each output file owns a bounded range of BOTH columns, so a 2-D box
    predicate prunes files/row-groups on either dimension (linear
    clustering gives locality on one column only)."""
    from encodesrv_spark.sources.compaction import write_zorder_clustered

    path = _layout_path(f"events_z_{_sf_tag(sf_dir)}")
    with _ZORDER_META:
        lock = _ZORDER_LOCKS.setdefault(path, threading.Lock())
    with lock:
        if path not in _ZORDER_DONE:
            write_zorder_clustered(
                load_table(spark, sf_dir, "events").select(
                    "event_id", "user_id", "event_type", "value"
                ),
                path, 16, "user_id", "value",
            )
            _ZORDER_DONE.add(path)
    return spark.read.parquet(path)


@register(
    "events_zorder_box_scan",
    oracle="""
        SELECT event_type,
               count(*)::BIGINT AS n,
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS total_value
        FROM events
        WHERE user_id BETWEEN 3 AND 9 AND value BETWEEN 50 AND 200
        GROUP BY event_type
    """,
    tags=("extended", "scale", "layout"),
)
def events_zorder_box_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D box scan over the Z-order-clustered layout, end-to-end:
    events are written ONCE clustered on the Morton curve of
    (user_id, value) (`sources/compaction.py::write_zorder_clustered` —
    approxQuantile buckets + JVM bit-interleave, no global sort), then
    a box predicate on BOTH dimensions (a user cohort × a value band)
    reads the copy.  Completes the layout-contract family beside the
    bucketed join: partitioning prunes on one coarse key, bucketing
    co-locates a join key, Z-order gives file-level locality on TWO
    range dimensions at once — at 100 TB the cohort box touches the
    few files whose (user, value) ranges intersect it instead of the
    whole fact table (file-subset property asserted in
    tests/test_plans.py::test_zorder_box_touches_file_subset).

    The box is deliberately ABSOLUTE-sized (7 users × a value band):
    as the corpus grows the matching rows stay ~constant, which is
    exactly when layout pruning pays — selectivity rises with SF.

    The oracle runs the same box on the RAW table: the clustered copy
    is a pure re-layout, so results must match exactly; the money sum
    is the exact cents path."""
    z = _zorder_events_copy(spark, sf_dir)
    return (
        z.filter(
            F.col("user_id").between(3, 9) & F.col("value").between(50, 200)
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            money_round(exact_sum("value")).alias("total_value"),
        )
    )


def _zorder_maintained_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-once APPEND-THEN-MAINTAIN events copy: the z-ordered base
    layout (80% of rows), four unclustered micro-batch appends (the
    60 s ingest loop's writes — 8 small files of layout debt), then one
    `zorder_maintain` pass that compacts ONLY the delta files onto the
    base curve.  Same session-scoped write-once + per-path-lock
    contract as `_zorder_events_copy`."""
    from encodesrv_spark.sources.compaction import (
        write_zorder_clustered,
        zorder_append,
        zorder_maintain,
    )

    path = _layout_path(f"events_zm_{_sf_tag(sf_dir)}")
    with _ZORDER_META:
        lock = _ZORDER_LOCKS.setdefault(path, threading.Lock())
    with lock:
        if path not in _ZORDER_DONE:
            ev = load_table(spark, sf_dir, "events").select(
                "event_id", "user_id", "event_type", "value"
            )
            write_zorder_clustered(
                ev.filter(F.col("event_id") % 5 != 0), path, 12,
                "user_id", "value",
            )
            for b in range(4):
                zorder_append(
                    ev.filter(F.col("event_id") % 20 == 5 * b), path,
                    n_files=2,
                )
            zorder_maintain(spark, path, min_delta_files=4, n_files=2)
            _ZORDER_DONE.add(path)
    return spark.read.parquet(path)


@register(
    "events_zorder_append_maintain",
    oracle="""
        SELECT event_type,
               count(*)::BIGINT AS n,
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS total_value
        FROM events
        WHERE user_id BETWEEN 10 AND 16 AND value BETWEEN 100 AND 300
        GROUP BY event_type
    """,
    tags=("extended", "scale", "layout"),
)
def events_zorder_append_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental layout maintenance, end-to-end (VERDICT r07 #4): a
    micro-batch pipeline APPENDS to the z-ordered events copy — four
    unclustered batches land as 8 small files of layout debt — then the
    manifest-triggered `zorder_maintain` pass compacts ONLY those delta
    files onto the base curve (same bucket boundaries from the layout
    sidecar), leaving every base file byte-untouched.  The 2-D box scan
    then reads the maintained table.

    Scale contract: ingest stays cheap (append n files, no sample/
    shuffle), maintenance cost is proportional to the DELTA (200 GB of
    appends against a 100 TB table reads/writes 200 GB, never the
    table), and the box scan keeps its file-subset pruning because the
    delta was re-clustered on the SAME curve — one extra sorted run per
    pass, the LSM trade.  No full-table rewrite per batch + base files
    untouched + post-maintenance pruning are all asserted in
    tests/test_plans.py (test_zorder_maintain_incremental /
    test_zorder_maintained_box_still_prunes).

    The oracle runs the same box on the RAW table: base write, appends,
    and maintenance are all pure re-layouts of a row partition of
    events, so results must match exactly; the money sum is the exact
    cents path."""
    z = _zorder_maintained_events(spark, sf_dir)
    return (
        z.filter(
            F.col("user_id").between(10, 16) & F.col("value").between(100, 300)
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            money_round(exact_sum("value")).alias("total_value"),
        )
    )


# SCD2 batch timestamps — fixed literals so both engines emit
# byte-identical rendered strings (the established timestamp rule).
_SCD_T0 = "2024-01-01 00:00:00"
_SCD_T1 = "2024-07-01 00:00:00"


@register(
    "part_scd2_price_history",
    oracle=f"""
        WITH cur AS MATERIALIZED (
            SELECT p_partkey, p_brand, p_retailprice FROM part
        ),
        chg AS MATERIALIZED (
            SELECT p_partkey, p_brand,
                   CASE WHEN p_partkey % 7 = 0
                        THEN p_retailprice + CAST(10.0 AS DOUBLE)
                        ELSE p_retailprice END AS p_retailprice
            FROM part
            WHERE p_partkey % 7 = 0 OR p_partkey % 11 = 0
            UNION ALL
            SELECT -(p_partkey + 1) AS p_partkey,
                   'BRAND#NEW' AS p_brand, p_retailprice
            FROM part WHERE p_partkey % 97 = 0
        ),
        ck AS MATERIALIZED (
            SELECT c.p_partkey
            FROM chg c LEFT JOIN cur d USING (p_partkey)
            WHERE d.p_partkey IS NULL
               OR d.p_brand IS DISTINCT FROM c.p_brand
               OR d.p_retailprice IS DISTINCT FROM c.p_retailprice
        )
        SELECT d.p_partkey, d.p_brand, d.p_retailprice,
               '{_SCD_T0}' AS valid_from,
               CAST(NULL AS VARCHAR) AS valid_to,
               true AS is_current
        FROM cur d
        WHERE d.p_partkey NOT IN (SELECT p_partkey FROM ck)
        UNION ALL
        SELECT d.p_partkey, d.p_brand, d.p_retailprice,
               '{_SCD_T0}' AS valid_from,
               '{_SCD_T1}' AS valid_to,
               false AS is_current
        FROM cur d
        WHERE d.p_partkey IN (SELECT p_partkey FROM ck)
        UNION ALL
        SELECT c.p_partkey, c.p_brand, c.p_retailprice,
               '{_SCD_T1}' AS valid_from,
               CAST(NULL AS VARCHAR) AS valid_to,
               true AS is_current
        FROM chg c
        WHERE c.p_partkey IN (SELECT p_partkey FROM ck)
    """,
    tags=("extended", "scd", "dimension"),
)
def part_scd2_price_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension maintenance, end-to-end oracle-gated: the
    part dimension is bootstrapped into versioned history
    (operators/scd.py::scd2_init) and one deterministic change batch is
    applied (scd2_apply) — price changes (key ≡ 0 mod 7, +10.00),
    no-op updates (key ≡ 0 mod 11, values unchanged — must NOT churn
    history), and brand-new keys (-(key+1) for key ≡ 0 mod 97 — the
    +1 matters: testdata part keys include 0, so a plain negation
    would collide and hand the MERGE two change rows for one key).
    The reference mutates its formats dimension in place
    (schema.sql:29-52), losing history; SCD2 is the standard
    pipeline-scale fix, and this promotes the operator from unit-tested
    (tests/test_state_machine.py) to driver-gated.

    Scale shape: ONE full-outer key join of the current slice against
    the change batch plus a narrow per-row explode — one shuffle total.
    The shuffle is unavoidable at every batch size (a full-outer join
    has no broadcastable build side in Spark), and that is the right
    posture anyway: the batch can be a full-dimension resend, where a
    broadcast would OOM.  The no-op drop is the scale property that
    matters at 100 TB: an upstream that re-sends the full dimension
    nightly must not rewrite (or version-churn) the unchanged 99.9%.

    Determinism: fixed batch timestamps rendered as strings; the +10.00
    price bump is IEEE double addition, bit-identical across engines;
    change detection is null-safe equality on both sides."""
    from encodesrv_spark.operators.scd import scd2_apply, scd2_init

    dim = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    changes = (
        dim.filter((F.col("p_partkey") % 7 == 0) | (F.col("p_partkey") % 11 == 0))
        .select(
            "p_partkey",
            "p_brand",
            F.when(
                F.col("p_partkey") % 7 == 0,
                F.col("p_retailprice") + F.lit(10.0),
            )
            .otherwise(F.col("p_retailprice"))
            .alias("p_retailprice"),
        )
        .unionByName(
            dim.filter(F.col("p_partkey") % 97 == 0).select(
                (-(F.col("p_partkey") + F.lit(1))).alias("p_partkey"),
                F.lit("BRAND#NEW").alias("p_brand"),
                "p_retailprice",
            )
        )
    )
    hist = scd2_apply(
        scd2_init(dim, _SCD_T0),
        changes,
        "p_partkey",
        ["p_brand", "p_retailprice"],
        _SCD_T1,
    )
    return hist.select(
        "p_partkey",
        "p_brand",
        "p_retailprice",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "is_current",
    )


# As-of instants for the SCD2 fact-time routing query: the change batch
# lands MID-fact-range (shipdates span 1995-2001 in the generated
# testdata), so real fact rows fall on BOTH sides of the version
# boundary and the join must route each one to the version current at
# its own timestamp.
_ASOF_T0 = "1995-01-01 00:00:00"
_ASOF_T1 = "1998-01-01 00:00:00"


@register(
    "part_scd2_asof_join",
    oracle=f"""
        WITH cur AS MATERIALIZED (
            SELECT p_partkey, p_brand, p_retailprice FROM part
        ),
        chg AS MATERIALIZED (
            SELECT p_partkey, p_brand,
                   CASE WHEN p_partkey % 7 = 0
                        THEN p_retailprice + CAST(10.0 AS DOUBLE)
                        ELSE p_retailprice END AS p_retailprice
            FROM part
            WHERE p_partkey % 7 = 0 OR p_partkey % 11 = 0
        ),
        ck AS MATERIALIZED (
            SELECT c.p_partkey
            FROM chg c JOIN cur d USING (p_partkey)
            WHERE d.p_brand IS DISTINCT FROM c.p_brand
               OR d.p_retailprice IS DISTINCT FROM c.p_retailprice
        ),
        hist AS MATERIALIZED (
            SELECT d.p_partkey, d.p_brand, d.p_retailprice,
                   TIMESTAMP '{_ASOF_T0}' AS valid_from,
                   CAST(NULL AS TIMESTAMP) AS valid_to
            FROM cur d WHERE d.p_partkey NOT IN (SELECT p_partkey FROM ck)
            UNION ALL
            SELECT d.p_partkey, d.p_brand, d.p_retailprice,
                   TIMESTAMP '{_ASOF_T0}', TIMESTAMP '{_ASOF_T1}'
            FROM cur d WHERE d.p_partkey IN (SELECT p_partkey FROM ck)
            UNION ALL
            SELECT c.p_partkey, c.p_brand, c.p_retailprice,
                   TIMESTAMP '{_ASOF_T1}', CAST(NULL AS TIMESTAMP)
            FROM chg c WHERE c.p_partkey IN (SELECT p_partkey FROM ck)
        )
        SELECT h.p_brand,
               l.l_shipdate >= TIMESTAMP '{_ASOF_T1}' AS after_change,
               CASE WHEN h.valid_from = TIMESTAMP '{_ASOF_T1}'
                    THEN 'v2' ELSE 'v1' END AS version,
               count(*)::BIGINT AS n,
               CAST(round(sum(CAST(h.p_retailprice AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS retail_sum
        FROM lineitem l JOIN hist h
          ON l.l_partkey = h.p_partkey
         AND h.valid_from <= l.l_shipdate
         AND (h.valid_to IS NULL OR l.l_shipdate < h.valid_to)
        GROUP BY 1, 2, 3
    """,
    tags=("extended", "scd", "asof"),
)
def part_scd2_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of dimension join over SCD2 history — the POINT of keeping
    versions: "what price was this part when this line shipped?", the
    question the reference cannot answer because it mutates its formats
    dimension in place (schema.sql:29-52).  The part dimension is
    versioned with the same operator as `part_scd2_price_history`
    (operators/scd.py) but with the change batch landing mid-fact-range,
    then EVERY lineitem row joins to the version current at its own
    `l_shipdate` — per-row fact-time routing, not a fixed snapshot.
    The output proves the routing: rows shipped before the boundary
    must all land on v1; rows after it land on v2 exactly for the
    changed keys (and the exact retail sum catches a wrong-version
    price, since v2 = v1 + 10.00).

    Scale shape: an EQUI-join on the key with the validity interval as
    a residual filter over the ≤ 2 candidate versions — NOT a range
    join, so no explosion and no BroadcastNestedLoop at any size
    (asserted by tests/test_plans.py::test_scd2_asof_join_plan).  The
    history side carries NO broadcast hint, deliberately: part is an
    sf-SCALED relation, so a mandatory hint (AQE cannot demote it)
    would OOM at 100× — the suite's forced-broadcast guard bans
    exactly that.  Unhinted, Catalyst/AQE broadcasts the history
    whenever it actually fits: at every gate SF the static plan is
    already a BroadcastHashJoin with ZERO fact-side shuffle
    (plan-asserted), and for a genuinely fact-scaled dimension the
    equi-key shuffle join is the honest cost — the same posture the
    SCD2 apply states for its full-outer join.

    Determinism: fixed version timestamps; the +10.00 bump is IEEE
    double addition, bit-identical across engines; the money sum is the
    exact cents path."""
    from encodesrv_spark.operators.scd import scd2_apply, scd2_init

    dim = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    changes = dim.filter(
        (F.col("p_partkey") % 7 == 0) | (F.col("p_partkey") % 11 == 0)
    ).select(
        "p_partkey",
        "p_brand",
        F.when(
            F.col("p_partkey") % 7 == 0, F.col("p_retailprice") + F.lit(10.0)
        )
        .otherwise(F.col("p_retailprice"))
        .alias("p_retailprice"),
    )
    hist = scd2_apply(
        scd2_init(dim, _ASOF_T0),
        changes,
        "p_partkey",
        ["p_brand", "p_retailprice"],
        _ASOF_T1,
    )
    t1 = F.lit(_ASOF_T1).cast("timestamp")
    l = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_shipdate")
    j = l.join(
        hist,
        (F.col("l_partkey") == F.col("p_partkey"))
        & (F.col("valid_from") <= F.col("l_shipdate"))
        & (F.col("valid_to").isNull() | (F.col("l_shipdate") < F.col("valid_to"))),
    )
    return j.groupBy(
        "p_brand",
        (F.col("l_shipdate") >= t1).alias("after_change"),
        F.when(F.col("valid_from") == t1, "v2").otherwise("v1").alias("version"),
    ).agg(
        F.count("*").alias("n"),
        money_round(exact_sum("p_retailprice")).alias("retail_sum"),
    )


# CDC commit timestamps for the streaming-SCD2 batch twin: three
# commits applied IN SEQUENCE on top of the _SCD_T0 bootstrap.
_CDC_T1 = "2024-03-01 00:00:00"
_CDC_T2 = "2024-06-01 00:00:00"
_CDC_T3 = "2024-09-01 00:00:00"


@register(
    "part_scd2_cdc_replay",
    oracle=f"""
        SELECT p_partkey, p_brand, p_retailprice,
               '{_SCD_T0}' AS valid_from,
               CASE WHEN p_partkey % 7 = 0 THEN '{_CDC_T1}'
                    ELSE CAST(NULL AS VARCHAR) END AS valid_to,
               p_partkey % 7 <> 0 AS is_current
        FROM part
        UNION ALL
        SELECT p_partkey, p_brand,
               p_retailprice + CAST(10.0 AS DOUBLE),
               '{_CDC_T1}',
               CASE WHEN p_partkey % 49 = 0 THEN '{_CDC_T3}'
                    ELSE CAST(NULL AS VARCHAR) END,
               p_partkey % 49 <> 0
        FROM part WHERE p_partkey % 7 = 0
        UNION ALL
        SELECT p_partkey, p_brand,
               (p_retailprice + CAST(10.0 AS DOUBLE)) + CAST(10.0 AS DOUBLE),
               '{_CDC_T3}', CAST(NULL AS VARCHAR), true
        FROM part WHERE p_partkey % 49 = 0
        UNION ALL
        SELECT -(p_partkey + 1), 'BRAND#NEW', p_retailprice,
               '{_CDC_T2}', CAST(NULL AS VARCHAR), true
        FROM part WHERE p_partkey % 97 = 0
    """,
    tags=("extended", "scd", "cdc"),
)
def part_scd2_cdc_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-commit CDC replay into SCD2 history — the BATCH TWIN of
    the streaming maintenance sink (streaming/scd.py::Scd2Stream):
    three deterministic CDC commits are folded last-write-wins and
    applied IN SEQUENCE, exactly the per-micro-batch work the
    `foreachBatch` form does against the 60 s control loop the engine
    is built around (reference poll loop `encodesrv/__init__.py:97-141`;
    in-place dimension edits `schema.sql:29-52`).
    `tests/test_stateful_streaming.py::test_scd2_stream_matches_batch_replay`
    asserts the streamed history equals this query row-for-row,
    including a whole-commit redelivery.

    The commits exercise the CDC failure modes the fold/apply contract
    exists for: commit 1 carries a SAME-COMMIT double-update (keys
    ≡ 0 mod 21 appear with +5 at seq 1 and +10 at seq 2 — last write
    wins, the +5 must never reach history); commit 2 is a no-op resend
    (keys ≡ 0 mod 11 not touched by commit 1, original values — must
    not churn) plus brand-new keys (-(key+1) for keys ≡ 0 mod 97);
    commit 3 changes keys ≡ 0 mod 49 a SECOND time, so those keys carry
    three versions — the sequential semantics a single folded apply
    cannot produce, which is why the twin replays commits rather than
    unioning them.

    Scale shape: one `max_by` fold (map-side combinable) plus one
    full-outer key join per commit — the apply's stated honest cost; the
    explode is narrow.  The history is localCheckpointed after each
    apply, exactly like the streaming sink: an apply references its
    input history TWICE (current slice ⋈ batch, unioned with the closed
    slice), so an untruncated N-commit chain has a ~2^N-node plan (the
    3-commit dry run already re-scanned part 14 times) — per-commit
    truncation is what makes replay O(commits), batch or stream.

    Determinism: fixed commit timestamps rendered as strings; price
    bumps are IEEE double additions in the same association order on
    both engines ((x+10)+10, never x+20)."""
    from encodesrv_spark.operators.scd import (
        fold_last_write_wins,
        scd2_apply,
        scd2_init,
    )

    dim = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    k = F.col("p_partkey")
    b1 = dim.filter(k % 7 == 0).select(
        "p_partkey",
        "p_brand",
        (F.col("p_retailprice") + F.lit(10.0)).alias("p_retailprice"),
        F.lit(2).alias("seq"),
    ).unionByName(
        dim.filter(k % 21 == 0).select(
            "p_partkey",
            "p_brand",
            (F.col("p_retailprice") + F.lit(5.0)).alias("p_retailprice"),
            F.lit(1).alias("seq"),
        )
    )
    b2 = dim.filter((k % 11 == 0) & (k % 7 != 0)).select(
        "p_partkey", "p_brand", "p_retailprice", F.lit(1).alias("seq")
    ).unionByName(
        dim.filter(k % 97 == 0).select(
            (-(k + F.lit(1))).alias("p_partkey"),
            F.lit("BRAND#NEW").alias("p_brand"),
            "p_retailprice",
            F.lit(1).alias("seq"),
        )
    )
    b3 = dim.filter(k % 49 == 0).select(
        "p_partkey",
        "p_brand",
        (F.col("p_retailprice") + F.lit(10.0) + F.lit(10.0)).alias(
            "p_retailprice"
        ),
        F.lit(1).alias("seq"),
    )
    hist = scd2_init(dim, _SCD_T0)
    for batch, ts in ((b1, _CDC_T1), (b2, _CDC_T2), (b3, _CDC_T3)):
        folded = fold_last_write_wins(batch, "p_partkey", "seq").drop("seq")
        hist = scd2_apply(
            hist, folded, "p_partkey", ["p_brand", "p_retailprice"], ts
        ).localCheckpoint(eager=True)
    return hist.select(
        "p_partkey",
        "p_brand",
        "p_retailprice",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "is_current",
    )


@register(
    "events_moving_avg",
    oracle=f"""
        WITH f AS (
            SELECT event_id, event_type,
                   epoch_us(ts) // 1000000 AS tsec,
                   sum(CAST(round(value * 100) AS BIGINT)) OVER w AS cents,
                   count(*) OVER w AS n_1h
            FROM events
            WINDOW w AS (
                PARTITION BY event_type
                ORDER BY epoch_us(ts) // 1000000
                RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
            )
        )
        SELECT event_id, event_type, tsec,
               {half_up_idx_sql("cents", "100 * n_1h", 6,
                                dialect="duckdb", signed=True, wide=True,
                                zero=None)}
                   AS avg_1h,
               n_1h
        FROM f
    """,
    tags=("extended", "window", "events"),
)
def events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame — trailing 1-hour moving average per
    event type.  A RANGE frame over epoch seconds (not a row frame):
    peers at the same second share a frame, and gaps in time shrink it,
    which row-count frames get wrong.  Epoch-integer ordering keeps the
    frame arithmetic identical across engines (the established
    timestamp rule).

    Determinism: the frame SUM is exact — Spark evaluates sliding
    frames left-to-right but DuckDB merges them via segment tree, so a
    double windowed sum is order-divergent across engines; the exact
    cent units sum as LONG (frame totals stay far below 2^63 — a
    1-hour frame at ~1e9 events/hour of ≤6e4-cent values is ~6e13).

    The 6-dp average itself is an exact scaled-integer half-up
    quantization (r06 — the sf0.1 sweep caught the round(double, 6)
    form splitting engines): avg = cents/(100·n) is a rational whose
    true value lands on a 6-dp TIE for every frame where 200·n has a
    factor making cents/(100·n) a 7-dp decimal ending in 5 — at n=32
    (cents/3200, steps of 1/32 = 0.03125) EVERY frame is a tie, and
    the engines rounded opposite ways en masse.  So both engines now
    compute idx6 = (2·|cents|·10⁶ + 100·n) // (200·n), sign
    re-applied (floor-div of the +½-shifted numerator is half-up for
    non-negative operands; abs+sign makes it half-AWAY-FROM-ZERO like
    Spark/Java rounding, and keeps Spark's truncating `div` and
    DuckDB's flooring `//` agreeing — they differ on negatives).
    DECIMAL(38,0) on the Spark side: 2·|cents|·10⁶ reaches ~1.2e20 at
    the 100 TB frame budget, past 2^63 but 18 digits inside 38; DuckDB
    sums BIGINT cents into HUGEINT natively — the oracle passes
    wide=True too (r07, ADVICE r06) so the HUGEINT frame sum stays
    uncast: the non-wide template's BIGINT cast silently shrank the
    oracle's budget to ~4.6e12 frame-cents, asymmetric to the Spark
    twin's.  The only float op left is one correctly-rounded
    ≤1e9-integer→double cast and one /1e6."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "tsec", F.expr("ts_ns DIV 1000000000")
    )
    w = W.partitionBy("event_type").orderBy("tsec").rangeBetween(-3600, 0)
    return e.select(
        "event_id",
        "event_type",
        "tsec",
        F.sum(_units("value")).over(w).alias("__cents"),
        F.count("*").over(w).alias("n_1h"),
    ).selectExpr(
        "event_id",
        "event_type",
        "tsec",
        half_up_idx_sql(
            "__cents", "100 * n_1h", 6,
            dialect="spark", signed=True, wide=True, zero=None,
        )
        + " as avg_1h",
        "n_1h",
    )


_EWMA_DEPTH = 8  # lags 0..7; alpha = 0.5 so every weight is a power of 2


def _ewma_weights() -> list[float]:
    # alpha·(1−alpha)^i with alpha = 1/2 → 2^-(i+1): IEEE-exact, so the
    # fixed-order weighted sum is bit-identical across engines
    return [2.0 ** -(i + 1) for i in range(_EWMA_DEPTH)]


@register(
    "events_ewma",
    oracle=f"""
        WITH e AS (
            SELECT event_id, event_type, value, epoch_us(ts) AS tus
            FROM events
        ),
        l AS (
            SELECT event_id, event_type, tus, value,
                   {', '.join(f'lag(value, {i}) OVER w AS v{i}' for i in range(1, _EWMA_DEPTH))}
            FROM e
            WINDOW w AS (PARTITION BY event_type ORDER BY tus, event_id)
        )
        SELECT event_id, event_type, tus,
               round((
                   {' + '.join(f"CASE WHEN v{i} IS NOT NULL THEN {w!r} * v{i} ELSE 0 END" if i else f"{w!r} * value" for i, w in enumerate(_ewma_weights()))}
               ) / (
                   {' + '.join(f"CASE WHEN v{i} IS NOT NULL THEN {w!r} ELSE 0 END" if i else f"{w!r}" for i, w in enumerate(_ewma_weights()))}
               ), 6) AS ewma8
        FROM l
    """,
    tags=("extended", "window", "events"),
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per event type — the
    recursive smoother Spark has no built-in for, expressed as a
    composition: a truncated 8-term expansion over fixed LAG columns
    (truncation error ≤ (1−α)^8 < 0.4% of weight at α = ½), weights
    renormalized over the lags that exist so the series start is
    well-defined.  All-JVM window + arithmetic (no UDF); α = ½ makes
    every weight a power of two, so the fixed-order weighted sum is
    bit-identical cross-engine before the 6 dp round.  One shuffle
    (event_type), one sort per partition — the same profile as the
    moving-average window."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.expr("ts_ns DIV 1000").alias("tus"),
    )
    w = W.partitionBy("event_type").orderBy("tus", "event_id")
    weights = _ewma_weights()
    lags = [F.col("value")] + [
        F.lag("value", i).over(w) for i in range(1, _EWMA_DEPTH)
    ]
    num = sum(
        F.when(lags[i].isNotNull(), F.lit(weights[i]) * lags[i]).otherwise(F.lit(0.0))
        if i
        else F.lit(weights[0]) * lags[0]
        for i in range(_EWMA_DEPTH)
    )
    den = sum(
        F.when(lags[i].isNotNull(), F.lit(weights[i])).otherwise(F.lit(0.0))
        if i
        else F.lit(weights[0])
        for i in range(_EWMA_DEPTH)
    )
    return e.select(
        "event_id",
        "event_type",
        "tus",
        F.round(num / den, 6).alias("ewma8"),
    )


@register(
    "regression_stats",
    oracle="""
        WITH u AS (
            SELECT l_returnflag,
                   CAST(round(l_quantity) AS BIGINT) AS xu,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS yu
            FROM lineitem
        ),
        m AS (
            SELECT l_returnflag, count(*) AS n,
                   CAST(sum(xu) AS DOUBLE) AS x1,
                   CAST(sum(xu * xu) AS DOUBLE) AS x2,
                   CAST(sum(yu) AS DOUBLE) / 100 AS y1,
                   CAST(sum(yu * yu) AS DOUBLE) / 10000 AS y2,
                   CAST(sum(xu * yu) AS DOUBLE) / 100 AS xy
            FROM u GROUP BY 1
        ),
        s AS (
            SELECT l_returnflag, n, x1, y1, xy,
                   (n * xy - x1 * y1) AS cnum,
                   greatest(CAST(0 AS DOUBLE), n * x2 - x1 * x1) AS vx,
                   greatest(CAST(0 AS DOUBLE), n * y2 - y1 * y1) AS vy
            FROM m
        )
        SELECT l_returnflag,
               round(cnum / nullif(sqrt(vx * vy), 0), 6) AS corr_qty_price,
               round((xy - x1 * y1 / n) / nullif(n - 1, 0), 4) AS covar,
               round(cnum / nullif(vx, 0), 6) AS slope,
               round((y1 - cnum / nullif(vx, 0) * x1) / n, 4) AS intercept,
               round(cnum * cnum / nullif(vx * vy, 0), 6) AS r2
        FROM s
    """,
    tags=("extended", "agg", "stats"),
)
def regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistical aggregates (corr / covariance / OLS
    regression family) per group — single-pass, map-side-combinable
    moment sketches, so the shuffle carries one moment tuple per
    (partition, group) no matter the fact-table size.

    Determinism: the engine-native corr/covar/regr_* family merges
    co-moment partials in partition order, so the five statistics
    derive instead from EXACT unit-space moments (quantity is integer
    data, price is 2-dp money) through the textbook formulas as
    identical IEEE double expressions on both engines.  Every
    money-bearing moment rides the carry-save limbs, because plain
    LONG sums of their unit products overflow int64 inside the 100 TB
    envelope (Σy² at any fact scale; Σx·y ≈ 50·1e7 per row × ~2e11
    rows per flag ≈ 1e20; Σy within 5× of 2^63) — DuckDB's BIGINT sums
    widen to HUGEINT, so the limb sums keep Spark exactly as exact.
    The quantity-only moments stay plain LONG sums: Σq ≤ 1e13 and
    Σq² ≤ 5e14 at the same envelope, orders inside the budget.
    Known cross-engine boundary ABOVE 2^64: both engines hold the
    exact integer, but DuckDB 1.0's HUGEINT→DOUBLE cast is not
    correctly rounded past 2^64 (probed: ~4% of values in 2^64..2^68
    land 1 ulp off) while Spark's DECIMAL(28,0)→DOUBLE cast is — a
    1-ulp (≈1e-16 relative) split on the moment double.  Every
    driver-testable regime sits far below 2^64 where both casts are
    exact; at 100 TB the oracle engine itself is out of scope and
    Spark's correctly-rounded cast is the defensible one."""
    l = load_table(spark, sf_dir, "lineitem")
    xu = _units("l_quantity", 0)
    m = l.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(xu).alias("x1l"),
        F.sum(xu * xu).alias("x2l"),
        exact_units_sum(("l_extendedprice", 2))[0].alias("y1d"),
        exact_units_sum(("l_extendedprice", 2), ("l_extendedprice", 2))[0].alias(
            "y2d"
        ),
        exact_units_sum(("l_quantity", 0), ("l_extendedprice", 2))[0].alias("xyd"),
    )
    n = F.col("n")
    x1 = F.col("x1l").cast("double")
    x2 = F.col("x2l").cast("double")
    y1 = F.col("y1d").cast("double") / F.lit(100)
    y2 = F.col("y2d").cast("double") / F.lit(10000)
    xy = F.col("xyd").cast("double") / F.lit(100)
    cnum = n * xy - x1 * y1
    # variance factors clamped ≥0 at definition on BOTH engines, so every
    # downstream use (corr's sqrt, slope/intercept's divisor, r2) sees the
    # same clamped value: a degenerate (near-constant) series cancels the
    # moment difference to ±ε past 2^53, and DuckDB ERRORS on sqrt(-ε)
    # (killing the whole oracle run) while Spark NaNs; clamped-to-0 maps
    # to NULL via the existing nullif on both engines
    vx = F.greatest(F.lit(0.0), n * x2 - x1 * x1)
    vy = F.greatest(F.lit(0.0), n * y2 - y1 * y1)
    slope = cnum / F.nullif(vx, F.lit(0.0))
    return m.select(
        "l_returnflag",
        F.round(cnum / F.nullif(F.sqrt(vx * vy), F.lit(0.0)), 6).alias(
            "corr_qty_price"
        ),
        F.round((xy - x1 * y1 / n) / F.nullif(n - 1, F.lit(0)), 4).alias("covar"),
        F.round(slope, 6).alias("slope"),
        F.round((y1 - slope * x1) / n, 4).alias("intercept"),
        F.round(cnum * cnum / F.nullif(vx * vy, F.lit(0.0)), 6).alias("r2"),
    )


@register(
    "event_transitions",
    oracle="""
        WITH seq AS (
            SELECT event_type,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ) AS next_type
            FROM events
        )
        SELECT event_type AS from_type, next_type AS to_type,
               count(*)::BIGINT AS n,
               round(count(*) * 1.0 /
                     sum(count(*)) OVER (PARTITION BY event_type), 6) AS p
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    """,
    tags=("extended", "events", "stats"),
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current) — the behavioral-model twin
    of `events_sessionize`.  One shuffle keyed user_id builds the
    sequences (lead over the per-user time order, event_id tiebreak);
    the count matrix is (types × types)-sized, so the row-normalizing
    window runs on a tiny aggregate, not the event stream."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "tus", F.expr("ts_ns DIV 1000")
    )
    w = W.partitionBy("user_id").orderBy("tus", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    cnt = (
        seq.groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    wrow = W.partitionBy("from_type")
    return cnt.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") * 1.0 / F.sum("n").over(wrow), 6).alias("p"),
    )


@register(
    "value_anomaly_mad",
    oracle="""
        WITH med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM events GROUP BY 1
        ),
        dev AS (
            SELECT e.event_id, e.event_type, e.value,
                   abs(e.value - m.med) AS adev
            FROM events e JOIN med m USING (event_type)
        ),
        mad AS (
            SELECT event_type, quantile_cont(adev, 0.5) AS mad
            FROM dev GROUP BY 1
        )
        SELECT d.event_id, d.event_type,
               round(d.value, 2) AS value,
               round(d.adev / (1.4826 * m.mad), 2) AS score
        FROM dev d JOIN mad m USING (event_type)
        WHERE round(d.adev / (1.4826 * m.mad), 2) >= 5.0
    """,
    tags=("extended", "events", "monitoring"),
)
def value_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation — the
    resistant twin of `value_anomaly_zscore`: mean/stddev are dragged
    by the very outliers being hunted, median/MAD are not (1.4826
    rescales MAD to sigma under normality).

    Two type-cardinality percentile aggregates, each broadcast back
    onto the event stream — the fact side is scanned, never shuffled.
    Both engines share the continuous-interpolation percentile
    definition (the `token_quantiles` parity rule) and the score is
    rounded before thresholding (the fp rule)."""
    e = load_table(spark, sf_dir, "events")
    # both stats tables are type-cardinality — materialize each so the
    # final pass is exactly the second fact scan (exact percentiles are
    # inherently two-pass; lineage replay would make it four)
    med = (
        e.groupBy("event_type")
        .agg(F.percentile("value", F.lit(0.5)).alias("med"))
        .localCheckpoint(eager=True)
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = (
        dev.groupBy("event_type")
        .agg(F.percentile("adev", F.lit(0.5)).alias("mad"))
        .localCheckpoint(eager=True)
    )
    score = F.round(F.col("adev") / (1.4826 * F.col("mad")), 2)
    return (
        dev.join(F.broadcast(mad), "event_type")
        .withColumn("score", score)
        .filter(F.col("score") >= 5.0)
        .select("event_id", "event_type", F.round("value", 2).alias("value"), "score")
    )


@register(
    "incremental_hourly_merge",
    oracle="""
        SELECT event_type,
               epoch_us(ts) // 3600000000 AS hr,
               count(*)::BIGINT AS n,
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 4) AS DOUBLE) AS total,
               CAST(round(min(CAST(value AS DECIMAL(12,2))), 4) AS DOUBLE) AS vmin,
               CAST(round(max(CAST(value AS DECIMAL(12,2))), 4) AS DOUBLE) AS vmax,
               round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                     / count(*), 6) AS vavg
        FROM events
        GROUP BY 1, 2
    """,
    tags=("extended", "events", "incremental"),
)
def incremental_hourly_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance (operators/incremental.py): the
    hourly aggregate is produced by MERGING two independently-computed
    partial tables — history (hours < cutoff) and a delta batch
    (hours >= cutoff) — never by re-scanning the union.  The oracle IS
    the from-scratch recompute, which is the whole point:
    merge(agg(base), agg(delta)) must equal agg(base ∪ delta).  At
    100 TB the base partials are a stored table and each cycle touches
    only the delta partition; work is O(delta + groups), not O(history).
    """
    from encodesrv_spark.operators import incremental as I

    cutoff = 473712  # mid-range epoch hour; base ≈ history, delta ≈ new batch
    e = (
        load_table(spark, sf_dir, "events")
        .withColumn("hr", F.expr("ts_ns DIV 3600000000000"))
        # exact decimal partials: sums stay order-independent through
        # the merge (functions/exact.py)
        .withColumn("value", F.col("value").cast("decimal(12,2)"))
    )
    keys = ["event_type", "hr"]
    base = I.partials(e.filter(F.col("hr") < cutoff), keys, "value")
    delta = I.partials(e.filter(F.col("hr") >= cutoff), keys, "value")
    merged = I.finalize(I.merge(base, delta, keys))
    return merged.select(
        "event_type",
        "hr",
        "n",
        F.round("total", 4).cast("double").alias("total"),
        F.round("vmin", 4).cast("double").alias("vmin"),
        F.round("vmax", 4).cast("double").alias("vmax"),
        F.round("vavg", 6).alias("vavg"),
    )


@register(
    "incremental_join_view",
    oracle="""
        SELECT o.o_orderpriority, l.l_returnflag,
               count(*)::BIGINT AS n,
               CAST(round(sum(CAST(l.l_quantity AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS qty,
               CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(14,2))), 2)
                    AS DOUBLE) AS revenue
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    """,
    tags=("extended", "incremental", "join"),
)
def incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view
    (operators/incremental.py::join_view_delta) — the join-side
    completion of the IVM family: `incremental_hourly_merge` maintains
    a decomposable AGGREGATE, `incremental_dedup` an anti-join; this
    maintains `orders ⋈ lineitem` itself under insert-only deltas on
    BOTH inputs, via ΔV = (ΔO ⋈ L) ∪ ((O ∪ ΔO) ⋈ ΔL) — the asymmetric
    form that counts the ΔO ⋈ ΔL cross term exactly once.

    The fixture splits each table deterministically (orders by orderkey
    mod 10 ≥ 8, lineitem by linenumber ≥ 5 — INDEPENDENT criteria, so
    delta lineitems join base orders, base lineitems join delta orders,
    and the ΔO ⋈ ΔL cross term is non-empty: every algebra term carries
    rows).  The maintained view (stored base-join ∪ ΔV) is then
    group-aggregated; the oracle IS the from-scratch join — same
    contract as `incremental_hourly_merge`: maintain(V, Δ) must equal
    recompute(post-image).  At 100 TB the base join is a stored table;
    each cycle's work is two joins each micro-batch-sized on one side
    (AQE broadcasts that side at runtime — deliberately no hint, the
    posture-guard rule), never the |O ⋈ L| recompute.  Exact decimal
    sums per functions/exact.py; the reference's closest shape is the
    poll loop re-reading only changed rows (encodesrv/__init__.py:
    97-141) rather than re-scanning the queue."""
    from encodesrv_spark.operators.incremental import join_view_delta

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        F.col("l_quantity").cast("decimal(12,2)").alias("qty"),
        F.col("l_extendedprice").cast("decimal(14,2)").alias("price"),
    )
    base_o = o.filter(F.col("o_orderkey") % 10 < 8)
    delta_o = o.filter(F.col("o_orderkey") % 10 >= 8)
    base_l = li.filter(F.col("l_linenumber") <= 4)
    delta_l = li.filter(F.col("l_linenumber") >= 5)
    key = F.col("o_orderkey") == F.col("l_orderkey")
    stored = base_o.join(base_l, key)  # the previously-materialized view
    view = stored.unionByName(
        join_view_delta(base_o, delta_o, base_l, delta_l, key)
    )
    return view.groupBy("o_orderpriority", "l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("qty"), 2).cast("double").alias("qty"),
        F.round(F.sum("price"), 2).cast("double").alias("revenue"),
    )


@register(
    "incremental_join_view_cdc",
    oracle="""
        WITH o_post AS (
            SELECT o_orderkey, o_orderpriority FROM orders
            WHERE o_orderkey % 13 <> 0
            UNION ALL
            SELECT o_orderkey, o_orderpriority FROM orders
            WHERE o_orderkey % 13 <> 0 AND o_orderkey % 17 = 0
        ),
        l_post AS (
            SELECT l_orderkey, l_returnflag, l_quantity, l_extendedprice
            FROM lineitem WHERE l_linenumber <> 1
        )
        SELECT o.o_orderpriority, l.l_returnflag,
               count(*)::BIGINT AS n,
               CAST(round(sum(CAST(l.l_quantity AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS qty,
               CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(14,2))), 2)
                    AS DOUBLE) AS revenue
        FROM o_post o JOIN l_post l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    """,
    tags=("extended", "incremental", "join", "cdc"),
)
def incremental_join_view_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-view maintenance under a DELETION-BEARING CDC feed
    (operators/incremental.py::join_view_delta_signed): inserts AND
    deletes on both join inputs, carried as signed multiplicities
    (z-sets) — the insert-only `incremental_join_view` cannot express a
    retraction; this is the feed shape `JobStore.changes` actually
    emits (insert / delete / update pre+postimage).

    Fixture: the feed DELETES every order with orderkey % 13 = 0
    (mult −1), re-INSERTS a duplicate of surviving orders with
    orderkey % 17 = 0 (mult +1 on top of the base copy — the view
    becomes a true bag, multiplicity 2), and deletes every
    linenumber-1 lineitem (mult −1).  Deleted orders DO own
    linenumber-1 lineitems, so the ΔO ⋈ ΔL cross term is non-empty and
    the (−1)·(−1) = +1 sign product must fire to net those rows to
    exactly −1 — the bilinear bookkeeping the oracle (a from-scratch
    join of the post-image multisets; the UNION ALL branch is the
    duplicate) verifies end-to-end.  Downstream aggregates are LINEAR
    (n = Σmult, sums = Σmult·x), so the signed view aggregates without
    ever consolidating — at 100 TB the maintenance path is two
    delta-sized joins plus this delta-sized aggregate update; the
    group-by-all-columns compaction is lazy and amortized, never
    per-batch.  Exact decimal sums per functions/exact.py."""
    from encodesrv_spark.operators.incremental import join_view_delta_signed

    one = F.lit(1).cast("long")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        F.col("l_quantity").cast("decimal(12,2)").alias("qty"),
        F.col("l_extendedprice").cast("decimal(14,2)").alias("price"),
    )
    ok = F.col("o_orderkey")
    base_o = o.withColumn("_mult", one)
    feed_o = (
        o.filter(ok % 13 == 0).withColumn("_mult", -one)  # retractions
        .unionByName(  # duplicate re-insert of surviving 17-mod orders
            o.filter((ok % 13 != 0) & (ok % 17 == 0)).withColumn("_mult", one)
        )
    )
    base_l = li.withColumn("_mult", one)
    feed_l = li.filter(F.col("l_linenumber") == 1).withColumn("_mult", -one)
    key = ok == F.col("l_orderkey")
    stored = base_o.drop("_mult").join(base_l.drop("_mult"), key).withColumn(
        "_mult", one
    )  # the previously-materialized view (all multiplicities 1)
    view = stored.unionByName(
        join_view_delta_signed(base_o, feed_o, base_l, feed_l, key)
    )
    m = F.col("_mult")
    return view.groupBy("o_orderpriority", "l_returnflag").agg(
        F.sum(m).alias("n"),
        F.round(F.sum(m * F.col("qty")), 2).cast("double").alias("qty"),
        F.round(F.sum(m * F.col("price")), 2).cast("double").alias("revenue"),
    )


@register(
    "trending_types",
    oracle="""
        WITH c AS (
            SELECT (epoch_us(ts) // 1000000 // 600) * 600 AS wstart,
                   event_type, count(*)::BIGINT AS n
            FROM events GROUP BY 1, 2
        )
        SELECT wstart, event_type, n,
               row_number() OVER (
                   PARTITION BY wstart ORDER BY n DESC, event_type
               )::BIGINT AS rnk
        FROM c
        QUALIFY rnk <= 3
    """,
    tags=("extended", "events", "window"),
)
def trending_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending dashboard query: top-3 event types per 10-minute
    tumbling window.  Window starts are epoch-aligned integers
    ((tsec DIV 600)·600 ≡ Spark's `window()` start), so the batch form
    and the streaming twin (`streaming/events.py:trending_counts`)
    produce byte-identical keys.  The per-window rank runs on the
    (windows × types) aggregate — WindowGroupLimit-prunable, tiny."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "wstart", F.expr("(ts_ns DIV 1000000000 DIV 600) * 600")
    )
    c = e.groupBy("wstart", "event_type").agg(F.count("*").alias("n"))
    w = W.partitionBy("wstart").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        c.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


@register(
    "order_value_percentiles",
    oracle="""
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               round(percent_rank() OVER w, 6) AS pr,
               round(cume_dist() OVER w, 6) AS cd
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
    """,
    tags=("extended", "window"),
)
def order_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-standing window functions — percent_rank and cume_dist
    of order value within its priority class (the 'how unusual is this
    order' primitive).  Both are rank ratios over the partition's row
    count: one sort per partition, no second pass, and ties share a
    value exactly in both engines (integer rank arithmetic)."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@register(
    "ab_test_conversion",
    oracle="""
        WITH assigned AS (
            SELECT DISTINCT user_id,
                   CASE WHEN (('0x' || substr(md5(concat('exp1:',
                        user_id::VARCHAR)), 1, 15))::BIGINT) % 2 = 0
                        THEN 'control' ELSE 'treatment' END AS arm
            FROM events
        ),
        conv AS (
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        ),
        per AS (
            SELECT a.arm,
                   count(*)::BIGINT AS n_users,
                   sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0
                       END)::BIGINT AS n_converted
            FROM assigned a LEFT JOIN conv c ON a.user_id = c.user_id
            GROUP BY 1
        )
        SELECT arm, n_users, n_converted,
               round(n_converted * 1.0 / n_users, 6) AS rate
        FROM per
    """,
    tags=("extended", "events", "stats"),
)
def ab_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment analysis: users deterministically hash-assigned to
    control/treatment (same content-stable bucketing as the corpus
    splits — any worker re-derives an assignment, no assignment table
    exists), conversion = did the user ever purchase.  Per-arm rates
    from two user-cardinality aggregates; a significance test is
    driver-side arithmetic on this 2-row result."""
    from encodesrv_spark.functions.hashing import stable_hash64

    e = load_table(spark, sf_dir, "events")
    arm = F.when(
        stable_hash64(F.concat(F.lit("exp1:"), F.col("user_id").cast("string")))
        % 2
        == 0,
        "control",
    ).otherwise("treatment")
    assigned = e.select("user_id").distinct().withColumn("arm", arm)
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    per = (
        assigned.join(conv, "user_id", "left")
        .groupBy("arm")
        .agg(
            F.count("*").alias("n_users"),
            F.sum(F.coalesce("converted", F.lit(0))).alias("n_converted"),
        )
    )
    return per.select(
        "arm",
        "n_users",
        "n_converted",
        F.round(F.col("n_converted") * 1.0 / F.col("n_users"), 6).alias("rate"),
    )


@register(
    "nation_top_customer_concat",
    oracle="""
        WITH ranked AS (
            SELECT n.n_name, c.c_name, c.c_acctbal,
                   row_number() OVER (
                       PARTITION BY n.n_name
                       ORDER BY c.c_acctbal DESC, c.c_custkey
                   ) AS rn
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        )
        SELECT n_name,
               string_agg(c_name, ', ' ORDER BY rn) AS top_customers
        FROM ranked WHERE rn <= 5
        GROUP BY n_name
    """,
    tags=("extended", "agg"),
)
def nation_top_customer_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED list aggregation — top-5 customers per nation as a
    comma-joined string (the reference's running-jobs roster, A3,
    generalized to ranked rosters).  collect_list order is
    NONDETERMINISTIC under parallelism — the classic cross-engine trap
    — so the order is pinned by collecting (rank, name) structs and
    array_sort-ing BEFORE the join; the per-nation top-5 itself is a
    WindowGroupLimit-prunable ranked filter."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    w = W.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    ranked = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
    )
    return (
        ranked.groupBy("n_name")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "c_name"))
                    ),
                    lambda s: s["c_name"],
                ),
                ", ",
            ).alias("top_customers")
        )
    )


@register(
    "lineitem_unpivot",
    oracle="""
        SELECT l_orderkey, l_linenumber, measure,
               round(value, 2) AS value
        FROM (
            UNPIVOT (
                SELECT l_orderkey, l_linenumber,
                       l_quantity AS quantity,
                       l_extendedprice AS extendedprice,
                       l_discount AS discount
                FROM lineitem WHERE l_orderkey < 100
            )
            ON quantity, extendedprice, discount
            INTO NAME measure VALUE value
        )
    """,
    tags=("extended", "reshape"),
)
def lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt — wide measures to long (measure, value) rows,
    the inverse of `pivot_linestatus`.  Spark's `unpivot` expands
    in-place (an Expand node, no shuffle, no UDF); row identity is
    (orderkey, linenumber) so the long form keys deterministically."""
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return (
        l.select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").alias("quantity"),
            F.col("l_extendedprice").alias("extendedprice"),
            F.col("l_discount").alias("discount"),
        )
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["quantity", "extendedprice", "discount"],
            "measure",
            "value",
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "measure",
            F.round("value", 2).alias("value"),
        )
    )


@register(
    "lineitem_dq_audit",
    oracle="""
        WITH base AS (
            SELECT count(*)::BIGINT AS n,
                   sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0
                       END)::BIGINT AS null_orderkey,
                   sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1
                       ELSE 0 END)::BIGINT AS discount_out_of_range,
                   sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0
                       END)::BIGINT AS nonpositive_quantity,
                   sum(CASE WHEN l_extendedprice < l_quantity THEN 1 ELSE 0
                       END)::BIGINT AS price_below_quantity
            FROM lineitem
        )
        SELECT rule, violations, n AS n_rows,
               round(violations * 1.0 / n, 6) AS violation_rate
        FROM (
            SELECT 'null_orderkey' AS rule, null_orderkey AS violations, n FROM base
            UNION ALL
            SELECT 'discount_out_of_range', discount_out_of_range, n FROM base
            UNION ALL
            SELECT 'nonpositive_quantity', nonpositive_quantity, n FROM base
            UNION ALL
            SELECT 'price_below_quantity', price_below_quantity, n FROM base
        )
    """,
    tags=("extended", "quality"),
)
def lineitem_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (operators/quality.py): four
    expectation rules over lineitem evaluated in ONE scan — each rule
    is a conditional-sum aggregate, so adding rules never adds passes,
    and the same predicates re-apply as row filters for dead-letter
    routing (`quality.violating_rows`).  The set-at-a-time form of the
    reference's per-row try/except → 'Error' status."""
    from encodesrv_spark.operators.quality import audit

    l = load_table(spark, sf_dir, "lineitem")
    rules = {
        "null_orderkey": F.col("l_orderkey").isNull(),
        "discount_out_of_range": (F.col("l_discount") < 0)
        | (F.col("l_discount") > 1),
        "nonpositive_quantity": F.col("l_quantity") <= 0,
        "price_below_quantity": F.col("l_extendedprice") < F.col("l_quantity"),
    }
    return audit(l, rules)


@register(
    "events_ohlc",
    oracle="""
        WITH b AS (
            SELECT event_type,
                   epoch_us(ts) // 3600000000 AS hr,
                   value, epoch_us(ts) AS tus, event_id
            FROM events
        ),
        o AS (
            SELECT *,
                   row_number() OVER (
                       PARTITION BY event_type, hr ORDER BY tus, event_id
                   ) AS rn_a,
                   row_number() OVER (
                       PARTITION BY event_type, hr ORDER BY tus DESC, event_id DESC
                   ) AS rn_d
            FROM b
        )
        SELECT event_type, hr,
               round(max(CASE WHEN rn_a = 1 THEN value END), 2) AS open,
               round(max(value), 2) AS high,
               round(min(value), 2) AS low,
               round(max(CASE WHEN rn_d = 1 THEN value END), 2) AS close,
               count(*)::BIGINT AS n
        FROM o GROUP BY 1, 2
    """,
    tags=("extended", "events", "agg"),
)
def events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick rollup — per (type, hour): first/max/min/last
    value, the downsampling aggregate every timeseries store offers.
    Spark side uses `min_by`/`max_by` keyed on a (time, event_id)
    struct: ONE aggregation pass, no ranking windows — open/close
    resolve inside the same map-side-combinable aggregate as high/low
    (the oracle's two row_number windows express the identical
    first/last semantics; ties break on event_id in both)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("ts_ns DIV 3600000000000").alias("hr"),
        "value",
        F.expr("ts_ns DIV 1000").alias("tus"),
        "event_id",
    )
    order = F.struct(F.col("tus"), F.col("event_id"))
    return e.groupBy("event_type", "hr").agg(
        F.round(F.min_by("value", order), 2).alias("open"),
        F.round(F.max("value"), 2).alias("high"),
        F.round(F.min("value"), 2).alias("low"),
        F.round(F.max_by("value", order), 2).alias("close"),
        F.count("*").alias("n"),
    )


@register(
    "supplier_pareto_abc",
    oracle="""
        WITH rev AS (
            SELECT l_suppkey,
                   sum(CAST(l_extendedprice AS DECIMAL(12,2))
                       * CAST(1 - l_discount AS DECIMAL(4,2))) AS v
            FROM lineitem GROUP BY 1
        ),
        t AS (SELECT CAST(sum(v) AS DOUBLE) AS tot FROM rev),
        c AS (
            SELECT l_suppkey, CAST(round(v, 2) AS DOUBLE) AS revenue,
                   round(CAST(sum(v) OVER (
                       ORDER BY v DESC, l_suppkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS DOUBLE) / tot, 6) AS cum_share
            FROM rev, t
        )
        SELECT l_suppkey, revenue, cum_share,
               CASE WHEN cum_share <= 0.7 THEN 'A'
                    WHEN cum_share <= 0.9 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM c
    """,
    tags=("extended", "window", "agg"),
)
def supplier_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC classification: suppliers ranked by revenue with a
    running cumulative share — A up to 70% of total, B to 90%, C the
    tail (the inventory-analysis classic).  The corpus-scale work is
    the one revenue aggregate; the ordered running sum runs on the
    supplier-cardinality result, entirely in EXACT decimals (sum, rank
    key, and cumulative sum), so both engines accumulate identical
    values and only the final share division happens in double."""
    l = load_table(spark, sf_dir, "lineitem")
    rev = l.groupBy("l_suppkey").agg(_rev_sum().alias("v"))
    tot = rev.agg(F.sum("v").cast("double").alias("tot"))
    w = (
        W.orderBy(F.desc("v"), F.asc("l_suppkey"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = rev.crossJoin(F.broadcast(tot)).withColumn(
        "cum_share", F.round(F.sum("v").over(w).cast("double") / F.col("tot"), 6)
    )
    abc = (
        F.when(F.col("cum_share") <= 0.7, "A")
        .when(F.col("cum_share") <= 0.9, "B")
        .otherwise("C")
    )
    return c.select(
        "l_suppkey",
        money_round(F.col("v")).alias("revenue"),
        "cum_share",
        abc.alias("abc_class"),
    )


@register(
    "basket_part_pairs",
    oracle="""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
        single AS (SELECT l_partkey, count(*) AS c FROM li GROUP BY 1),
        pairs AS (
            SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                   count(*)::BIGINT AS n_both
            FROM li a
            JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING count(*) >= 2
        )
        SELECT p1, p2, n_both,
               round(n_both * 1.0 * n_orders / (s1.c * s2.c), 4) AS lift
        FROM pairs
        JOIN single s1 ON s1.l_partkey = p1
        JOIN single s2 ON s2.l_partkey = p2, n
    """,
    tags=("extended", "basket"),
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought in the same order
    at least twice, with lift = P(a,b)/(P(a)·P(b)) — the association-
    mining primitive behind 'bought together'.  The pair blowup is
    bounded per-basket (k items → k(k-1)/2 pairs inside one order),
    never cross-order: the self-join key is l_orderkey, so baskets
    co-partition and the quadratic term stays local to each small
    group.  Part marginals are part-cardinality (sf-scaled), so their
    joins carry no hint — AQE broadcasts at test scale only."""
    l = load_table(spark, sf_dir, "lineitem")
    li = l.select("l_orderkey", "l_partkey").distinct().localCheckpoint(eager=True)
    n = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    single = li.groupBy("l_partkey").agg(F.count("*").alias("c"))
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 2)
    )
    s1 = single.select(F.col("l_partkey").alias("p1"), F.col("c").alias("c1"))
    s2 = single.select(F.col("l_partkey").alias("p2"), F.col("c").alias("c2"))
    return (
        pairs.join(s1, "p1")
        .join(s2, "p2")
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            "n_both",
            F.round(
                F.col("n_both") * 1.0 * F.col("n_orders")
                / (F.col("c1") * F.col("c2")),
                4,
            ).alias("lift"),
        )
    )


@register(
    "daily_journey_paths",
    oracle="""
        WITH seq AS (
            SELECT user_id,
                   epoch_us(ts) // 86400000000 AS day,
                   event_type,
                   row_number() OVER (
                       PARTITION BY user_id, epoch_us(ts) // 86400000000
                       ORDER BY epoch_us(ts), event_id
                   ) AS rn
            FROM events
        ),
        paths AS (
            SELECT user_id, day,
                   string_agg(event_type, '>' ORDER BY rn) AS path
            FROM seq WHERE rn <= 3
            GROUP BY user_id, day
        )
        SELECT path, count(*)::BIGINT AS n_user_days
        FROM paths
        GROUP BY path
        HAVING count(*) >= 5
    """,
    tags=("extended", "events", "paths"),
)
def daily_journey_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: each user-day's first three event types as an
    ordered 'a>b>c' journey prefix, counted across the corpus (the
    funnel-discovery primitive — which entry paths actually occur,
    before any funnel is declared).  Per-key ordering is pinned by
    (time, event_id) rank BEFORE the collect — the same
    nondeterministic-collect_list trap `nation_top_customer_concat`
    documents — and the path table aggregates from user-day
    cardinality, not event cardinality."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("ts_ns DIV 86400000000000").alias("day"),
        "event_type",
        F.expr("ts_ns DIV 1000").alias("tus"),
        "event_id",
    )
    w = W.partitionBy("user_id", "day").orderBy("tus", "event_id")
    seq = e.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
    paths = (
        seq.groupBy("user_id", "day")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_user_days"))
        .filter(F.col("n_user_days") >= 5)
    )


@register(
    "funnel_latency",
    oracle="""
        WITH v AS (
            SELECT user_id, min(epoch_us(ts)) AS vt FROM events
            WHERE event_type = 'view' GROUP BY 1
        ),
        c AS (
            SELECT e.user_id, min(epoch_us(e.ts)) AS ct
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.vt
            GROUP BY 1
        ),
        p AS (
            SELECT e.user_id, min(epoch_us(e.ts)) AS pt
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.ct
            GROUP BY 1
        )
        SELECT count(*)::BIGINT AS n_converted,
               round(quantile_cont((pt - vt) / 1000000.0, 0.5), 2) AS p50_sec,
               round(quantile_cont((pt - vt) / 1000000.0, 0.9), 2) AS p90_sec,
               round(CAST(sum(pt - vt) AS DOUBLE) / count(*) / 1000000.0, 2)
                   AS mean_sec
        FROM p JOIN v USING (user_id) JOIN c USING (user_id)
    """,
    tags=("extended", "events", "funnel"),
)
def funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution for completed funnels: median, p90
    and mean seconds from first view to first qualifying purchase —
    the 'how long does the funnel take' readout that pairs with
    funnel_conversion's 'how many make it'.  Same stage-gate
    derivation (epoch-integer comparisons), converted-user cardinality
    by the final join, percentile parity per the token_quantiles rule.

    Unlike funnel_conversion (where every stage table feeds both the
    next stage AND the final count row), only `v` is consumed twice
    here (the click gate and the final latency join) — so only `v` is
    checkpointed; `c` has exactly one consumer and materializing it
    was one serialized job per execution for zero avoided recompute
    (r11; jobs/execution 11 → 9, stages 16 → 13)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts_ns DIV 1000").alias("tus")
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("tus").alias("vt"))
        .localCheckpoint(eager=True)
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("tus") > F.col("vt"))
        .groupBy("user_id")
        .agg(F.min("tus").alias("ct"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("tus") > F.col("ct"))
        .groupBy("user_id")
        .agg(F.min("tus").alias("pt"))
    )
    lat = p.join(v, "user_id").select(
        (F.col("pt") - F.col("vt")).alias("usec"),
        ((F.col("pt") - F.col("vt")) / 1000000.0).alias("sec"),
    )
    # mean from the EXACT micros sum (carry-save limbs: latencies are
    # integer micros, but a plain LONG sum of multi-hour latencies
    # over ~1e9 converted users brushes 2^63, where DuckDB's
    # sum(BIGINT) widens to HUGEINT and Spark would wrap silently),
    # divided once in double: avg over the double seconds would
    # accumulate in partition order
    return lat.agg(
        F.count("*").alias("n_converted"),
        F.round(F.percentile("sec", F.lit(0.5)), 2).alias("p50_sec"),
        F.round(F.percentile("sec", F.lit(0.9)), 2).alias("p90_sec"),
        F.round(
            exact_units_sum((F.col("usec"), None))[0].cast("double")
            / F.count("*")
            / F.lit(1000000.0),
            2,
        ).alias("mean_sec"),
    )


@register(
    "hourly_profile",
    oracle="""
        SELECT event_type,
               (epoch_us(ts) // 3600000000) % 24 AS hour_of_day,
               count(*)::BIGINT AS n,
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    tags=("extended", "events", "calendar"),
)
def hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality profile: load and mean value by hour-of-day per
    event type (the capacity-planning heat map).  Hour-of-day derives
    from epoch-hour modulo 24 — pure integer arithmetic, no calendar
    functions, so both engines bucket identically regardless of
    session timezone."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.withColumn("hour_of_day", F.expr("(ts_ns DIV 3600000000000) % 24"))
        .groupBy("event_type", "hour_of_day")
        .agg(
            F.count("*").alias("n"),
            # exact decimal sum: order-independent, so no last-ulp
            # association drift can flip a rounding boundary (an avg
            # landed exactly on 54.77875 once; this closes the class)
            money_round(exact_sum("value")).alias("total_value"),
        )
    )


@register(
    "part_copurchase_triangles",
    oracle="""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e AS (
            SELECT a.l_partkey AS p1, b.l_partkey AS p2
            FROM li a
            JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING count(*) >= 2
        ),
        deg AS (
            SELECT node, count(*)::BIGINT AS d FROM (
                SELECT p1 AS node FROM e UNION ALL SELECT p2 FROM e
            ) GROUP BY node
        ),
        o AS (
            SELECT CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.p1 < e.p2)
                        THEN e.p1 ELSE e.p2 END AS u,
                   CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.p1 < e.p2)
                        THEN e.p2 ELSE e.p1 END AS v,
                   CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.p1 < e.p2)
                        THEN d2.d ELSE d1.d END AS dv
            FROM e
            JOIN deg d1 ON d1.node = e.p1
            JOIN deg d2 ON d2.node = e.p2
        ),
        tri AS (
            SELECT count(*)::BIGINT AS n_triangles
            FROM o a
            JOIN o b ON a.u = b.u
                    AND (a.dv < b.dv OR (a.dv = b.dv AND a.v < b.v))
            JOIN o c ON c.u = a.v AND c.v = b.v
        ),
        agg AS (
            SELECT (SELECT count(*) FROM e)::BIGINT AS n_edges,
                   (SELECT sum(d * (d - 1) / 2) FROM deg)::BIGINT AS n_wedges
        )
        SELECT n_edges, n_wedges, n_triangles,
               round(3.0 * n_triangles / nullif(n_wedges, 0), 6)
                   AS clustering_coeff
        FROM agg, tri
    """,
    tags=("extended", "graph"),
)
def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the part
    co-purchase graph (edges = part pairs bought together in >= 2
    orders, the `basket_part_pairs` graph).

    Degree-oriented counting: every undirected edge is directed toward
    its higher-(degree, id) endpoint, wedges are generated only between
    a node's ORIENTED out-neighbors, and a wedge closes iff the
    orienting edge between its endpoints exists.  Each triangle is
    counted exactly once, and — the scale property — wedge generation
    is bounded by sum(out-degree²) = O(m^1.5) instead of being
    quadratic in the max hub degree: a celebrity node of degree 1M
    generates no wedges at all from its own adjacency because all its
    edges point INTO it.  Graph building reuses the basket self-join
    (baskets co-partition on l_orderkey; the quadratic term stays
    within each small order)."""
    l = load_table(spark, sf_dir, "lineitem")
    li = l.select("l_orderkey", "l_partkey").distinct().localCheckpoint(eager=True)
    a = li.alias("a")
    b = li.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 2)
        .select("p1", "p2")
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("p1").alias("node"))
        .unionAll(e.select(F.col("p2").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    d1 = deg.select(F.col("node").alias("p1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("node").alias("p2"), F.col("d").alias("d2"))
    ed = e.join(d1, "p1").join(d2, "p2")
    fwd = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("p1") < F.col("p2"))
    )
    o = ed.select(
        F.when(fwd, F.col("p1")).otherwise(F.col("p2")).alias("u"),
        F.when(fwd, F.col("p2")).otherwise(F.col("p1")).alias("v"),
        F.when(fwd, F.col("d2")).otherwise(F.col("d1")).alias("dv"),
    ).localCheckpoint(eager=True)
    wa = o.select(
        F.col("u"), F.col("v").alias("va"), F.col("dv").alias("da")
    )
    wb = o.select(
        F.col("u"), F.col("v").alias("vb"), F.col("dv").alias("db")
    )
    wedges = wa.join(wb, "u").filter(
        (F.col("da") < F.col("db"))
        | ((F.col("da") == F.col("db")) & (F.col("va") < F.col("vb")))
    )
    closing = o.select(F.col("u").alias("va"), F.col("v").alias("vb"))
    tri = wedges.join(closing, ["va", "vb"]).agg(
        F.count("*").alias("n_triangles")
    )
    n_edges = e.agg(F.count("*").alias("n_edges"))
    n_wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges")
    )
    return (
        n_edges.crossJoin(n_wedges)
        .crossJoin(tri)
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            # NULL (not engine-divergent division-by-zero) on a
            # degenerate all-degree-1 graph with zero wedges
            F.when(
                F.col("n_wedges") > 0,
                F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6),
            ).alias("clustering_coeff"),
        )
    )


# ---------------------------------------------------------------------------
# Co-purchase graph: label-propagation communities + per-node clustering
# ---------------------------------------------------------------------------

# Shared oracle fragment: the co-purchase edge list (part pairs bought
# together in >= 2 orders) and its undirected expansion — identical to
# the part_copurchase_triangles graph.
_COPURCHASE_EDGE_CTES = """
        li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e AS MATERIALIZED (
            SELECT a.l_partkey AS p1, b.l_partkey AS p2
            FROM li a
            JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING count(*) >= 2
        )
"""
# AS MATERIALIZED (r07, VERDICT r06 #1): DuckDB inlines multiply-referenced
# CTEs by default, so every oracle that probes `e` more than once re-ran the
# O(pairs-per-order) basket self-join per reference — 5.3 s → 0.6 s for
# part_edge_embeddedness at sf0.1, and the difference between 178 s and
# 0.5 s for the unrolled k-core peel below.  Oracle-side only; the Spark
# twin's localCheckpoint already pins single evaluation.


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed co-purchase edge list (p1 < p2, support >= 2) —
    the graph behind part_copurchase_triangles, factored out for the
    community / clustering queries.  The basket self-join keys on
    l_orderkey, so the quadratic pair term stays inside each (small)
    order; the checkpoint stops every downstream graph pass from
    re-deriving the corpus-scale join."""
    l = load_table(spark, sf_dir, "lineitem")
    li = l.select("l_orderkey", "l_partkey").distinct().localCheckpoint(eager=True)
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 2)
        .select("p1", "p2")
        .localCheckpoint(eager=True)
    )


def _lpa_round_sql(i: int) -> str:
    """One synchronous label-propagation round as an unrolled CTE:
    node takes its neighbors' plurality label, ties to the smallest."""
    return f"""
        l{i} AS (
            SELECT node, lab FROM (
                SELECT node, lab,
                       row_number() OVER (
                           PARTITION BY node ORDER BY c DESC, lab
                       ) AS rn
                FROM (
                    SELECT und.u AS node, p.lab AS lab, count(*) AS c
                    FROM und JOIN l{i - 1} p ON und.v = p.node
                    GROUP BY 1, 2
                )
            ) WHERE rn = 1
        )"""


@register(
    "part_label_communities",
    oracle=f"""
        WITH {_COPURCHASE_EDGE_CTES},
        und AS (
            SELECT p1 AS u, p2 AS v FROM e
            UNION ALL
            SELECT p2, p1 FROM e
        ),
        l0 AS (SELECT DISTINCT u AS node, u AS lab FROM und),
        {",".join(_lpa_round_sql(i) for i in (1, 2, 3))}
        SELECT node AS part, lab AS community FROM l3
    """,
    tags=("extended", "graph", "iterative"),
)
def part_label_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (3 synchronous rounds) over the
    co-purchase graph: every node starts as its own label; each round
    it adopts the plurality label among its neighbors, ties broken to
    the SMALLEST label — fully deterministic, so the DuckDB oracle
    unrolls the identical three rounds as CTEs (the trade_pagerank
    pattern).

    Scale shape per round: one hash join of the undirected edge list
    against the label table (both keyed on node — AQE sizes it; no
    forced broadcast since labels are node-cardinality, which is
    sf-scaled) and one (node, label) plurality aggregate whose argmax
    is a per-node window.  localCheckpoint per round keeps the
    iteration's lineage flat (the dedup_clusters rule); rounds are
    fixed, not run-to-fixpoint, which bounds the cost and sidesteps
    synchronous LPA's oscillation pathology."""
    e = _copurchase_edges(spark, sf_dir)
    und = (
        e.select(F.col("p1").alias("u"), F.col("p2").alias("v"))
        .unionAll(e.select(F.col("p2").alias("u"), F.col("p1").alias("v")))
        .localCheckpoint(eager=True)
    )
    labels = (
        und.select(F.col("u").alias("node")).distinct().withColumn("lab", F.col("node"))
    )
    wlab = W.partitionBy("node").orderBy(F.desc("c"), F.asc("lab"))
    for _ in range(3):
        labels = (
            und.join(labels.select(F.col("node").alias("v"), "lab"), "v")
            .groupBy(F.col("u").alias("node"), "lab")
            .agg(F.count("*").alias("c"))
            .withColumn("rn", F.row_number().over(wlab))
            .filter(F.col("rn") == 1)
            .select("node", "lab")
            .localCheckpoint(eager=True)
        )
    return labels.select(F.col("node").alias("part"), F.col("lab").alias("community"))


@register(
    "part_local_clustering",
    oracle=f"""
        WITH {_COPURCHASE_EDGE_CTES},
        deg AS (
            SELECT node, count(*)::BIGINT AS d FROM (
                SELECT p1 AS node FROM e UNION ALL SELECT p2 FROM e
            ) GROUP BY node
        ),
        o AS (
            SELECT CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.p1 < e.p2)
                        THEN e.p1 ELSE e.p2 END AS u,
                   CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.p1 < e.p2)
                        THEN e.p2 ELSE e.p1 END AS v,
                   CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.p1 < e.p2)
                        THEN d2.d ELSE d1.d END AS dv
            FROM e
            JOIN deg d1 ON d1.node = e.p1
            JOIN deg d2 ON d2.node = e.p2
        ),
        tri AS (
            SELECT a.u AS x, a.v AS y, b.v AS z
            FROM o a
            JOIN o b ON a.u = b.u
                    AND (a.dv < b.dv OR (a.dv = b.dv AND a.v < b.v))
            JOIN o c ON c.u = a.v AND c.v = b.v
        ),
        tn AS (
            SELECT node, count(*)::BIGINT AS t FROM (
                SELECT x AS node FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri
            ) GROUP BY node
        )
        SELECT d.node AS part, d.d AS degree,
               coalesce(tn.t, 0)::BIGINT AS n_triangles,
               round(2.0 * coalesce(tn.t, 0) / nullif(d.d * (d.d - 1), 0), 6)
                   AS lcc
        FROM deg d LEFT JOIN tn ON tn.node = d.node
    """,
    tags=("extended", "graph"),
)
def part_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient — the node-level twin of
    part_copurchase_triangles' global coefficient: lcc(v) = 2·T(v) /
    (d(v)·(d(v)−1)), NULL for degree-1 nodes (guarded with nullif on
    both engines, the division-by-zero rule).

    Reuses the degree-oriented triangle enumeration: each edge points
    at its higher-(degree, id) endpoint, wedges form only between
    oriented out-neighbors (sum out-deg² = O(m^1.5), hub-safe), and
    every triangle is emitted exactly once as (center, va, vb) — then
    exploded to its three member nodes and counted per node.  The edge
    list and orientation are checkpointed once; no additional fact
    scans beyond the shared basket self-join."""
    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("p1").alias("node"))
        .unionAll(e.select(F.col("p2").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
        .localCheckpoint(eager=True)
    )
    d1 = deg.select(F.col("node").alias("p1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("node").alias("p2"), F.col("d").alias("d2"))
    fwd = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("p1") < F.col("p2"))
    )
    o = (
        e.join(d1, "p1")
        .join(d2, "p2")
        .select(
            F.when(fwd, F.col("p1")).otherwise(F.col("p2")).alias("u"),
            F.when(fwd, F.col("p2")).otherwise(F.col("p1")).alias("v"),
            F.when(fwd, F.col("d2")).otherwise(F.col("d1")).alias("dv"),
        )
        .localCheckpoint(eager=True)
    )
    wa = o.select("u", F.col("v").alias("va"), F.col("dv").alias("da"))
    wb = o.select("u", F.col("v").alias("vb"), F.col("dv").alias("db"))
    tri = (
        wa.join(wb, "u")
        .filter(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("va") < F.col("vb")))
        )
        .join(o.select(F.col("u").alias("va"), F.col("v").alias("vb")), ["va", "vb"])
    )
    tn = (
        tri.select(
            F.explode(F.array(F.col("u"), F.col("va"), F.col("vb"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("t"))
    )
    return (
        deg.join(tn, "node", "left")
        .select(
            F.col("node").alias("part"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0).cast("long")).alias("n_triangles"),
            F.when(
                F.col("d") >= 2,
                F.round(
                    2.0 * F.coalesce(F.col("t"), F.lit(0)) / (F.col("d") * (F.col("d") - 1)),
                    6,
                ),
            ).alias("lcc"),
        )
    )


@register(
    "part_edge_embeddedness",
    oracle=f"""
        WITH {_COPURCHASE_EDGE_CTES},
        deg AS (
            SELECT node, count(*)::BIGINT AS d FROM (
                SELECT p1 AS node FROM e UNION ALL SELECT p2 FROM e
            ) GROUP BY node
        ),
        o AS (
            SELECT CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.p1 < e.p2)
                        THEN e.p1 ELSE e.p2 END AS u,
                   CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.p1 < e.p2)
                        THEN e.p2 ELSE e.p1 END AS v,
                   CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.p1 < e.p2)
                        THEN d2.d ELSE d1.d END AS dv
            FROM e
            JOIN deg d1 ON d1.node = e.p1
            JOIN deg d2 ON d2.node = e.p2
        ),
        tri AS (
            SELECT a.u AS x, a.v AS y, b.v AS z
            FROM o a
            JOIN o b ON a.u = b.u
                    AND (a.dv < b.dv OR (a.dv = b.dv AND a.v < b.v))
            JOIN o c ON c.u = a.v AND c.v = b.v
        ),
        trie AS (
            SELECT least(x, y) AS a, greatest(x, y) AS b FROM tri
            UNION ALL SELECT least(x, z), greatest(x, z) FROM tri
            UNION ALL SELECT least(y, z), greatest(y, z) FROM tri
        ),
        ecnt AS (SELECT a, b, count(*)::BIGINT AS common FROM trie GROUP BY 1, 2)
        SELECT e.p1, e.p2,
               d1.d AS deg_a, d2.d AS deg_b,
               coalesce(ecnt.common, 0)::BIGINT AS common_neighbors,
               round(coalesce(ecnt.common, 0) * 1.0
                     / nullif(d1.d + d2.d - 2 - coalesce(ecnt.common, 0), 0), 6)
                   AS nbr_jaccard
        FROM e
        JOIN deg d1 ON d1.node = e.p1
        JOIN deg d2 ON d2.node = e.p2
        LEFT JOIN ecnt ON ecnt.a = e.p1 AND ecnt.b = e.p2
    """,
    tags=("extended", "graph"),
)
def part_edge_embeddedness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge embeddedness / topological overlap: for every
    co-purchase edge, the number of shared neighbors and the Jaccard of
    the two endpoint neighborhoods (excluding the endpoints
    themselves) — THE edge-strength signal of graph sparsification
    (keep embedded edges, drop bridges) and of Granovetter-style
    weak-tie analysis.

    Scale shape: computing |N(u)∩N(v)| per edge naively is a
    Σdeg² wedge join — hub-fatal; instead every triangle from the
    degree-oriented enumeration (the O(m^1.5) bound shared with
    part_copurchase_triangles / part_local_clustering) is exploded to
    its THREE member edges and counted per normalized edge key, so
    per-edge common-neighbor counts inherit the hub-safe bound.  The
    degree-1-endpoints denominator (d_a + d_b − 2 − common = 0) is
    nullif-guarded identically on both engines."""
    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("p1").alias("node"))
        .unionAll(e.select(F.col("p2").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
        .localCheckpoint(eager=True)
    )
    d1 = deg.select(F.col("node").alias("p1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("node").alias("p2"), F.col("d").alias("d2"))
    fwd = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("p1") < F.col("p2"))
    )
    o = (
        e.join(d1, "p1")
        .join(d2, "p2")
        .select(
            F.when(fwd, F.col("p1")).otherwise(F.col("p2")).alias("u"),
            F.when(fwd, F.col("p2")).otherwise(F.col("p1")).alias("v"),
            F.when(fwd, F.col("d2")).otherwise(F.col("d1")).alias("dv"),
        )
        .localCheckpoint(eager=True)
    )
    wa = o.select("u", F.col("v").alias("va"), F.col("dv").alias("da"))
    wb = o.select("u", F.col("v").alias("vb"), F.col("dv").alias("db"))
    tri = (
        wa.join(wb, "u")
        .filter(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("va") < F.col("vb")))
        )
        .join(o.select(F.col("u").alias("va"), F.col("v").alias("vb")), ["va", "vb"])
    )
    trie = (
        tri.select(
            F.least("u", "va").alias("a"), F.greatest("u", "va").alias("b")
        )
        .unionAll(
            tri.select(
                F.least("u", "vb").alias("a"), F.greatest("u", "vb").alias("b")
            )
        )
        .unionAll(
            tri.select(
                F.least("va", "vb").alias("a"), F.greatest("va", "vb").alias("b")
            )
        )
    )
    ecnt = trie.groupBy("a", "b").agg(F.count("*").alias("common"))
    common = F.coalesce(F.col("common"), F.lit(0).cast("long"))
    denom = F.col("d1") + F.col("d2") - F.lit(2) - common
    return (
        e.join(d1, "p1")
        .join(d2, "p2")
        .join(
            ecnt,
            (F.col("a") == F.col("p1")) & (F.col("b") == F.col("p2")),
            "left",
        )
        .select(
            "p1",
            "p2",
            F.col("d1").alias("deg_a"),
            F.col("d2").alias("deg_b"),
            common.alias("common_neighbors"),
            F.round(
                common * F.lit(1.0) / F.nullif(denom, F.lit(0)), 6
            ).alias("nbr_jaccard"),
        )
    )


def _peel_round_sql(i: int, k: int) -> str:
    """One k-core peel round as unrolled CTEs: degrees over e{i-1},
    survivors, and the induced edge set e{i}.

    Each round's edge set is AS MATERIALIZED: e{i-1} is referenced
    three times per round (twice in the degree UNION ALL, once as the
    join base), so the default inlining re-evaluated the whole peel
    chain multiplicatively — 178 s solo / 829 s under sweep concurrency
    at sf0.1 vs 0.5 s materialized (VERDICT r06 #1)."""
    return f"""
        d{i} AS (
            SELECT node, count(*) AS deg FROM (
                SELECT p1 AS node FROM e{i - 1}
                UNION ALL SELECT p2 FROM e{i - 1}
            ) GROUP BY node
        ),
        v{i} AS (SELECT node FROM d{i} WHERE deg >= {k}),
        e{i} AS MATERIALIZED (
            SELECT e.p1, e.p2 FROM e{i - 1} e
            JOIN v{i} a ON a.node = e.p1
            JOIN v{i} b ON b.node = e.p2
        )"""


# k=2 (r07): the support>=2 co-purchase graph sparsifies RELATIVE to
# part count as SF grows (10x parts, near-constant basket sizes), so the
# 3-core is empty at sf0.1 — a hash-trivially-green all-empty comparison
# that exercised nothing at the sweep SF (VERDICT r06 #1).  The 2-core
# (cycle-containing backbone) is non-empty at every gate SF
# (sf0.01: 1535 rows, sf0.1: 13 rows) so both comparisons are real.
_KCORE_K = 2
_KCORE_ROUNDS = 3


@register(
    "part_kcore_peel",
    oracle=f"""
        WITH {_COPURCHASE_EDGE_CTES},
        e0 AS MATERIALIZED (SELECT p1, p2 FROM e),
        {",".join(_peel_round_sql(i, _KCORE_K) for i in (1, 2, 3))}
        SELECT node AS part, deg AS core_degree FROM (
            SELECT node, count(*)::BIGINT AS deg FROM (
                SELECT p1 AS node FROM e{_KCORE_ROUNDS}
                UNION ALL SELECT p2 FROM e{_KCORE_ROUNDS}
            ) GROUP BY node
        ) WHERE deg > 0
    """,
    tags=("extended", "graph", "iterative"),
)
def part_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core extraction (k=2) by bounded peeling: 3 synchronous
    rounds of remove-degree-<k nodes over the co-purchase graph,
    emitting each survivor with its degree in the peeled subgraph —
    the dense-backbone extractor (k-cores are where community
    structure and bundle recommendations live; peeling strips the
    pendant/chain periphery that drowns them).  k=2 keeps the
    registered output non-empty at every gate SF (the support>=2
    graph's 3-core empties at sf0.1), so the sweep comparison is
    never vacuous.

    Peeling converges monotonically from above, so a bounded round
    count yields a certified SUPERSET of the true k-core (exactly the
    true core once a round removes nothing); rounds are fixed and
    unrolled in the oracle — the same bounded-iteration contract as
    `part_label_communities`.  Scale shape per round: one degree
    aggregate + one induced-subgraph semi-join pair, all keyed on
    node/edge ids, each round's edge set localCheckpoint'd (strictly
    shrinking, lineage flat)."""
    e = _copurchase_edges(spark, sf_dir)
    cur = e.select("p1", "p2")
    for _ in range(_KCORE_ROUNDS):
        deg = (
            cur.select(F.col("p1").alias("node"))
            .unionAll(cur.select(F.col("p2").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        surv = deg.filter(F.col("deg") >= _KCORE_K).select("node")
        cur = (
            cur.join(surv.select(F.col("node").alias("p1")), "p1", "semi")
            .join(surv.select(F.col("node").alias("p2")), "p2", "semi")
            .select("p1", "p2")
            .localCheckpoint(eager=True)
        )
    return (
        cur.select(F.col("p1").alias("part"))
        .unionAll(cur.select(F.col("p2").alias("part")))
        .groupBy("part")
        .agg(F.count("*").alias("core_degree"))
    )
