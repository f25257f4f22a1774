"""Analytics queries (TPC-H-shaped) — the headline bench workload.

These exercise the full relational surface at scale: multi-way joins
(broadcast + shuffle), partial aggregation, semi joins, window top-k.
All aggregates are rounded identically in Spark and the DuckDB oracle,
and every ranking has a deterministic key tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from encodesrv_spark.catalog import load_table
from encodesrv_spark.functions.exact import exact_sum, money_round
from encodesrv_spark.plans.registry import register


def _rev_sum(where=None):
    """Exact Σ ``l_extendedprice * (1 - l_discount)`` — see
    functions/exact.py for why money sums must be exact (decimal), and
    exact_sum for the compact-integer fast path (no per-row
    double→decimal cast)."""
    return exact_sum(
        "l_extendedprice", F.lit(1) - F.col("l_discount"), where=where
    )


@register(
    "q1_pricing_summary",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS sum_base_price,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                              * CAST(1 - l_discount AS DECIMAL(4,2))), 2)
                    AS DOUBLE) AS sum_disc_price,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                              * CAST(1 - l_discount AS DECIMAL(4,2))
                              * CAST(1 + l_tax AS DECIMAL(4,2))), 2)
                    AS DOUBLE) AS sum_charge,
               round(sum(l_quantity) / count(*), 4) AS avg_qty,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                     / count(*), 4) AS avg_price,
               round(CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
                     / count(*), 6) AS avg_disc,
               count(*)::BIGINT AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    tags=("tpch", "agg"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy partial aggregation. Catalyst emits a
    map-side partial HashAggregate before the exchange, so the shuffle
    carries only (flag,status) groups — constant rows regardless of SF.

    Money aggregates sum exact DECIMAL (order-independent — see
    functions/exact.py); quantity is integer-valued so its double sum is
    already exact.

    Aggregate-buffer budget (VERDICT r05 #5): Catalyst deduplicates the
    twice-built ``exact_sum("l_extendedprice")`` (sum_base_price /
    avg_price share one limb triple — 13 sums in the partial
    HashAggregate, not 16; plan-verified), so the remaining recoverable
    cost was buffer count, not duplication: ``avg_qty`` is derived from
    the already-present Σqty and COUNT(*) instead of a separate Average
    (its internal sum+count buffers fold away — identical value, Σqty
    is exact in double and both engines divide the same IEEE doubles;
    the oracle mirrors the same Σqty/COUNT(*) form so the two engines
    share NULL semantics by construction, not by the data happening to
    carry none),
    and ``avg_disc`` rides a plain-LONG accumulator (discount units are
    ≤ 10/row, so even the ~6e11-row 100 TB global group sums to ~6e12 —
    six orders inside int64; no limb split needed).  16 → 12 aggregate
    buffers, per-row work for the discount sum down 3× ."""
    l = load_table(spark, sf_dir, "lineitem")
    disc = F.lit(1) - F.col("l_discount")
    tax = F.lit(1) + F.col("l_tax")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            money_round(exact_sum("l_extendedprice")).alias("sum_base_price"),
            money_round(exact_sum("l_extendedprice", disc)).alias(
                "sum_disc_price"
            ),
            money_round(exact_sum("l_extendedprice", disc, tax)).alias(
                "sum_charge"
            ),
            F.round(F.sum("l_quantity") / F.count("*"), 4).alias("avg_qty"),
            F.round(
                exact_sum("l_extendedprice").cast("double") / F.count("*"), 4
            ).alias("avg_price"),
            F.round(
                exact_sum("l_discount", acc="long").cast("double")
                / F.count("*"),
                6,
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle="""
        SELECT l.l_orderkey,
               CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                              * CAST(1 - l.l_discount AS DECIMAL(4,2))), 2)
                    AS DOUBLE) AS revenue,
               strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1995-06-01'
          AND l.l_shipdate > TIMESTAMP '1995-06-01'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    tags=("tpch", "join", "topk"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter → join → agg → top-k.
    customer is sf-scaled, so it carries NO broadcast hint — AQE picks
    broadcast at small SF and hash at 100 TB where a forced broadcast
    would OOM. Revenue is rounded BEFORE ranking so the top-k cut is
    deterministic across engines."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1995-06-01").cast("timestamp")
    return (
        l.filter(F.col("l_shipdate") > cutoff)
        .join(
            o.filter(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            c.filter(F.col("c_mktsegment") == "BUILDING"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(money_round(_rev_sum()).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
    )


@register(
    "q5_local_volume",
    oracle="""
        SELECT n.n_name,
               CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                              * CAST(1 - l.l_discount AS DECIMAL(4,2))), 2)
                    AS DOUBLE) AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1994-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-01-01'
        GROUP BY n.n_name
    """,
    tags=("tpch", "join", "agg"),
)
def q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join with a non-FK co-nation condition.
    Only constant-cardinality nation is hinted broadcast; customer and
    supplier grow with SF, so AQE chooses their join strategy (broadcast
    at test scale, shuffle hash at cluster scale)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1994-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(money_round(_rev_sum()).alias("revenue"))
    )


@register(
    "q6_forecast_revenue",
    oracle="""
        SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                              * CAST(l_discount AS DECIMAL(4,2))), 2)
                    AS DOUBLE) AS revenue,
               count(*)::BIGINT AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1994-01-01'
          AND l_shipdate < TIMESTAMP '1995-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    tags=("tpch", "agg"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan+filter+global agg — the pushdown
    benchmark. All four predicates reach the parquet reader
    (PushedFilters), only 4 columns are read (ReadSchema)."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            money_round(
                exact_sum("l_extendedprice", F.col("l_discount"))
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "order_priority_semi",
    oracle="""
        SELECT o_orderpriority, count(*)::BIGINT AS order_count
        FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
        )
        GROUP BY o_orderpriority
    """,
    tags=("tpch", "semijoin"),
)
def order_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS as a left-semi join (no row duplication,
    early-out probe), then a tiny aggregation."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    hits = l.filter(F.col("l_quantity") > 45).select("l_orderkey")
    return (
        o.join(hits, o.o_orderkey == hits.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "top_customers_per_nation",
    oracle="""
        WITH rev AS (
            SELECT c.c_custkey, c.c_name, c.c_nationkey,
                   CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(12,2))), 2)
                        AS DOUBLE) AS total
            FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY c.c_custkey, c.c_name, c.c_nationkey
        )
        SELECT n.n_name, r.c_name, r.total, r.rnk
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY c_nationkey ORDER BY total DESC, c_custkey
            )::BIGINT AS rnk
            FROM rev
        ) r
        JOIN nation n ON r.c_nationkey = n.n_nationkey
        WHERE r.rnk <= 3
    """,
    tags=("tpch", "window", "topk"),
)
def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k via row_number window — the distributed
    generalization of the reference's single top-k dequeue (T1→§2.7).
    Ranking happens on the already-aggregated (small) side."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_name", "c_nationkey")
        .agg(money_round(exact_sum("o_totalprice")).alias("total"))
    )
    w = W.partitionBy("c_nationkey").orderBy(F.desc("total"), F.asc("c_custkey"))
    return (
        rev.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "c_name", "total", "rnk")
    )


@register(
    "q13_customer_distribution",
    oracle="""
        SELECT c_count, count(*)::BIGINT AS custdist
        FROM (
            SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
            FROM customer c
            LEFT OUTER JOIN orders o
              ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
            GROUP BY c.c_custkey
        )
        GROUP BY c_count
    """,
    tags=("tpch", "outerjoin", "agg"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer join with an extra join-condition filter
    (which must stay IN the join condition — pushing it below the
    outer join would drop customers), then a two-level aggregation.
    First agg keys on c_custkey (pre-shuffled by the join), second is
    a tiny distribution over counts."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    joined = c.join(
        o,
        (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
        "left_outer",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "customers_no_urgent_anti",
    oracle="""
        SELECT c.c_custkey, c.c_name, c.c_mktsegment
        FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
        )
    """,
    tags=("tpch", "antijoin"),
)
def customers_no_urgent_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as a left-anti hash join (§2.6 'absent' in the
    reference, supplied here): the probe discards on first match, no
    row duplication, and the filtered orders side stays a fraction of
    the fact table."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return c.join(urgent, c.c_custkey == urgent.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
        WITH avgs AS (
            SELECT l_partkey, 0.2 * avg(l_quantity) AS lim
            FROM lineitem GROUP BY l_partkey
        )
        SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)))
                          AS DOUBLE) / 7, 2) AS avg_yearly,
               count(*)::BIGINT AS n_items
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN avgs a ON a.l_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#9' AND l.l_quantity < a.lim
    """,
    tags=("tpch", "correlated"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity) decorrelated into an aggregate + re-join — the plan
    Catalyst itself produces for the subquery form.  The per-part avg
    aggregates BEFORE joining (small side), and the brand filter
    prunes the probe early."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    avgs = l.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("lim")
    ).withColumnRenamed("l_partkey", "a_partkey")
    brand = p.filter(F.col("p_brand") == "Brand#9").select("p_partkey")
    return (
        l.join(brand, l.l_partkey == brand.p_partkey)
        .join(avgs, l.l_partkey == avgs.a_partkey)
        .filter(F.col("l_quantity") < F.col("lim"))
        .agg(
            F.round(
                exact_sum("l_extendedprice").cast("double") / F.lit(7), 2
            ).alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "q18_large_volume_customers",
    oracle="""
        SELECT c.c_name, o.o_orderkey, o.o_totalprice, t.sum_qty
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN (
            SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING sum(l_quantity) > 250
        ) t ON t.l_orderkey = o.o_orderkey
    """,
    tags=("tpch", "having"),
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a fact aggregation, then joins —
    the aggregate+filter runs FIRST so only qualifying orderkeys
    (a tiny set) ever join against orders/customer."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("raw_qty"))
        .filter(F.col("raw_qty") > 250)
        .select("l_orderkey", F.round(F.col("raw_qty"), 2).alias("sum_qty"))
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .select("c_name", "o_orderkey", "o_totalprice", "sum_qty")
    )


@register(
    "q7_nation_volume",
    oracle="""
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               year(l.l_shipdate)::BIGINT AS l_year,
               CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                              * CAST(1 - l.l_discount AS DECIMAL(4,2))), 2)
                    AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        GROUP BY 1, 2, 3
    """,
    tags=("tpch", "join", "agg"),
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the nation dimension joins TWICE under
    different aliases (supplier side and customer side) with a
    disjunctive cross-pair predicate.  Both nation aliases broadcast
    (constant 25 rows); customer/supplier are unhinted so AQE sizes
    those joins.  The pair filter applies before the aggregate."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(money_round(_rev_sum()).alias("revenue"))
    )


@register(
    "q10_returned_items",
    oracle="""
        SELECT c.c_custkey, c.c_name, n.n_name,
               CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                              * CAST(1 - l.l_discount AS DECIMAL(4,2))), 2)
                    AS DOUBLE) AS revenue
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE l.l_returnflag = 'R'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    tags=("tpch", "join", "topk"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-items revenue per customer, top 20.
    The returnflag filter is pushed to the lineitem scan; nation is
    hinted broadcast, customer left to AQE; final top-k is
    TakeOrderedAndProject over the aggregated (small) set."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(money_round(_rev_sum()).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q12_priority_by_status",
    oracle="""
        SELECT l.l_linestatus,
               sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
               sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END)::BIGINT AS low_line_count
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l.l_linestatus
    """,
    tags=("tpch", "agg"),
)
def q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional aggregation (CASE WHEN inside SUM)
    after a fact↔fact join — the pivot-ish counting pattern that stays
    one pass, no separate filtered scans."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q14_promo_revenue",
    oracle="""
        SELECT round(100 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                                         THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                                              * CAST(1 - l.l_discount AS DECIMAL(4,2))
                                         ELSE 0 END) AS DOUBLE)
                     / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                                * CAST(1 - l.l_discount AS DECIMAL(4,2)))
                            AS DOUBLE), 4) AS promo_pct,
               count(*)::BIGINT AS n_items
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
          AND l.l_shipdate < TIMESTAMP '1996-10-01'
    """,
    tags=("tpch", "agg"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-fraction aggregate (promo revenue
    share).  part is sf-scaled so its join is left to AQE; the month
    filter is pushed to the lineitem scan so the join probe is ~1/80th
    of the fact table."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
        )
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100)
                * _rev_sum(where=F.col("p_type") == "PROMO").cast("double")
                / _rev_sum().cast("double"),
                4,
            ).alias("promo_pct"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "q19_disjunctive_predicate",
    oracle="""
        SELECT CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                              * CAST(1 - l.l_discount AS DECIMAL(4,2))), 2)
                    AS DOUBLE) AS revenue,
               count(*)::BIGINT AS n_items
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity >= 1 AND l.l_quantity <= 21)
           OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
               AND l.l_quantity >= 10 AND l.l_quantity <= 30)
           OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
               AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
    tags=("tpch", "predicate"),
)
def q19_disjunctive_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides.  Catalyst
    derives the common single-side implications (brand ∈ {...},
    quantity ∈ [1,40]) and pushes them below the join as scan filters,
    keeping the full disjunction as the residual join predicate."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & q.between(1, 21))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25) & q.between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35) & q.between(20, 40))
    )
    return (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            money_round(_rev_sum()).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )
