"""Deep TPC-H query shapes: correlated subqueries, scalar-aggregate
thresholds, self-join EXISTS/NOT-EXISTS, count-distinct, market share.

The driver testdata has no ``partsupp`` table, so the part↔supplier
relation is derived from ``lineitem`` (each (l_partkey, l_suppkey) pair
acts as the catalog entry, unit price = avg(l_extendedprice/l_quantity));
the Q9 "supplycost" is proxied by a retail-price fraction.  Shapes and
plan structure otherwise follow the TPC-H originals.

Determinism rules (same as plans/tpch.py): money aggregates sum exact
DECIMAL so they are order-independent (functions/exact.py); thresholds
compare exact decimals (or values derived deterministically from them);
tiebreak every top-k with a key column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from encodesrv_spark.catalog import load_table
from encodesrv_spark.functions.exact import _units, exact_sum, money_round
from encodesrv_spark.plans.registry import register


def _rev_sum(where=None):
    """Exact Σ ``l_extendedprice * (1 - l_discount)`` via the compact-
    integer fast path (functions/exact.py::exact_sum)."""
    return exact_sum(
        "l_extendedprice", F.lit(1) - F.col("l_discount"), where=where
    )


@register(
    "q2_min_cost_supplier",
    oracle="""
        WITH ps AS (
            SELECT l_partkey, l_suppkey,
                   round(CAST(sum(CAST(l_extendedprice / l_quantity
                                       AS DECIMAL(18,10))) AS DOUBLE)
                         / count(*), 4) AS unit_cost
            FROM lineitem GROUP BY l_partkey, l_suppkey
        ),
        eligible AS (
            SELECT ps.l_partkey, ps.unit_cost, s.s_name, n.n_name
            FROM ps
            JOIN supplier s ON ps.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'EUROPE'
        )
        SELECT p.p_partkey, p.p_name, e.s_name, e.n_name, e.unit_cost
        FROM part p
        JOIN eligible e ON p.p_partkey = e.l_partkey
        WHERE p.p_type = 'LARGE' AND p.p_size < 10
          AND e.unit_cost = (
              SELECT min(e2.unit_cost) FROM eligible e2
              WHERE e2.l_partkey = e.l_partkey
          )
        ORDER BY e.unit_cost, p.p_partkey, e.s_name
        LIMIT 100
    """,
    tags=("tpch", "correlated", "topk"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN subquery (cheapest regional
    supplier per part) decorrelated into a window-min over the
    part↔supplier catalog derived from lineitem.  The catalog aggregate
    shuffles once on (partkey, suppkey); supplier/nation/region are all
    broadcast; the window min rides the same partkey partitioning
    instead of a second self-join shuffle.

    The two selective dimension predicates are pushed BELOW the
    catalog aggregate as semi-joins (opt guide §2.3/§3.2): only fact
    rows whose part passes the p_type/p_size filter AND whose supplier
    is regional ever reach the per-row DECIMAL(18,10) quantize + the
    (partkey, suppkey) exchange — ~0.6% of lineitem at sf0.1
    (18,612/600,000 pass the part filter × 201/1000 regional
    suppliers).  Equivalent by construction: unit_cost is a per-group
    aggregate and the min ranges over one partkey's REGIONAL suppliers
    (the oracle's correlated subquery is over `eligible`), so dropping
    whole groups that cannot survive the final inner joins changes
    neither any surviving group's value nor any partition's min.  No
    broadcast hints on the semi-joins — part/supplier are sf-scaled
    (AQE broadcasts them at test scale; at 100 TB they degrade to an
    honest shuffle or a runtime Bloom filter)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    regional = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(
            F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    wanted = p.filter((F.col("p_type") == "LARGE") & (F.col("p_size") < 10)).select(
        "p_partkey", "p_name"
    )
    # Semi-join keys bound to their right-side frames (ADVICE r10):
    # an unqualified F.col("p_partkey") resolves correctly today but
    # becomes an ambiguous-reference failure if the left frame ever
    # gains a column of the same name.
    wk = wanted.select("p_partkey")
    rk = regional.select("s_suppkey")
    lf = l.join(wk, l.l_partkey == wk.p_partkey, "left_semi").join(
        rk, l.l_suppkey == rk.s_suppkey, "left_semi"
    )
    # The per-row quotient is not a finite decimal, so quantize each term
    # to DECIMAL(18,10) (identical per-row rounding on both engines) and
    # sum exactly — an order-independent mean; see functions/exact.py.
    ps = lf.groupBy("l_partkey", "l_suppkey").agg(
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
    eligible = ps.join(regional, ps.l_suppkey == regional.s_suppkey)
    cheapest = eligible.withColumn(
        "min_cost", F.min("unit_cost").over(W.partitionBy("l_partkey"))
    ).filter(F.col("unit_cost") == F.col("min_cost"))
    return (
        cheapest.join(wanted, F.col("l_partkey") == F.col("p_partkey"))
        .select("p_partkey", "p_name", "s_name", "n_name", "unit_cost")
        .orderBy("unit_cost", "p_partkey", "s_name")
        .limit(100)
    )


@register(
    "q8_market_share",
    oracle="""
        SELECT year(o.o_orderdate)::BIGINT AS o_year,
               round(CAST(sum(CASE WHEN n2.n_name = 'NATION_5'
                                   THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                                        * CAST(1 - l.l_discount AS DECIMAL(4,2))
                                   ELSE 0 END) AS DOUBLE)
                     / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                                * CAST(1 - l.l_discount AS DECIMAL(4,2)))
                            AS DOUBLE), 6) AS mkt_share
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n1.n_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
          AND o.o_orderdate >= TIMESTAMP '1995-01-01'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY o_year
    """,
    tags=("tpch", "join", "agg"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a regional market by year.
    Nation joins twice under different roles (customer market filter,
    supplier share numerator).  Every dimension broadcasts; the only
    shuffles are lineitem↔orders and the final tiny per-year agg.  The
    share is a conditional-sum / total-sum pair in ONE aggregation pass,
    not two scans."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    p = load_table(spark, sf_dir, "part")
    market_nations = (
        nation.join(
            F.broadcast(r.filter(F.col("r_name") == "AMERICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select(F.col("n_nationkey").alias("mkt_nationkey"))
    )
    supp_nation = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        l.join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            ),
            l.l_orderkey == o.o_orderkey,
        )
        .join(p.filter(F.col("p_type") == "ECONOMY"), l.l_partkey == p.p_partkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(market_nations), F.col("c_nationkey") == F.col("mkt_nationkey"))
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                _rev_sum(where=F.col("supp_nation") == "NATION_5").cast(
                    "double"
                )
                / _rev_sum().cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "q9_product_profit",
    oracle="""
        SELECT n.n_name AS nation,
               year(o.o_orderdate)::BIGINT AS o_year,
               CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                              * CAST(1 - l.l_discount AS DECIMAL(4,2))
                              - CAST(0.08 AS DECIMAL(4,2))
                                * CAST(p.p_retailprice AS DECIMAL(12,2))
                                * CAST(l.l_quantity AS DECIMAL(2,0))), 2)
                    AS DOUBLE) AS profit
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE p.p_name LIKE '%red%'
        GROUP BY nation, o_year
    """,
    tags=("tpch", "join", "agg"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier-nation and year over a
    part-name LIKE filter.  Supplycost (no partsupp table) is proxied
    as 8% of retail price x quantity.  The name filter prunes part
    early; part/supplier joins are unhinted (sf-scaled — AQE sizes
    them), and grouping keys are tiny (nation x year) so the final agg
    is map-side dominated."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    # profit = price*(1-disc) - 0.08*retailprice*qty: both terms are exact
    # scale-4 integers per row (compact-long fast path — see exact_sum),
    # so one DECIMAL sum of their difference is exact and order-free
    profit4 = (
        _units("l_extendedprice") * _units(F.lit(1) - F.col("l_discount"))
        - _units("p_retailprice") * _units(F.lit(0.08)) * F.col("l_quantity").cast("long")
    ).cast("decimal(18,0)")
    return (
        l.join(
            p.filter(F.col("p_name").contains("red")),
            l.l_partkey == p.p_partkey,
        )
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            money_round(
                F.sum(profit4) / F.lit(10**4).cast("decimal(7,0)")
            ).alias("profit")
        )
    )


@register(
    "q11_important_stock",
    oracle="""
        WITH val AS (
            SELECT l.l_partkey,
                   sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                       * CAST(l.l_quantity AS DECIMAL(2,0))) AS v
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE n.n_name = 'NATION_3'
            GROUP BY l.l_partkey
        )
        SELECT l_partkey, CAST(round(v, 2) AS DOUBLE) AS value
        FROM val
        WHERE v * 1000 > (SELECT sum(v) FROM val)
    """,
    tags=("tpch", "scalar-subquery", "having"),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: groups whose aggregate exceeds a fraction of
    the GLOBAL aggregate (scalar subquery over the same derived table).
    The per-part values aggregate once; the global total is a 1-row
    broadcast cross join, NOT a second scan of lineitem.  Values are
    rounded before the threshold compare so both engines cut
    identically."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    nat_supp = (
        s.join(
            F.broadcast(n.filter(F.col("n_name") == "NATION_3")),
            s.s_nationkey == n.n_nationkey,
        ).select("s_suppkey")
    )
    val = (
        l.join(nat_supp, l.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            exact_sum(
                "l_extendedprice", (F.col("l_quantity"), 0)
            ).alias("v")
        )
    )
    total = val.agg(F.sum("v").alias("total"))
    # value * 1000 > total keeps the 0.1% threshold compare in EXACT
    # decimal arithmetic on both engines (no decimal division rounding).
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("v") * 1000 > F.col("total"))
        .select("l_partkey", money_round(F.col("v")).alias("value"))
    )


@register(
    "q15_top_supplier",
    oracle="""
        WITH rev AS (
            SELECT l_suppkey,
                   sum(CAST(l_extendedprice AS DECIMAL(12,2))
                       * CAST(1 - l_discount AS DECIMAL(4,2))) AS v
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name,
               CAST(round(r.v, 2) AS DOUBLE) AS total_revenue
        FROM supplier s
        JOIN rev r ON s.s_suppkey = r.l_suppkey
        WHERE r.v = (SELECT max(v) FROM rev)
    """,
    tags=("tpch", "scalar-subquery"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the revenue 'view' aggregates once, then a
    scalar MAX over it selects the top supplier(s) — max computed as a
    1-row broadcast, with the equality compare on EXACT decimal sums.
    Returns ALL suppliers tied at the max (set semantics, no arbitrary
    tiebreak — matches the SQL)."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(_rev_sum().alias("v"))
    )
    top = rev.agg(F.max("v").alias("max_v"))
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("v") == F.col("max_v"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", money_round(F.col("v")).alias("total_revenue")
        )
    )


@register(
    "q16_supplier_count",
    oracle="""
        SELECT p.p_brand, p.p_type, p.p_size,
               count(DISTINCT l.l_suppkey)::BIGINT AS supplier_cnt
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand <> 'Brand#5'
          AND p.p_size IN (1, 5, 9, 14, 20, 28, 36, 45)
          AND l.l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
        GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    tags=("tpch", "distinct", "antijoin"),
)
def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: COUNT(DISTINCT supplier) per part attribute
    with a NOT-IN supplier exclusion.  NOT IN becomes a left-anti
    join (AQE-sized — the excluded set shrinks with the acctbal filter
    but still scales with SF); the distinct count
    expands to a two-phase partial/final aggregate keyed on the group
    columns — no global distinct shuffle of the fact table."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    bad = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    wanted = p.filter(
        (F.col("p_brand") != "Brand#5")
        & F.col("p_size").isin(1, 5, 9, 14, 20, 28, 36, 45)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        l.join(bad, l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(wanted, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q20_excess_shippers",
    oracle="""
        SELECT s.s_name, n.n_name
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
          AND s.s_suppkey IN (
              SELECT l.l_suppkey
              FROM lineitem l
              JOIN part p ON p.p_partkey = l.l_partkey
              WHERE p.p_name LIKE 'red%'
              GROUP BY l.l_suppkey, l.l_partkey
              HAVING sum(l.l_quantity) > 40
          )
    """,
    tags=("tpch", "semijoin", "having"),
)
def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: IN over a grouped-HAVING subquery — suppliers
    who moved bulk volume of a part family.  The inner aggregate runs
    first (part filter pruned early, join sized by AQE), collapses to a distinct
    suppkey set, and semi-joins against the nation-filtered supplier
    dimension.  Quantities are integral so the HAVING threshold is
    exact in both engines."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    red = p.filter(F.col("p_name").startswith("red")).select("p_partkey")
    bulk = (
        l.join(red, l.l_partkey == red.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 40)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(
            F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .join(bulk, s.s_suppkey == bulk.l_suppkey, "left_semi")
        .select("s_name", "n_name")
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
        SELECT s.s_name, count(*)::BIGINT AS numwait
        FROM supplier s
        JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > l1.l_shipdate
          )
        GROUP BY s.s_name
        ORDER BY numwait DESC, s.s_name
        LIMIT 25
    """,
    tags=("tpch", "semijoin", "antijoin", "topk"),
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the double EXISTS/NOT-EXISTS self-join — the
    last supplier to ship on a failed multi-supplier order.  EXISTS
    becomes a left-semi and NOT EXISTS a left-anti, both hash joins on
    l_orderkey with the supplier/shipdate inequalities as residual
    conditions; all three lineitem sides share the orderkey shuffle key
    so AQE can reuse the exchange.  Strict '>' on shipdate keeps ties
    deterministic across engines."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    l1 = l.select("l_orderkey", "l_suppkey", "l_shipdate")
    l2 = l.select(
        F.col("l_orderkey").alias("l2_orderkey"), F.col("l_suppkey").alias("l2_suppkey")
    )
    l3 = l.select(
        F.col("l_orderkey").alias("l3_orderkey"),
        F.col("l_suppkey").alias("l3_suppkey"),
        F.col("l_shipdate").alias("l3_shipdate"),
    )
    failed = o.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    return (
        l1.join(failed, l1.l_orderkey == failed.o_orderkey, "left_semi")
        .join(
            l2,
            (F.col("l_orderkey") == F.col("l2_orderkey"))
            & (F.col("l_suppkey") != F.col("l2_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("l3_orderkey"))
            & (F.col("l_suppkey") != F.col("l3_suppkey"))
            & (F.col("l_shipdate") < F.col("l3_shipdate")),
            "left_anti",
        )
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(25)
    )


@register(
    "q22_idle_customers",
    oracle="""
        SELECT c.c_mktsegment,
               count(*)::BIGINT AS numcust,
               CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS totacctbal
        FROM customer c
        WHERE c.c_acctbal > (
                  SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                         / count(*)
                  FROM customer c2 WHERE c2.c_acctbal > 0
              )
          AND NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderdate >= TIMESTAMP '2000-01-01'
          )
        GROUP BY c.c_mktsegment
    """,
    tags=("tpch", "scalar-subquery", "antijoin"),
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: rich-but-inactive customers — scalar AVG
    subquery threshold plus NOT-EXISTS anti-join against recent orders,
    then a small segment rollup (mktsegment stands in for the phone
    country code; "no orders since 2000" stands in for "no orders",
    which is empty in this data).  The average is a 1-row broadcast;
    the anti-join probes a date-filtered custkey projection of orders.
    The avg threshold derives from an EXACT decimal sum (order-
    independent), so both engines compute the bit-identical mean and the
    strict inequality cuts identically."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (exact_sum("c_acctbal").cast("double") / F.count("*")).alias("avg_bal")
    )
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, c.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            money_round(exact_sum("c_acctbal")).alias("totacctbal"),
        )
    )
