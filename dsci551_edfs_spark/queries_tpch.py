"""Extended TPC-H-shape relational coverage (SURVEY.md §2.5 phase 5).

The reference exposes no user-facing joins at all (`combined_flask.py:284-295`
uses SQL joins only internally to stitch replica metadata), so this entire
module is Spark-native additive capability: the classic TPC-H query shapes
adapted to the driver's trimmed schema (no partsupp, no l_commitdate /
l_receiptdate / l_shipmode — see TESTDATA.md).

Scale posture baked into every query:
- dimension sides (region/nation/supplier, filtered customer) are broadcast —
  at 100 TB the fact tables shuffle at most once, on their join key;
- top-k always runs as TakeOrderedAndProject (orderBy().limit()), never a
  global sort;
- correlated scalar subqueries are written decorrelated (groupBy + join),
  which is the plan Catalyst would rewrite to anyway and keeps the min/max
  aggregation partial map-side;
- all FP aggregates are rounded identically here and in the DuckDB oracle so
  the driver's value hash is stable across summation orders.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .queries_base import _t, q

__all__: list[str] = []


def _ts(s: str):
    return F.lit(s).cast("timestamp")


@q(
    "q5_local_supplier_volume",
    """
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5: 6-way join where customer and supplier must share a nation.

    Join order: lineitem (largest) joins orders once on its key; nation⨝region
    and supplier are broadcast so the only shuffle of fact data is
    lineitem⨝orders. The c_nationkey = s_nationkey equi-constraint rides the
    customer join condition instead of a post-join filter, letting Catalyst
    prune rows inside the join."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(
            F.broadcast(c),
            (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@q(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                           AND TIMESTAMP '1997-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7: bilateral trade volume between two nations by year.

    The two-nation disjunction is evaluated AFTER both broadcast joins attach
    the nation names — on two already-filtered broadcast dims this is cheap,
    and the supplier/customer sides are each pre-filtered to the 2-nation set
    so the broadcast hash tables stay tiny at any scale."""
    nations = ["NATION_1", "NATION_2"]
    n1 = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(nations))
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    n2 = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(nations))
    c = _t(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(_ts("1996-01-01"), _ts("1997-12-31"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(c), o.o_custkey == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@q(
    "q8_market_share",
    """
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END), 2)
               AS nation_volume,
           round(sum(volume), 2) AS total_volume
    FROM (
      SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part, supplier, lineitem, orders, customer, nation n1, nation n2,
           region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
        AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 (market share): 8-way join, one supplier nation's volume vs
    total per year. Emits numerator and denominator separately instead of the
    ratio — the division of two independently-summed doubles is the one place
    TPC-H output is not reproducible across engines at round boundaries.
    part (filtered), supplier+nation, customer+nation+region all broadcast;
    lineitem⨝orders is the lone shuffle."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select(
        "p_partkey"
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select("s_suppkey", "nation")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = _t(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_5", vol).otherwise(0.0)),
                2,
            ).alias("nation_volume"),
            F.round(F.sum(vol), 2).alias("total_volume"),
        )
    )


@q(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1998-01-01'
      AND o_orderdate < TIMESTAMP '1998-04-01'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10: top-20 customers by returned-goods revenue in a quarter.

    Orders the LIMIT by the ROUNDED revenue with c_custkey as tiebreaker so
    Spark and the oracle select an identical row set even when the unrounded
    sums differ in the last ulp. TakeOrderedAndProject keeps the top-k
    partial per partition."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1998-01-01"))
        & (F.col("o_orderdate") < _ts("1998-04-01"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@q(
    "q14_promo_revenue",
    """
    SELECT round(sum(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0 END), 2) AS promo_revenue,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate < TIMESTAMP '1996-10-01'
    """,
)
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 (promotion effect): conditional vs total revenue for one
    month. part carries only (p_partkey, p_type) into a broadcast join —
    2 columns of a wide dim, real column pruning at the parquet scan. The
    ratio is left to the consumer (same FP-division rationale as Q8)."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-09-01"))
        & (F.col("l_shipdate") < _ts("1996-10-01"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0)), 2
            ).alias("promo_revenue"),
            F.round(F.sum(vol), 2).alias("total_revenue"),
        )
    )


@q(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 (top supplier): the scalar-subquery max is a 1-row
    ``agg(max)`` cross-joined (broadcast of one row) back onto the
    aggregated revenue frame — never a single-partition window, so the
    per-supplier frame stays partitioned no matter how many suppliers a
    100 TB corpus has. Comparing rounded revenues makes the argmax
    tie-handling identical to the oracle."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total_revenue")
    )
    max_rev = rev.agg(F.max("total_revenue").alias("max_rev"))
    top = rev.join(F.broadcast(max_rev)).filter(
        F.col("total_revenue") == F.col("max_rev")
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        s.join(F.broadcast(top), s.s_suppkey == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@q(
    "q18_large_volume_customer",
    """
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           round(sum(l_quantity), 2) AS sum_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING sum(l_quantity) > 300
      )
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    """,
)
def q18_large_volume_customer(spark, sf_dir):
    """TPC-H Q18 (large-volume customer): HAVING-subquery membership as a
    broadcast LEFT SEMI join. The qualifying-order set is aggregated first
    (partial sums map-side), and only then does lineitem re-join it — the
    semi join ships just the tiny key set, never the fact table. Quantities
    are integral-valued doubles, so sum > 300 is FP-exact on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 300)
        .select("l_orderkey")
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        li.join(F.broadcast(big), "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


@q(
    "q19_discounted_revenue",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND (
        (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
         AND l_quantity BETWEEN 1 AND 11)
     OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 10
         AND l_quantity BETWEEN 10 AND 20)
     OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 15
         AND l_quantity BETWEEN 20 AND 30))
    """,
)
def q19_discounted_revenue(spark, sf_dir):
    """TPC-H Q19 (disjunctive predicates): the classic OR-of-ANDs join.
    Expressed as an equi-join on p_partkey with the disjunction as a residual
    condition — Catalyst still plans a (broadcast) hash join because the
    equi-conjunct is extractable; a naive theta-join formulation would fall
    back to BroadcastNestedLoopJoin and die at scale. part is pre-filtered
    to the union of brand/size ranges so the broadcast side shrinks first."""
    p = _t(spark, sf_dir, "part").filter(
        (
            (F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
        )
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#14") & F.col("p_size").between(1, 15))
    )
    li = _t(spark, sf_dir, "lineitem")
    cond = (li.l_partkey == p.p_partkey) & (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#14")
            & F.col("l_quantity").between(20, 30)
        )
    )
    return li.join(F.broadcast(p), cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


@q(
    "q22_dormant_customers",
    """
    SELECT c_mktsegment, count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                       WHERE c_acctbal > 0)
      AND c_custkey NOT IN (SELECT DISTINCT o_custkey FROM orders
                            WHERE o_orderdate >= TIMESTAMP '2001-01-01')
    GROUP BY c_mktsegment
    """,
)
def q22_dormant_customers(spark, sf_dir):
    """TPC-H Q22 shape adapted to this dataset (every customer has SOME
    order, so 'no orders at all' is empty; 'dormant this year' is not):
    above-average-balance customers with no 2001 order. The scalar avg is a
    1-row cross-join broadcast; the NOT IN becomes a broadcast LEFT ANTI
    join on the distinct recent-buyer keys — both sides of the anti join
    stay key-only."""
    c = _t(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= _ts("2001-01-01"))
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(F.broadcast(recent), "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@q(
    "q2_min_cost_supplier",
    """
    WITH supplies AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name
    FROM part, supplies, supplier, nation
    WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      AND s_nationkey = n_nationkey AND p_size = 10
      AND s_acctbal = (
        SELECT min(s2.s_acctbal)
        FROM supplies sp2, supplier s2
        WHERE sp2.l_partkey = p_partkey AND s2.s_suppkey = sp2.l_suppkey
      )
    """,
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape without partsupp: the parts-supplied relation is
    derived as DISTINCT (l_partkey, l_suppkey) from lineitem, and the
    correlated 'cheapest supplier per part' subquery is written decorrelated:
    groupBy(part).min(acctbal) then an equality join back. The min compares
    raw stored doubles (no arithmetic), so cross-engine equality is exact.
    At scale the distinct is the only wide shuffle; everything after operates
    on |parts|-sized frames."""
    supplies = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    cost = supplies.join(
        F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey")
    ).select("l_partkey", "l_suppkey", "s_acctbal")
    min_cost = cost.groupBy("l_partkey").agg(
        F.min("s_acctbal").alias("min_bal")
    )
    best = cost.join(F.broadcast(min_cost), "l_partkey").filter(
        F.col("s_acctbal") == F.col("min_bal")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") == 10)
    n = _t(spark, sf_dir, "nation")
    return (
        best.join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(
            F.broadcast(s.select("s_suppkey", "s_name", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select(
            "p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name"
        )
    )


@q(
    "q9_product_profit",
    """
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                     - 0.4 * p_retailprice * l_quantity
                     AS DECIMAL(28, 6))) AS DOUBLE), 2) AS profit
    FROM lineitem, part, supplier, orders, nation
    WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
      AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      AND p_name LIKE '%gear%'
    GROUP BY n_name, o_year
    """,
)
def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit) without partsupp: supply cost is
    modeled as 0.4 * p_retailprice (the reference schema has no ps_supplycost;
    TESTDATA.md trims partsupp). Profit by supplier nation and order year.

    Scale posture: part is pre-filtered by the LIKE and broadcast with only
    (p_partkey, p_retailprice); supplier+nation broadcast; the single fact
    shuffle is lineitem⨝orders on orderkey. The LIKE filter cannot push to
    parquet as a range but prunes the broadcast build side to a fraction of
    part before any fact row is touched."""
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey", "p_retailprice")
    )
    n = _t(spark, sf_dir, "nation")
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.4 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(profit.cast("decimal(28,6)")).cast("double"), 2
            ).alias("profit")
        )
    )


@q(
    "q11_important_stock",
    """
    WITH partval AS (
      SELECT l_partkey,
             round(sum(p_retailprice * l_quantity), 2) AS value
      FROM lineitem, part, supplier
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND s_nationkey = 3
      GROUP BY l_partkey
    )
    SELECT l_partkey, value FROM partval
    WHERE value > (SELECT 0.001 * sum(value) FROM partval)
    """,
)
def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape (important stock) on the trimmed schema: per-part
    shipped value (retailprice x quantity) restricted to one supplier nation,
    keeping parts above a fraction of the global total. The scalar subquery is
    a 1-row aggregate of the ALREADY-GROUPED frame (|parts| rows, not fact
    rows), broadcast back as a cross join — the fact table is scanned once.
    Quantities are integral and retailprice has 2 decimals, so the partial
    sums are exact in double and the rounded per-part values hash-match."""
    s = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == 3)
        .select("s_suppkey")
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    partval = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_partkey")
        .agg(
            F.round(F.sum(F.col("p_retailprice") * F.col("l_quantity")), 2).alias(
                "value"
            )
        )
    )
    threshold = partval.agg(
        (F.sum("value") * F.lit(0.001)).alias("threshold")
    )
    return (
        partval.join(F.broadcast(threshold))
        .filter(F.col("value") > F.col("threshold"))
        .select("l_partkey", "value")
    )


@q(
    "q12_late_shipments",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    GROUP BY l_linestatus
    """,
)
def q12_late_shipments(spark, sf_dir):
    """TPC-H Q12 shape (shipping modes and priority) adapted: the trimmed
    schema has no l_shipmode/l_commitdate/l_receiptdate, so 'late' is
    ship > order date + 60 days and the grouping key is l_linestatus. The
    late predicate references both sides, so it rides the join as a residual
    condition on the one orderkey shuffle; the CASE counts are exact
    integers (no FP rounding concerns)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_linestatus"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@q(
    "q13_customer_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 (customer distribution): LEFT OUTER join so customers with
    zero qualifying orders appear with c_count = 0, then a histogram of
    order counts. The orders-side filter lives IN the join condition (outer
    joins cannot push it below without changing semantics — putting it in
    the ON clause lets Spark filter the right side pre-join while keeping
    every customer row). First groupBy shuffles on custkey (same key as the
    join, so AQE reuses the partitioning); the histogram agg is |distinct
    counts| rows — trivial."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    return (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@q(
    "q16_supplier_part_count",
    """
    WITH supplies AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM supplies, part
    WHERE p_partkey = l_partkey
      AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_part_count(spark, sf_dir):
    """TPC-H Q16 (parts/supplier relationship) with the part-supplier bridge
    derived from lineitem (no partsupp in the trimmed schema). The NOT IN
    blacklist (negative-balance suppliers standing in for the complaints
    LIKE) is a broadcast LEFT ANTI join on a key-only frame. The DISTINCT
    bridge is the lone fact-sized shuffle; everything downstream is
    |parts|-scale. count(DISTINCT) re-shuffles only the bridge rows that
    survived the selective p_size/brand/type broadcast filter."""
    bridge = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    return (
        bridge.join(F.broadcast(bad), "l_suppkey", "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@q(
    "q20_excess_shippers",
    """
    WITH shipped AS (
      SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l_partkey, l_suppkey
    ), parttot AS (
      SELECT l_partkey, sum(qty) AS total_qty
      FROM shipped GROUP BY l_partkey
    )
    SELECT s_suppkey, s_name, n_name
    FROM supplier, nation
    WHERE s_nationkey = n_nationkey
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM shipped, parttot, part
        WHERE shipped.l_partkey = parttot.l_partkey
          AND p_partkey = shipped.l_partkey
          AND p_name LIKE 'small%'
          AND qty > 0.5 * total_qty
      )
    """,
)
def q20_excess_shippers(spark, sf_dir):
    """TPC-H Q20 shape (potential part promotion): suppliers who shipped
    more than half of a 'small%' part's 1996 volume (ps_availqty has no
    trimmed-schema twin, so dominance over the part's total shipped quantity
    is the excess test). Nested aggregation: per (part,supplier) sums roll up
    to per-part totals, joined back on partkey — both aggregates shuffle the
    ALREADY-REDUCED frame, and the year filter prunes the fact scan first.
    Quantities are integral doubles: sums and the 0.5x compare are FP-exact.
    The IN becomes a semi join onto broadcast supplier+nation."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("qty")
    )
    parttot = shipped.groupBy("l_partkey").agg(
        F.sum("qty").alias("total_qty")
    )
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    excess = (
        shipped.join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(parttot, "l_partkey")
        .filter(F.col("qty") > 0.5 * F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(excess), s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
    )


@q(
    "q21_waiting_suppliers",
    """
    WITH per_supp AS (
      SELECT l_orderkey, l_suppkey, max(l_shipdate) AS supp_max
      FROM lineitem GROUP BY l_orderkey, l_suppkey
    ), ord AS (
      SELECT l_orderkey, max(supp_max) AS ord_max, count(*) AS n_supp
      FROM per_supp GROUP BY l_orderkey
    ), sole AS (
      SELECT p.l_orderkey, min(p.l_suppkey) AS l_suppkey
      FROM per_supp p, ord o
      WHERE p.l_orderkey = o.l_orderkey AND o.n_supp > 1
        AND p.supp_max = o.ord_max
      GROUP BY p.l_orderkey HAVING count(*) = 1
    )
    SELECT s_name, count(*) AS numwait
    FROM sole, orders, supplier
    WHERE sole.l_orderkey = o_orderkey AND o_orderstatus = 'F'
      AND s_suppkey = sole.l_suppkey
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 (suppliers who kept orders waiting): on a finished order
    with 2+ suppliers, the supplier who ALONE shipped last held it up. The
    reference formulation's EXISTS / NOT EXISTS self-joins are re-expressed
    as one grouped pass: per-(order,supplier) max shipdate, a window over
    each order for the order-wide max and supplier count, then
    sole-latest-supplier selection — lineitem shuffles once on
    (orderkey, suppkey); the window reuses the orderkey prefix co-partitioning
    (a single sort within partitions, no second exchange of fact data).
    Timestamp equality is exact, counts are integers; the LIMIT orders by
    (numwait DESC, s_name) for a deterministic row set."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("supp_max")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("l_orderkey")
    sole = (
        per_supp.withColumn("ord_max", F.max("supp_max").over(w))
        .withColumn("n_supp", F.count("*").over(w))
        .filter((F.col("n_supp") > 1) & (F.col("supp_max") == F.col("ord_max")))
        .groupBy("l_orderkey")
        .agg(
            F.min("l_suppkey").alias("l_suppkey"),
            F.count("*").alias("n_at_max"),
        )
        .filter(F.col("n_at_max") == 1)
        .select("l_orderkey", "l_suppkey")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        sole.join(o, sole.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), sole.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )
