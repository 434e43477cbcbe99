"""Reference parity: PMR aggregates, ingest/scan roundtrips, core relational surface (SURVEY.md 2.1/2.2/2.5).

Split from the original monolithic queries.py (round 13) —
verbatim section move, zero behavior change; registration
still lands in the shared QUERIES/ORACLES dicts via @q.
"""

from __future__ import annotations

from .queries_base import F, ING, SCN, Window, _scratch_dir, _t, q
from .sources.partials import map_partials

@q("pmr_avg", "SELECT round(avg(l_quantity), 3) AS avg_qty FROM lineitem")
def pmr_avg(spark, sf_dir):
    """getAvg parity: whole-table scalar avg; Catalyst runs the reference's
    partial(mean,count)→weighted-merge split natively."""
    return _t(spark, sf_dir, "lineitem").agg(
        F.round(F.avg("l_quantity"), 3).alias("avg_qty")
    )


@q("pmr_max", "SELECT max(l_extendedprice) AS max_price FROM lineitem")
def pmr_max(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").agg(F.max("l_extendedprice").alias("max_price"))


@q("pmr_min", "SELECT min(l_extendedprice) AS min_price FROM lineitem")
def pmr_min(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").agg(F.min("l_extendedprice").alias("min_price"))


@q("pmr_count", "SELECT count(*) AS cnt FROM lineitem")
def pmr_count(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").agg(F.count("*").alias("cnt"))


@q(
    "pmr_avg_pruned",
    "SELECT round(avg(l_extendedprice), 3) AS avg_price FROM lineitem "
    "WHERE l_returnflag = 'R'",
)
def pmr_avg_pruned(spark, sf_dir):
    """getAvg with `hash` partition pruning (`combined_flask.py:459-465`):
    the equality filter is pushed to the parquet scan; over a partitionBy
    layout it becomes directory pruning."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_returnflag") == "R").agg(
        F.round(F.avg("l_extendedprice"), 3).alias("avg_price")
    )


@q(
    "pmr_legacy_max",
    "SELECT greatest(max(coalesce(value, 0)), 0) AS legacy_max FROM events",
)
def pmr_legacy_max(spark, sf_dir):
    """Legacy getMax quirk (`combined_flask.py:741`, `:777`): nulls→0,
    result floored at 0."""
    return _t(spark, sf_dir, "events").agg(
        F.greatest(F.max(F.coalesce(F.col("value"), F.lit(0.0))), F.lit(0.0)).alias(
            "legacy_max"
        )
    )


@q(
    "pmr_legacy_min_firebase",
    "SELECT least(min(coalesce(value, 'infinity'::DOUBLE)), 0) AS legacy_min "
    "FROM events",
)
def pmr_legacy_min_firebase(spark, sf_dir):
    """Firebase getMin 0-seed bug (`combined_flask.py:1676-1688`)."""
    return _t(spark, sf_dir, "events").agg(
        F.least(
            F.min(F.coalesce(F.col("value"), F.lit(float("inf")))), F.lit(0.0)
        ).alias("legacy_min")
    )


@q(
    "pmr_partition_stats",
    "SELECT l_returnflag AS part_key, count(*) AS n_rows FROM lineitem "
    "GROUP BY l_returnflag",
)
def pmr_partition_stats(spark, sf_dir):
    """getPartitionLocations analog (`combined_flask.py:438-490`): the
    partition map as (key → row count) — metadata-cheap over a partitioned
    layout."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_returnflag").alias("part_key"))
        .agg(F.count("*").alias("n_rows"))
    )


# =====================================================================
# §2.1 ingest + scans, exercised as a real put→read roundtrip
# =====================================================================

@q("edfs_cat_roundtrip", "SELECT * FROM region")
def edfs_cat_roundtrip(spark, sf_dir):
    """put (hash-partitioned parquet) → cat (order-restoring scan):
    `combined_flask.py:324-436` + `:270-322` end-to-end."""
    dest = _scratch_dir("cat")
    ING.put_dataframe(_t(spark, sf_dir, "region"), dest, 3, "r_regionkey")
    return SCN.cat(spark.read.parquet(dest))


@q(
    "edfs_read_partition",
    "SELECT * FROM lineitem WHERE l_returnflag = 'A'",
)
def edfs_read_partition(spark, sf_dir):
    """put hash-partitioned on l_returnflag → readPartition 1 (sorted keys
    A < N < R ⇒ partition 1 = 'A'); a partition-pruned directory read
    (`combined_flask.py:492-547`). The keys come from the table's map
    step without columns, as the shell numbers them."""
    dest = _scratch_dir("rp")
    ING.put_dataframe(_t(spark, sf_dir, "lineitem"), dest, 3, "l_returnflag")
    df = spark.read.parquet(dest)
    return SCN.read_partition(df, 1, SCN.list_partitions(map_partials(df, [])))


# =====================================================================
# §2.5 relational surface (Spark-native additions)
# =====================================================================

@q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 3) AS avg_qty,
           round(avg(l_extendedprice), 3) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: filter → grouped multi-aggregate. Partial aggregation
    map-side; the shuffle carries 6 rows per partition, not data."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 3).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 3).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@q(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter → 3-way join → grouped agg →
    top-k. customer qualifies for broadcast; top-k runs as
    TakeOrderedAndProject."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@q(
    "join_segment_revenue",
    """
    SELECT c_mktsegment,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_segment_revenue(spark, sf_dir):
    """Fact⋈dim with broadcast hint: the orders side never shuffles."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
        )
    )


@q(
    "join_region_revenue",
    """
    SELECT r_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation ON s_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def join_region_revenue(spark, sf_dir):
    """Star join: three successively broadcast dims — the lineitem fact is
    scanned once, zero shuffles until the final 5-row aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@q(
    "anti_join_customers",
    "SELECT c_custkey FROM customer WHERE NOT EXISTS "
    "(SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
)
def anti_join_customers(spark, sf_dir):
    """left_anti join — Spark's NOT EXISTS. Broadcast-able when the probe
    side's distinct keys are small."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


@q(
    "semi_join_customers",
    "SELECT c_custkey, c_name FROM customer WHERE EXISTS "
    "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)",
)
def semi_join_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@q(
    "window_topk_orders",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 3
    """,
)
def window_topk_orders(spark, sf_dir):
    """Per-group top-k via row_number window — one shuffle on the partition
    key, in-partition sort only (no global sort)."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@q(
    "window_running_total",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
           AS running_total
    FROM orders
    """,
)
def window_running_total(spark, sf_dir):
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@q(
    "topk_orders_global",
    "SELECT o_orderkey, o_totalprice FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
)
def topk_orders_global(spark, sf_dir):
    """Global top-k = TakeOrderedAndProject: per-partition heaps + single
    merge, never a total sort."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@q(
    "setop_nations_intersect",
    "SELECT c_nationkey AS nationkey FROM customer INTERSECT "
    "SELECT s_nationkey AS nationkey FROM supplier",
)
def setop_nations_intersect(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@q(
    "setop_nations_except",
    "SELECT c_nationkey AS nationkey FROM customer EXCEPT "
    "SELECT s_nationkey AS nationkey FROM supplier",
)
def setop_nations_except(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


@q(
    "rollup_lineitem",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS cnt,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_lineitem(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@q(
    "cube_orders",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_orders(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("cnt"))
    )


@q(
    "scalar_functions",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(month(o_orderdate) AS BIGINT) AS order_month,
           CAST(quarter(o_orderdate) AS BIGINT) AS order_quarter,
           upper(o_orderstatus) AS status_u,
           substring(o_orderpriority, 1, 1) AS prio_code,
           CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
           round(o_totalprice * 1.1, 3) AS price_taxed,
           o_orderdate + INTERVAL 30 DAY AS due_date
    FROM orders
    """,
)
def scalar_functions(spark, sf_dir):
    """Scalar string/date/math surface — all JVM built-ins inside one
    codegen'd projection (reference has zero data-level scalar fns)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.quarter("o_orderdate").cast("long").alias("order_quarter"),
        F.upper("o_orderstatus").alias("status_u"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.length("o_orderpriority").cast("long").alias("prio_len"),
        F.round(F.col("o_totalprice") * 1.1, 3).alias("price_taxed"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("due_date"),
    )


@q(
    "string_functions_part",
    """
    SELECT p_partkey,
           upper(p_brand) AS brand_u,
           replace(p_type, ' ', '_') AS type_slug,
           concat(p_brand, '#', p_type) AS brand_type,
           (p_name LIKE '%green%') AS is_green,
           CAST(length(p_name) AS BIGINT) AS name_len
    FROM part
    """,
)
def string_functions_part(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_slug"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("brand_type"),
        F.col("p_name").like("%green%").alias("is_green"),
        F.length("p_name").cast("long").alias("name_len"),
    )


@q(
    "json_events",
    """
    SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k
    FROM events
    """,
)
def json_events(spark, sf_dir):
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


@q(
    "json_schema_audit",
    """
    WITH t AS (SELECT count(*) AS total FROM events),
    k AS (
      SELECT 'event_type' AS key, count(*) AS n FROM events
      UNION ALL SELECT 'user_id', count(*) FROM events
      UNION ALL SELECT 'value', count(*) FROM events WHERE event_type = 'view'
      UNION ALL SELECT 'k', count(*) FROM events WHERE event_id % 2 = 0)
    SELECT key, CAST(n AS BIGINT) AS n_rows,
           CAST(n * 1000000 // (SELECT total FROM t) AS BIGINT)
             AS coverage_ppm
    FROM k WHERE n > 0
    """,
)
def json_schema_audit(spark, sf_dir):
    """Semi-structured schema-drift audit: per JSON key, how many event
    payloads carry it and its corpus coverage (ppm). The payloads are
    REAL JSON built row-side (`to_json` drops null fields, so key sets
    vary by row: `value` only on views, `k` only on even event ids) and
    the keys come back through `json_object_keys` — the engine does
    genuine JSON construction + parsing while the oracle states the
    expected counts from the generating rules in closed form. One
    explode + one key-count agg; coverage denominator is a broadcast
    scalar."""
    ev = _t(spark, sf_dir, "events")
    payload = F.to_json(
        F.struct(
            F.col("event_type"),
            F.col("user_id"),
            F.when(F.col("event_type") == "view", F.col("value")).alias("value"),
            F.when(
                F.col("event_id") % 2 == 0,
                F.get_json_object("props", "$.k").cast("long"),
            ).alias("k"),
        )
    )
    keys = ev.select(F.explode(F.json_object_keys(payload)).alias("key"))
    total = ev.agg(F.count("*").alias("_t"))
    return (
        keys.groupBy("key")
        .agg(F.count("*").cast("long").alias("n_rows"))
        .crossJoin(F.broadcast(total))
        .select(
            "key",
            "n_rows",
            F.expr("n_rows * 1000000 div _t").cast("long").alias("coverage_ppm"),
        )
    )


@q(
    "events_tumbling_window",
    """
    SELECT date_trunc('hour', ts)
             + INTERVAL (CAST(minute(ts) AS INT) // 10 * 10) MINUTE AS window_start,
           event_type,
           count(*) AS cnt,
           round(sum(value), 3) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling_window(spark, sf_dir):
    """10-minute tumbling window aggregate: `streaming.windows.tumbling_agg`
    over the batch events table (the same function runs a stream). Spark
    window start = epoch-floored boundary, equal to the oracle's
    hour-trunc + 10-min floor."""
    from .streaming.windows import tumbling_agg

    return tumbling_agg(_t(spark, sf_dir, "events"))


# =====================================================================
# Training-data-pipeline operators (north star)
# =====================================================================

