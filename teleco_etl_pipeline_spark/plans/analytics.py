"""OLAP analytics beyond the reference's flat GROUP BYs: rollup,
pivot, exact quantiles, HLL sketches, and the skew-salted join.

The reference has no grouping sets / cube / rollup / pivot / window
percentiles (SURVEY.md §2.4 — verified absent); a warehouse user
still expects them, so they are first-class here. Each query is one
declarative plan: rollup/cube lower to a single Expand + partial-agg
shuffle, pivot to a conditional aggregation (never N queries), exact
percentiles to a single-pass sort-based agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from teleco_etl_pipeline_spark.plans.registry import query
from teleco_etl_pipeline_spark.sources.tables import load_table
from teleco_etl_pipeline_spark.plans.relational import EPS


@query(
    "rollup_summary",
    """
    SELECT r_name, n_name, COUNT(*) AS customer_cnt
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    doc="Hierarchical ROLLUP totals (region → nation → grand total) "
    "over the broadcast star join: one Expand node + one partial-agg "
    "shuffle, not three queries.",
)
def q_rollup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, n["n_nationkey"] == c["c_nationkey"])
        .join(r, r["r_regionkey"] == n["n_regionkey"])
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("customer_cnt"))
    )


@query(
    "cube_summary",
    """
    SELECT c_mktsegment, n_name,
           COUNT(*) AS customer_cnt,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_bal
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey
    GROUP BY CUBE (c_mktsegment, n_name)
    """,
    doc="CUBE over two independent dimensions (segment × nation): all "
    "4 grouping sets in one Expand + single partial-agg shuffle — "
    "the dashboard-rollup shape, never 4 separate scans.",
)
def q_cube_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        c.join(n, n["n_nationkey"] == c["c_nationkey"])
        .cube("c_mktsegment", "n_name")
        .agg(
            F.count(F.lit(1)).alias("customer_cnt"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_bal"),
        )
    )


@query(
    "pivot_status_matrix",
    """
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_linestatus = 'F') AS status_f,
           COUNT(*) FILTER (WHERE l_linestatus = 'O') AS status_o
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="PIVOT (returnflag × linestatus count matrix) — lowers to one "
    "conditional aggregation pass; explicit pivot values keep the "
    "schema static (no pre-scan job, deterministic columns at scale).",
)
def q_pivot_status_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.count(F.lit(1)))
        .withColumnsRenamed({"F": "status_f", "O": "status_o"})
        # pivot leaves NULL where a cell has no rows; the oracle's
        # FILTER count yields 0 — align.
        .fillna(0, subset=["status_f", "status_o"])
    )


@query(
    "quantile_profile",
    f"""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25) + {EPS}, 2) AS price_q1,
           ROUND(quantile_cont(l_extendedprice, 0.50) + {EPS}, 2) AS price_median,
           ROUND(quantile_cont(l_extendedprice, 0.75) + {EPS}, 2) AS price_q3
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Exact interpolated percentiles per group (Spark `percentile` "
    "== DuckDB `quantile_cont`, both linear interpolation): "
    "sort-based single-pass agg. At 100 TB swap for approx_percentile "
    "(t-digest) — same plan shape, bounded memory.",
)
def q_quantile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pct = F.percentile("l_extendedprice", F.lit([0.25, 0.5, 0.75]))
    return li.groupBy("l_returnflag").agg(
        F.round(pct.getItem(0) + EPS, 2).alias("price_q1"),
        F.round(pct.getItem(1) + EPS, 2).alias("price_median"),
        F.round(pct.getItem(2) + EPS, 2).alias("price_q3"),
    )


@query(
    "approx_quantile_profile",
    None,  # sketch estimates differ per engine — rows-only check;
    # tests/test_analytics_extra.py bounds it against the exact twin.
    doc="approx_percentile (t-digest-style KLL sketch) twin of "
    "quantile_profile — the 100 TB path: bounded memory per group, "
    "mergeable partial aggregates, no per-group sort. accuracy=10000 "
    "⇒ rank error ≤ 0.01%.",
)
def q_approx_quantile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pct = F.percentile_approx(
        "l_extendedprice", F.lit([0.25, 0.5, 0.75]), F.lit(10000)
    )
    return li.groupBy("l_returnflag").agg(
        F.round(pct.getItem(0) + EPS, 2).alias("price_q1"),
        F.round(pct.getItem(1) + EPS, 2).alias("price_median"),
        F.round(pct.getItem(2) + EPS, 2).alias("price_q3"),
    )


@query(
    "shipping_priority",
    """
    SELECT o_orderkey,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2)
             AS revenue,
           epoch_us(o_orderdate) AS orderdate_us,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    doc="TPC-H-Q3-shaped shipping priority: selective filters pushed "
    "to all three scans, filtered customer broadcast into the "
    "orders⋈lineitem shuffle join, decimal-exact revenue, "
    "TakeOrderedAndProject top-10 (no global sort).",
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cut = "1998-01-01 00:00:00"
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    ords = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(cut).cast("timestamp")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit(cut).cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    revenue = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    ).cast("double")
    return (
        li.join(ords, li["l_orderkey"] == ords["o_orderkey"])
        .join(F.broadcast(cust), ords["o_custkey"] == cust["c_custkey"])
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(revenue, 2).alias("revenue"))
        .select(
            "o_orderkey",
            "revenue",
            # NTZ epoch via timestampdiff — session-timezone-independent
            # (unix_micros(cast) would shift under a non-UTC driver session)
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)"
            ).alias("orderdate_us"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@query(
    "local_supplier_volume",
    """
    SELECT n_name,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2)
             AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
    doc="TPC-H-Q5-shaped 6-table join (local supplier volume): the "
    "big lineitem⋈orders shuffle join is the only large exchange; "
    "customer/supplier/nation/region broadcast; the extra "
    "c_nationkey = s_nationkey equality rides the supplier join as a "
    "post-condition, never a cartesian term.",
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1998-01-01 00:00:00").cast("timestamp")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    ords = (
        load_table(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_custkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    reg = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    revenue = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    ).cast("double")
    return (
        li.join(ords, li["l_orderkey"] == ords["o_orderkey"])
        .join(F.broadcast(cust), ords["o_custkey"] == cust["c_custkey"])
        .join(
            F.broadcast(sup),
            (li["l_suppkey"] == sup["s_suppkey"])
            & (cust["c_nationkey"] == sup["s_nationkey"]),
        )
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .groupBy("n_name")
        .agg(F.round(revenue, 2).alias("revenue"))
    )


@query(
    "nation_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           ROUND(CAST(SUM(volume) AS DOUBLE), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(YEAR FROM l_shipdate) AS l_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H-Q7-shaped volume shipping: the two single-nation dim "
    "chains (nation→supplier, nation→customer) broadcast; only "
    "lineitem⋈orders shuffles; the cross-direction OR predicate is "
    "evaluated after both nation joins, never as a cartesian term; "
    "shipdate range pushed to the parquet scan.",
)
def q_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1995-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1997-01-01 00:00:00").cast("timestamp")
    nations = ("NATION_1", "NATION_2")
    nat = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(*nations)
    )
    n1 = nat.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    # Nation filter applied BEFORE the fact joins: supplier/customer
    # shrink to two nations' worth of rows and broadcast.
    sup = (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .select("s_suppkey", "supp_nation")
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .select("c_custkey", "cust_nation")
    )
    ords = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    )
    volume = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    ).cast("double")
    return (
        li.join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == nations[0]) & (F.col("cust_nation") == nations[1]))
            | ((F.col("supp_nation") == nations[1]) & (F.col("cust_nation") == nations[0]))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(volume, 2).alias("revenue"))
    )


@query(
    "large_volume_customers",
    """
    SELECT c_name, c_custkey, o_orderkey,
           epoch_us(o_orderdate) AS orderdate_us,
           ROUND(o_totalprice + 1e-9, 2) AS total_price,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY total_price DESC, orderdate_us, o_orderkey
    LIMIT 100
    """,
    doc="TPC-H-Q18-shaped large-volume customers: agg-in-join — the "
    "HAVING subquery becomes a pre-aggregated key set left-semi-"
    "joined into lineitem (partial map-side agg, 16-byte keys in the "
    "shuffle), customer broadcasts, top-100 via "
    "TakeOrderedAndProject.",
)
def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    qty_dec = F.col("l_quantity").cast("decimal(18,2)")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty_dec).alias("__qty"))
        .filter(F.col("__qty") > 300)
        .select("l_orderkey")
    )
    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum(qty_dec).cast("double"), 2).alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)"
            ).alias("orderdate_us"),
            F.round(F.col("o_totalprice") + 1e-9, 2).alias("total_price"),
            "sum_qty",
        )
        .orderBy(F.desc("total_price"), "orderdate_us", "o_orderkey")
        .limit(100)
    )


@query(
    "customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
    doc="TPC-H-Q13-shaped customer order-count histogram: the filter "
    "lives IN the outer-join condition (an o_orderpriority WHERE "
    "clause would wrongly drop null-extended rows), then two "
    "aggregation levels — per-customer COUNT of non-null keys, then "
    "the distribution. Shuffles only on c_custkey then c_count.",
)
def q_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    per_cust = (
        cust.join(
            ords,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "promo_revenue_pct",
    """
    SELECT ROUND(CAST(
             100.00 * SUM(CASE WHEN p_type = 'PROMO'
                               THEN CAST(l_extendedprice AS DECIMAL(18,2))
                                    * (1 - CAST(l_discount AS DECIMAL(18,2)))
                               ELSE 0 END)
             / SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             + 1e-9, 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
    doc="TPC-H-Q14-shaped promo revenue share: conditional aggregate "
    "ratio in one pass; part broadcasts into the date-pruned lineitem "
    "scan; decimal-exact sums before the final double division.",
)
def q_promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1996-04-01 00:00:00").cast("timestamp")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc_price = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                (
                    F.lit(100.00)
                    * F.sum(
                        F.when(F.col("p_type") == "PROMO", disc_price).otherwise(
                            F.lit(0)
                        )
                    )
                    / F.sum(disc_price)
                ).cast("double")
                + 1e-9,
                4,
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "idle_rich_customers",
    """
    SELECT c_nationkey,
           COUNT(*) AS numcust,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    """,
    doc="TPC-H-Q22-shaped idle high-balance customers: uncorrelated "
    "scalar AVG subquery (computed once, broadcast into the filter) + "
    "NOT EXISTS as a left-anti join on the distinct order custkeys — "
    "no correlated re-execution, two broadcast exchanges, one final "
    "shuffle on c_nationkey.",
)
def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    ords = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    # DataFrame.scalar() (Spark 4): a real uncorrelated scalar
    # subquery — one separate tiny job, result inlined as a literal
    # into the filter. No 1-row join (which Catalyst would plan as a
    # BroadcastNestedLoopJoin the plan-quality suite bans).
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("__avg")
    )
    return (
        cust.filter(F.col("c_acctbal") > avg_bal.scalar())
        .join(ords, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2
            ).alias("totacctbal"),
        )
    )


@query(
    "cumulative_spend",
    """
    SELECT o_custkey, o_orderkey,
           epoch_us(o_orderdate) AS orderdate_us,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                   OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey
                         ROWS UNBOUNDED PRECEDING) AS DOUBLE), 2)
             AS running_spend
    FROM orders
    """,
    doc="Running per-customer spend: frame-bounded cumulative window "
    "(ROWS UNBOUNDED PRECEDING) with a deterministic (date, key) "
    "order; decimal accumulation so both engines agree bit-for-bit. "
    "One shuffle on o_custkey, sort within partitions.",
)
def q_cumulative_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ords = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ords.select(
        "o_custkey",
        "o_orderkey",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)"
        ).alias("orderdate_us"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"),
            2,
        ).alias("running_spend"),
    )


@query(
    "priority_set_ops",
    """
    SELECT 'both' AS tag, o_orderpriority FROM (
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
      INTERSECT
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
    )
    UNION ALL
    SELECT 'f_only' AS tag, o_orderpriority FROM (
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
      EXCEPT
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
    )
    """,
    doc="Set operators (INTERSECT / EXCEPT, U1 family extension): "
    "Spark plans both as hash aggregates + semi/anti joins over the "
    "same pre-filtered scans; no sort-based set logic.",
)
def q_priority_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ords = load_table(spark, sf_dir, "orders")
    f_side = ords.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    o_side = ords.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    both = f_side.intersect(o_side).select(
        F.lit("both").alias("tag"), "o_orderpriority"
    )
    f_only = f_side.subtract(o_side).select(  # subtract == EXCEPT DISTINCT
        F.lit("f_only").alias("tag"), "o_orderpriority"
    )
    return both.unionByName(f_only)


@query(
    "approx_distinct_users",
    None,  # HLL sketch — engine-specific estimates, rows-only check
    doc="approx_count_distinct (HyperLogLog++) per event_type — the "
    "bounded-memory cardinality path for 100 TB where exact "
    "COUNT(DISTINCT) would shuffle every value. Rows-only: sketch "
    "estimates are engine-specific by design (exact twin: "
    "`count_distinct` query).",
)
def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users")
    )


@query(
    "salted_join_agg",
    """
    SELECT s_nationkey,
           COUNT(*) AS n_items,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_qty
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    GROUP BY s_nationkey
    """,
    doc="Skew-salted shuffle join (operators/skew.py:salted_join, "
    "n_salt=8, deterministic xxhash64 salt) then aggregate — result "
    "provably identical to the plain join (the oracle IS the plain "
    "join). The pattern for hot-key joins AQE can't split.",
)
def q_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from teleco_etl_pipeline_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_suppkey", "s_suppkey"
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    joined = salted_join(li, sup, on=["s_suppkey"], how="inner", n_salt=8)
    return joined.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).alias(
            "total_qty"
        ),
    )


@query(
    "order_gap_stats",
    """
    WITH g AS (
      SELECT o_custkey,
             epoch_us(o_orderdate)
               - lag(epoch_us(o_orderdate))
                 OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS gap_us
      FROM orders
    )
    SELECT o_custkey,
           COUNT(gap_us)              AS n_gaps,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
    FROM g
    WHERE gap_us IS NOT NULL
    GROUP BY o_custkey
    """,
    doc="Inter-order gap analysis per customer: LAG over a "
    "deterministic (date, key) order, then min/max/count of the "
    "deltas. One shuffle on o_custkey serves BOTH the window sort "
    "and the downstream groupBy (same key ⇒ Catalyst reuses the "
    "partitioning, no second Exchange). Gaps in epoch micros via the "
    "tz-independent TIMESTAMP_NTZ diff.",
)
def q_order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", (us - F.lag(us).over(w)).alias("gap_us"))
        .filter(F.col("gap_us").isNotNull())
    )
    return gaps.groupBy("o_custkey").agg(
        F.count("gap_us").alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


@query(
    "balance_deciles",
    """
    WITH d AS (
      SELECT c_acctbal,
             ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
      FROM customer
    )
    SELECT decile,
           COUNT(*) AS n,
           MIN(c_acctbal) AS lo,
           MAX(c_acctbal) AS hi
    FROM d
    GROUP BY decile
    """,
    doc="NTILE decile profile of customer balances with a unique "
    "(value, key) tiebreak so bucket membership is deterministic "
    "across engines. The global NTILE is computed as a TWO-PHASE "
    "rank (operators/rank.two_phase_window: sampled range buckets, "
    "per-bucket local row_number, constant-bounded offsets) plus the "
    "exact integer NTILE distribution formula from (row_number, n) — "
    "bit-identical to the unpartitioned window form, with no task "
    "ever holding the frame (the r12 sweep retiring the declared "
    "single-partition windows).",
)
def q_balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from teleco_etl_pipeline_spark.operators.rank import (
        ntile_from_row_number,
        two_phase_window,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_acctbal", "c_custkey"
    )
    # frame count: one bounded 1-row statistic, folded as a literal
    n = int(cust.count())
    ranked = two_phase_window(
        cust, [F.col("c_acctbal").asc(), F.col("c_custkey").asc()], row_col="rn"
    )
    d = ranked.select(
        "c_acctbal", ntile_from_row_number(F.col("rn"), n, 10).alias("decile")
    )
    return d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("c_acctbal").alias("lo"),
        F.max("c_acctbal").alias("hi"),
    )


@query(
    "grouping_sets_summary",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           CAST(GROUPING(o_orderstatus)   AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    """,
    doc="Explicit GROUPING SETS (finer control than ROLLUP/CUBE — "
    "exactly the three requested granularities, not the lattice) "
    "with GROUPING() flags disambiguating real NULLs from subtotal "
    "rows. Lowers to one Expand + one partial-agg shuffle, same as "
    "rollup_summary.",
)
def q_grouping_sets_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ords = load_table(spark, sf_dir, "orders")
    return (
        ords.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        )
    )


@query(
    "unpivot_metrics",
    """
    WITH wide AS (
      SELECT o_orderpriority,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
             ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*) + 1e-9, 4) AS avg_total,
             CAST(COUNT(*) AS DOUBLE) AS n_orders
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, metric, value
    FROM (UNPIVOT wide ON sum_total, avg_total, n_orders
          INTO NAME metric VALUE value)
    """,
    doc="UNPIVOT/melt — the inverse of pivot_status_matrix: one "
    "aggregation pass builds the wide per-priority metrics row, then "
    "a zero-shuffle Expand emits (dimension, metric, value) triples "
    "for long-format consumers. Decimal-exact sums before the double "
    "cast keep cross-engine values identical.",
)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_total"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
            + 1e-9,
            4,
        ).alias("avg_total"),
        F.count(F.lit(1)).cast("double").alias("n_orders"),
    )
    return wide.unpivot(
        ["o_orderpriority"],
        ["sum_total", "avg_total", "n_orders"],
        "metric",
        "value",
    )


@query(
    "value_histogram",
    """
    WITH s AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM events)
    SELECT CASE WHEN value = (SELECT mx FROM s) THEN 10
                ELSE CAST(FLOOR((value - (SELECT mn FROM s))
                                / ((SELECT mx FROM s) - (SELECT mn FROM s))
                                * 10) AS INT) + 1 END AS bucket,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total_value
    FROM events
    GROUP BY 1
    """,
    doc="Equi-width 10-bucket histogram over a measure (the data-"
    "profiling distribution report): corpus min/max arrive as scalar "
    "subqueries (no plan-build job, no crossJoin), the bucket id is "
    "one codegen'd arithmetic expression per row, and the histogram "
    "is a single 10-group aggregation. The max value closes into the "
    "last bucket (standard right-closed top edge). The IDENTICAL "
    "floor arithmetic on both engines makes edges bit-exact — "
    "width_bucket() exists only on the Spark side, so the explicit "
    "formula is the cross-engine-checkable form.",
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mn = ev.agg(F.min("value").alias("mn")).scalar()
    mx = ev.agg(F.max("value").alias("mx")).scalar()
    bucket = (
        F.when(F.col("value") == mx, F.lit(10))
        .otherwise(F.floor((F.col("value") - mn) / (mx - mn) * 10) + 1)
        .cast("int")
    )
    return ev.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
        ).alias("total_value"),
    )


@query(
    "lineitem_corr_matrix",
    """
    SELECT COUNT(*) AS n_rows,
           ROUND(corr(l_quantity, l_extendedprice) + 1e-9, 4) AS corr_qty_price,
           ROUND(corr(l_quantity, l_discount) + 1e-9, 4) AS corr_qty_disc,
           ROUND(corr(l_extendedprice, l_discount) + 1e-9, 4) AS corr_price_disc,
           ROUND(covar_samp(l_quantity, l_extendedprice) + 1e-9, 4)
             AS covar_qty_price
    FROM lineitem
    """,
    doc="Pairwise Pearson correlations + sample covariance across the "
    "fact measures — the profiling step before any feature-selection "
    "or drift check. All pairs fold into ONE aggregation pass over "
    "one scan (corr/covar_samp are single-pass streaming aggregates "
    "with map-side partials, so the shuffle carries a handful of "
    "moment tuples, never rows).",
)
def q_lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.corr("l_quantity", "l_extendedprice") + 1e-9, 4).alias(
            "corr_qty_price"
        ),
        F.round(F.corr("l_quantity", "l_discount") + 1e-9, 4).alias(
            "corr_qty_disc"
        ),
        F.round(F.corr("l_extendedprice", "l_discount") + 1e-9, 4).alias(
            "corr_price_disc"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice") + 1e-9, 4).alias(
            "covar_qty_price"
        ),
    )


@query(
    "customer_rfm_segments",
    """
    WITH cust AS (
      SELECT o_custkey,
             MAX(epoch_us(o_orderdate) // 86400000000) AS rec_day,
             COUNT(*) AS freq,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS mon
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT o_custkey, mon,
             NTILE(5) OVER (ORDER BY rec_day ASC, o_custkey ASC) AS r,
             NTILE(5) OVER (ORDER BY freq ASC, o_custkey ASC) AS f,
             NTILE(5) OVER (ORDER BY mon ASC, o_custkey ASC) AS m
      FROM cust
    )
    SELECT CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
             AS segment,
           COUNT(*) AS n_customers,
           ROUND(CAST(AVG(CAST(mon AS DOUBLE)) AS DOUBLE) + 1e-9, 2)
             AS avg_monetary
    FROM scored
    GROUP BY 1
    """,
    doc="RFM customer segmentation: per-customer recency (last order "
    "epoch-day), frequency, and exact-decimal monetary reduce first, "
    "then three TWO-PHASE ranks (operators/rank.two_phase_window + "
    "the exact integer NTILE(5) distribution formula) score the "
    "CUSTOMER aggregate — each totally ordered on (metric, custkey) "
    "so quintile edges are deterministic cross-engine, with no "
    "single-partition window holding the frame (the r12 sweep "
    "retiring entity-frame global windows), concatenated into the "
    "classic 3-digit segment.",
)
def q_customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from teleco_etl_pipeline_spark.functions import epoch_us
    from teleco_etl_pipeline_spark.operators.rank import (
        ntile_from_row_number,
        two_phase_window,
    )

    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max(
            (epoch_us("o_orderdate") / F.lit(86_400_000_000)).cast("long")
        ).alias("rec_day"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("mon"),
    ).localCheckpoint(eager=True)  # four consumers: count + 3 rank passes
    n = int(cust.count())
    ranked = two_phase_window(
        cust, [F.asc("rec_day"), F.asc("o_custkey")], row_col="__rn_r"
    )
    ranked = two_phase_window(
        ranked, [F.asc("freq"), F.asc("o_custkey")], row_col="__rn_f"
    )
    ranked = two_phase_window(
        ranked, [F.asc("mon"), F.asc("o_custkey")], row_col="__rn_m"
    )
    scored = ranked.select(
        "o_custkey",
        "mon",
        ntile_from_row_number(F.col("__rn_r"), n, 5).alias("r"),
        ntile_from_row_number(F.col("__rn_f"), n, 5).alias("f"),
        ntile_from_row_number(F.col("__rn_m"), n, 5).alias("m"),
    )
    return scored.groupBy(
        F.concat(
            F.col("r").cast("string"),
            F.col("f").cast("string"),
            F.col("m").cast("string"),
        ).alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.avg(F.col("mon").cast("double")) + 1e-9, 2).alias(
            "avg_monetary"
        ),
    )


@query(
    "part_basket_lift",
    """
    WITH io0 AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), io AS (
      SELECT l_orderkey, l_partkey FROM io0
      QUALIFY COUNT(*) OVER (PARTITION BY l_orderkey) <= 100
    ), n AS (
      SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM io
    ), pn AS (
      SELECT l_partkey, COUNT(*) AS n_p FROM io GROUP BY l_partkey
    ), pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
      FROM io a JOIN io b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 3
    )
    SELECT part_a, part_b, n_ab,
           ROUND(CAST(n_ab AS DOUBLE) * (SELECT n_orders FROM n)
                 / pa.n_p / pb.n_p + 1e-9, 4) AS lift
    FROM pairs
    JOIN pn pa ON pa.l_partkey = part_a
    JOIN pn pb ON pb.l_partkey = part_b
    ORDER BY lift DESC, part_a ASC, part_b ASC
    LIMIT 20
    """,
    doc="Market-basket association: top part pairs by lift = "
    "P(a,b)/(P(a)P(b)) over distinct (order, part) incidences. The "
    "self-join fans out only within an order (bounded by basket "
    "size, not table size — per-key fan-out is the as-of/banded-join "
    "discipline), the support floor prunes before the lift math, "
    "and the order count arrives as a scalar subquery. TakeOrdered "
    "top-20 on the rounded lift with id tie-breaks. The basket-size "
    "cap (100; TPC-H max is 7, so a no-op on harness data) is the "
    "STRUCTURAL bound on the B² per-order fan-out — a bot cart with "
    "10⁵ items would otherwise emit 10¹⁰ pairs that no runtime "
    "skew-split can absorb; AQE skew-join handles residual partition "
    "imbalance below the cap (pinned by "
    "test_basket_selfjoin_cap_and_aqe_skew).",
)
def q_part_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    io = li.select("l_orderkey", "l_partkey").distinct()
    # Cap the per-order basket size BEFORE pairing: the pair count is
    # quadratic in basket size by construction, so one pathological
    # order (bot cart, test fixture) otherwise dominates the whole
    # stage in a way AQE can only split, not shrink.
    wb = Window.partitionBy("l_orderkey")
    io = (
        io.withColumn("_bsz", F.count(F.lit(1)).over(wb))
        .filter(F.col("_bsz") <= 100)
        .drop("_bsz")
        # Materialize ONCE (r14, guide §2.4): four consumers (the
        # n_orders scalar subquery, pn, and both self-join legs) each
        # carried their own copy of the distinct + basket-cap window —
        # the executed plan showed FIVE independent lineitem scans and
        # no ReusedExchange (plans/r14/part_basket_lift_before.txt).
        # The frame is distinct (order, part) incidence grain — the
        # same rows every downstream shuffle already moves. A persist,
        # not a local checkpoint: at fact scale a lost executor's
        # blocks must be recomputable from lineage.
        .persist()
    )
    n_orders = io.agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    ).scalar()
    pn = io.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_p"))
    a = io.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = io.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    pa = pn.select(F.col("l_partkey").alias("part_a"), F.col("n_p").alias("_na"))
    pb = pn.select(F.col("l_partkey").alias("part_b"), F.col("n_p").alias("_nb"))
    return (
        pairs.join(pa, "part_a")
        .join(pb, "part_b")
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(
                F.col("n_ab").cast("double") * n_orders / F.col("_na") / F.col("_nb")
                + 1e-9,
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


@query(
    "customer_spend_percentile",
    """
    WITH spend AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_spend
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           ROUND(CAST(total_spend AS DOUBLE), 2) AS total_spend,
           ROUND(PERCENT_RANK() OVER (ORDER BY total_spend) + 1e-9, 6)
             AS spend_pct_rank,
           ROUND(CUME_DIST() OVER (ORDER BY total_spend) + 1e-9, 6)
             AS spend_cume_dist
    FROM spend
    """,
    doc="Distribution-relative ranking: each customer's lifetime "
    "spend placed on the [0,1] percentile scale via PERCENT_RANK "
    "(rank-1)/(n-1) and CUME_DIST — rank features for the churn "
    "model that are scale-free across retrains. Spend is "
    "DECIMAL-accumulated pre-ranking so ties (and therefore ranks) "
    "are exact cross-engine. PERCENT_RANK needs min-rank and "
    "CUME_DIST the inclusive cumulative count — both are integer "
    "functions of the VALUE-HISTOGRAM cumsum (min_rank = cum - c + "
    "1), so no window ever sees the customer frame: one groupBy("
    "value) histogram, the two-level bucketed cumsum "
    "(operators/quantiles.value_cumsum), and a value-grain join "
    "back (the r12 sweep retiring declared single-partition "
    "windows). The (rank-1)/(n-1) and cum/n divisions are "
    "exact-integer-to-double — the identical IEEE ops DuckDB's "
    "window functions perform.",
)
def q_customer_spend_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from teleco_etl_pipeline_spark.operators.quantiles import value_cumsum

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total_spend")
    ).localCheckpoint(eager=True)  # feeds the histogram AND the join back
    hist = spend.groupBy("total_spend").agg(F.count(F.lit(1)).alias("__c"))
    cum = value_cumsum(hist, "total_spend")
    n_row = cum.agg(F.sum("__c").alias("__n"))
    ranks = cum.crossJoin(F.broadcast(n_row)).select(
        "total_spend",
        F.when(F.col("__n") <= 1, F.lit(0.0))
        .otherwise(
            (F.col("__cum") - F.col("__c")).cast("double")
            / (F.col("__n") - 1).cast("double")
        )
        .alias("__pr"),
        (F.col("__cum").cast("double") / F.col("__n").cast("double")).alias(
            "__cd"
        ),
    )
    return spend.join(ranks, "total_spend").select(
        "o_custkey",
        F.round(F.col("total_spend").cast("double"), 2).alias("total_spend"),
        F.round(F.col("__pr") + F.lit(1e-9), 6).alias("spend_pct_rank"),
        F.round(F.col("__cd") + F.lit(1e-9), 6).alias("spend_cume_dist"),
    )


@query(
    "price_winsorize_report",
    """
    WITH b AS (
      SELECT quantile_cont(l_extendedprice, 0.01) AS lo,
             quantile_cont(l_extendedprice, 0.99) AS hi
      FROM lineitem
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN l_extendedprice < (SELECT lo FROM b)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_low,
           CAST(SUM(CASE WHEN l_extendedprice > (SELECT hi FROM b)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_high,
           ROUND((SELECT lo FROM b) + 1e-9, 4) AS p01,
           ROUND((SELECT hi FROM b) + 1e-9, 4) AS p99,
           ROUND(CAST(SUM(CAST(ROUND(
                   LEAST(GREATEST(l_extendedprice, (SELECT lo FROM b)),
                         (SELECT hi FROM b)) + 1e-9, 4)
                 AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) + 1e-9, 4)
             AS winsorized_mean
    FROM lineitem
    """,
    doc="Winsorization (percentile outlier capping) for robust "
    "feature prep: clamp to the exact [p01, p99] band and report "
    "clamp counts + the winsorized mean. The bounds are scalar "
    "subqueries (DataFrame.scalar) feeding a clamp projection in "
    "the SAME scan-and-aggregate pass — two jobs total, no row "
    "explosion; at 100 TB swap the exact percentile scalars for "
    "approx_percentile and the plan is unchanged. Clamped terms are "
    "rounded then DECIMAL-summed so the mean is partitioning-exact.",
)
def q_price_winsorize_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from teleco_etl_pipeline_spark.operators.quantiles import (
        exact_percentiles,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # Both bounds via the bounded-memory exact-percentile machinery
    # (operators.quantiles), folded in as driver literals. The
    # previous scalar-subquery F.percentile was a single final-agg
    # buffer over the whole fact column (the HBOS weak-#1 pattern,
    # swept repo-wide in r11); the literal form also interpolates
    # with DuckDB's own quantile_cont formula, so the boundary
    # comparisons below use bit-identical bounds on both engines.
    lo_v, hi_v = exact_percentiles(li, "l_extendedprice", [0.01, 0.99])
    lo, hi = F.lit(lo_v), F.lit(hi_v)
    p = F.col("l_extendedprice")
    clamped = F.round(F.least(F.greatest(p, lo), hi) + F.lit(1e-9), 4).cast(
        "decimal(18,4)"
    )
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(p < lo, 1).otherwise(0)).alias("n_clamped_low"),
        F.sum(F.when(p > hi, 1).otherwise(0)).alias("n_clamped_high"),
        F.round(lo + F.lit(1e-9), 4).alias("p01"),
        F.round(hi + F.lit(1e-9), 4).alias("p99"),
        F.round(
            F.sum(clamped).cast("double") / F.count(F.lit(1)) + F.lit(1e-9), 4
        ).alias("winsorized_mean"),
    )


@query(
    "customer_pareto_abc",
    """
    WITH spend AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      FROM orders GROUP BY 1
    ), tot AS (SELECT SUM(spend) AS t FROM spend),
    cum AS (
      SELECT o_custkey, spend,
             SUM(spend) OVER (ORDER BY spend DESC, o_custkey
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM spend
    ), cls AS (
      SELECT CASE WHEN 2 * cum <= (SELECT t FROM tot) THEN 'A'
                  WHEN 5 * cum <= 4 * (SELECT t FROM tot) THEN 'B'
                  ELSE 'C' END AS abc_class,
             spend
      FROM cum
    )
    SELECT abc_class,
           COUNT(*) AS n_customers,
           ROUND(CAST(SUM(spend) AS DOUBLE) * 100
                 / CAST((SELECT t FROM tot) AS DOUBLE) + 1e-9, 4)
             AS revenue_pct
    FROM cls GROUP BY 1 ORDER BY 1
    """,
    doc="Pareto/ABC revenue-concentration analysis: rank customers "
    "by spend, classify by INCLUSIVE cumulative share (A ≤ 50 %, "
    "B ≤ 80 %, C rest), report class sizes and revenue shares. "
    "Class boundaries compare 2·cum ≤ total and 5·cum ≤ 4·total in "
    "exact DECIMAL arithmetic — a floating cum/total ratio at a "
    "boundary customer could classify differently per engine. The "
    "global prefix sum is the TWO-PHASE form "
    "(operators/rank.two_phase_window: sampled range buckets, "
    "per-bucket local running sums, constant-bounded bucket "
    "offsets) — exact DECIMAL addition is associative, so "
    "offset + local equals the single-window cumsum bit-for-bit and "
    "no task holds the customer aggregate.",
)
def q_customer_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from teleco_etl_pipeline_spark.operators.rank import two_phase_window

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend")
        # Materialize ONCE (r14, guide §2.4): the total scalar
        # subqueries and the two-phase rank each carried their own
        # copy of the customer-grain aggregate — the executed plan
        # showed FIVE independent orders scans and no ReusedExchange
        # (plans/r14/customer_pareto_abc_before.txt). Customer-grain,
        # bounded.
    ).localCheckpoint(eager=True)
    total = spend.agg(F.sum("spend").alias("t")).scalar()
    cum = two_phase_window(
        spend,
        [F.col("spend").desc(), F.col("o_custkey").asc()],
        row_col=None,
        sum_cols={"spend": "cum"},
    )
    cls = F.when(F.lit(2) * F.col("cum") <= total, "A").when(
        F.lit(5) * F.col("cum") <= F.lit(4) * total, "B"
    ).otherwise("C")
    return (
        cum.groupBy(cls.alias("abc_class"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum("spend").cast("double") * 100 / total.cast("double")
                + F.lit(1e-9),
                4,
            ).alias("revenue_pct"),
        )
        .orderBy("abc_class")
    )


@query(
    "events_type_weekday_chi2",
    """
    WITH cells AS (
      SELECT isodow(CAST(ts AS DATE)) AS wd, event_type AS tp,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT n,
             SUM(n) OVER (PARTITION BY wd) AS r,
             SUM(n) OVER (PARTITION BY tp) AS c,
             SUM(n) OVER () AS tot,
             wd, tp
      FROM cells
    )
    SELECT CAST(SUM(CAST(FLOOR(
             (CAST(n * tot - r * c AS DOUBLE) * CAST(n * tot - r * c AS DOUBLE))
             / (CAST(tot AS DOUBLE) * r * c) * 1000000.0) AS BIGINT))
             AS DOUBLE) / 1e6 AS chi2,
           (COUNT(DISTINCT wd) - 1) * (COUNT(DISTINCT tp) - 1) AS dof,
           COUNT(*) AS n_cells,
           SQRT((CAST(SUM(CAST(FLOOR(
             (CAST(n * tot - r * c AS DOUBLE) * CAST(n * tot - r * c AS DOUBLE))
             / (CAST(tot AS DOUBLE) * r * c) * 1000000.0) AS BIGINT))
             AS DOUBLE) / 1e6)
                / (MAX(tot) * (LEAST(COUNT(DISTINCT wd),
                                     COUNT(DISTINCT tp)) - 1))) AS cramers_v
    FROM m
    """,
    doc="Chi-square independence test of event_type × ISO weekday "
    "(+ Cramér's V effect size) — contingency-table analytics at "
    "corpus scale. One event-table scan builds the tiny cell "
    "aggregate; margins are window sums over THAT (cells, not "
    "events), so the test statistic costs one shuffle regardless of "
    "data size. Each cell term is (n·N − r·c)²/(N·r·c) with the "
    "difference in exact int64 before the double square — at "
    "extreme N (>~9e18 products) cast earlier and accept double "
    "rounding. Weekday is isodow on the NTZ date (Mon=1) in both "
    "engines.",
)
def q_events_type_weekday_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.weekday(F.to_date("ts")) + F.lit(1)).alias("wd"),
        F.col("event_type").alias("tp"),
    ).agg(F.count(F.lit(1)).alias("n"))
    m = cells.select(
        "n",
        "wd",
        "tp",
        F.sum("n").over(Window.partitionBy("wd")).alias("r"),
        F.sum("n").over(Window.partitionBy("tp")).alias("c"),
        F.sum("n").over(Window.partitionBy()).alias("tot"),
    )
    # Fragile-float hardening (round-7 audit): each cell term is
    # bit-identical cross-engine (exact int64 n·N−r·c through CR
    # casts, one CR square via explicit multiply — never libm pow —
    # and left-associated CR denominator multiplies), so the only
    # divergence risk was the FLOAT SUM's accumulation order.
    # Quantizing identical doubles with floor has ZERO residual, so
    # summing floor(term·10⁶) integers makes the statistic exact by
    # construction; χ² and V come back via CR divisions, no ROUND.
    diff = (F.col("n") * F.col("tot") - F.col("r") * F.col("c")).cast("double")
    term = (diff * diff) / (
        F.col("tot").cast("double") * F.col("r") * F.col("c")
    )
    chi2 = F.sum(
        F.floor(term * F.lit(1e6)).cast("long")
    ).cast("double") / F.lit(1e6)
    return m.agg(
        chi2.alias("chi2"),
        (
            (F.count_distinct("wd") - 1) * (F.count_distinct("tp") - 1)
        ).alias("dof"),
        F.count(F.lit(1)).alias("n_cells"),
        F.sqrt(
            chi2
            / (
                F.max("tot")
                * (F.least(F.count_distinct("wd"), F.count_distinct("tp")) - 1)
            )
        ).alias("cramers_v"),
    )


@query(
    "customer_linkage_blocked",
    """
    WITH c AS (
      SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer
    ), v AS (
      SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
             CASE WHEN i = 0 THEN c_name
                  ELSE substr(c_name, 1, i - 1) || substr(c_name, i + 1)
             END AS variant
      FROM c, UNNEST(range(0, len(c_name) + 1)) AS t(i)
    ), cand AS (
      SELECT DISTINCT a.c_custkey AS id_a, b.c_custkey AS id_b,
             a.c_name AS na, b.c_name AS nb
      FROM v a JOIN v b
        ON a.c_nationkey = b.c_nationkey
       AND a.c_mktsegment = b.c_mktsegment
       AND a.variant = b.variant
       AND a.c_custkey < b.c_custkey
    )
    SELECT id_a, id_b, levenshtein(na, nb) AS name_dist
    FROM cand
    WHERE levenshtein(na, nb) <= 1
    ORDER BY id_a, id_b
    """,
    doc="Record linkage / entity resolution with DELETION-NEIGHBORHOOD "
    "blocking (FastSS/SymSpell): two strings within edit distance 1 "
    "always share an entry of U(x) = {x} ∪ single-deletions(x) — a "
    "substitution at i makes both i-deletions equal, an indel makes "
    "the shorter string a deletion of the longer. Candidates are ONE "
    "hash equi-join on (attrs, variant): the ×(len+1) explode is a "
    "constant linear fan-out and the variant keys are as "
    "discriminating as the names themselves, so candidate volume "
    "tracks true near-duplicate density — unlike attribute blocks "
    "(Σ|block|² grows quadratically: 10.6 s at sf0.1) or half-"
    "segment blocks (a constant name prefix makes one segment a hot "
    "block: 5.1× growth per 10× data). Bounded levenshtein "
    "(threshold=1, banded O(n·t) DP) verifies the survivors. "
    "Scale contract (r10-measured at sf1): growth is OUTPUT-bound — "
    "the replication-based sf1 generator manufactures ~10-member "
    "identity twin groups, so true matches grow ×341 (2,040 → "
    "695,400 pairs) per 10× data while wall-clock grew only ×8.3; "
    "blocking precision stays high (695k of 788k distinct "
    "candidates verify, 88%). A corpus whose duplicate density is "
    "scale-free keeps this linear.",
)
def q_customer_linkage_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    # Small-file cliff guard: a compact customer file yields 1 input
    # split at sf1, serializing the ×(len+1) variant explode.
    from teleco_etl_pipeline_spark.sources.tables import ensure_min_splits

    cust = ensure_min_splits(cust, "c_custkey")
    variant = F.when(F.col("i") == 0, F.col("c_name")).otherwise(
        F.concat(
            F.expr("substr(c_name, 1, i - 1)"), F.expr("substr(c_name, i + 1)")
        )
    )
    v = cust.select(
        "*", F.explode(F.sequence(F.lit(0), F.length("c_name"))).alias("i")
    ).select("c_custkey", "c_name", "c_nationkey", "c_mktsegment", variant.alias("variant"))
    a = v.select(*[F.col(c).alias(f"a_{c}") for c in v.columns])
    b = v.select(*[F.col(c).alias(f"b_{c}") for c in v.columns])
    cand = (
        a.join(
            b,
            (F.col("a_c_nationkey") == F.col("b_c_nationkey"))
            & (F.col("a_c_mktsegment") == F.col("b_c_mktsegment"))
            & (F.col("a_variant") == F.col("b_variant"))
            & (F.col("a_c_custkey") < F.col("b_c_custkey")),
        )
        .select(
            F.col("a_c_custkey").alias("id_a"),
            F.col("b_c_custkey").alias("id_b"),
            F.col("a_c_name").alias("na"),
            F.col("b_c_name").alias("nb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            F.levenshtein("na", "nb", 1).alias("name_dist"),
        )
        .filter(F.col("name_dist").between(0, 1))
        .orderBy("id_a", "id_b")
    )


@query(
    "customer_linkage_sorted_neighborhood",
    """
    WITH s AS (
      SELECT c_custkey, c_name, c_nationkey,
             LEAD(c_custkey, 1) OVER w AS n1_key,
             LEAD(c_name, 1)  OVER w AS n1_name,
             LEAD(c_custkey, 2) OVER w AS n2_key,
             LEAD(c_name, 2)  OVER w AS n2_name
      FROM customer
      WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_name, c_custkey)
    )
    SELECT id_a, id_b, name_dist FROM (
      SELECT c_custkey AS id_a, n1_key AS id_b,
             levenshtein(c_name, n1_name) AS name_dist
      FROM s WHERE n1_key IS NOT NULL
      UNION ALL
      SELECT c_custkey AS id_a, n2_key AS id_b,
             levenshtein(c_name, n2_name) AS name_dist
      FROM s WHERE n2_key IS NOT NULL
    )
    WHERE name_dist <= 1
    ORDER BY id_a, id_b
    """,
    doc="Sorted-neighborhood record linkage (Hernández-Stolfo): sort "
    "each partition block by the match key and compare every row "
    "only to its next w-1=2 neighbors via LEAD — O(N·w) comparisons "
    "TOTAL, the linear-cost twin of customer_linkage_blocked's "
    "block-quadratic candidate set. One shuffle (the window "
    "partition) serves the sort and both LEADs; at 100 TB the "
    "partition key is the multi-pass blocking key and w trades "
    "recall for cost — the standard production ER sweep.",
)
def q_customer_linkage_sorted_neighborhood(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    w = Window.partitionBy("c_nationkey").orderBy("c_name", "c_custkey")
    s = cust.select(
        "c_custkey",
        "c_name",
        F.lead("c_custkey", 1).over(w).alias("n1_key"),
        F.lead("c_name", 1).over(w).alias("n1_name"),
        F.lead("c_custkey", 2).over(w).alias("n2_key"),
        F.lead("c_name", 2).over(w).alias("n2_name"),
    )
    p1 = s.filter(F.col("n1_key").isNotNull()).select(
        F.col("c_custkey").alias("id_a"),
        F.col("n1_key").alias("id_b"),
        F.levenshtein("c_name", "n1_name").alias("name_dist"),
    )
    p2 = s.filter(F.col("n2_key").isNotNull()).select(
        F.col("c_custkey").alias("id_a"),
        F.col("n2_key").alias("id_b"),
        F.levenshtein("c_name", "n2_name").alias("name_dist"),
    )
    return (
        p1.unionAll(p2).filter(F.col("name_dist") <= 1).orderBy("id_a", "id_b")
    )


@query(
    "brand_size_rank_ties",
    """
    SELECT p_partkey, p_brand, p_size, rnk, drnk FROM (
      SELECT p_partkey, p_brand, p_size,
             RANK() OVER w AS rnk,
             DENSE_RANK() OVER w AS drnk
      FROM part
      WINDOW w AS (PARTITION BY p_brand ORDER BY p_size DESC)
    ) WHERE rnk <= 3
    ORDER BY p_brand, p_size DESC, p_partkey
    """,
    doc="Top-N-WITH-TIES per group: RANK (gaps) and DENSE_RANK (no "
    "gaps) side by side, keeping every row tied at the cutoff — the "
    "semantics row_number cannot give (it would drop tied peers "
    "non-deterministically). Both rank functions are deterministic "
    "under ties by definition, so the output is engine-stable with "
    "no artificial tiebreak. One window shuffle on the group key.",
)
def q_brand_size_rank_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_size"))
    return (
        part.select(
            "p_partkey",
            "p_brand",
            "p_size",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rnk") <= 3)
        .orderBy("p_brand", F.desc("p_size"), "p_partkey")
    )


# ---------------------------------------------------------------------------
# Feature engineering: weight-of-evidence / information value
# ---------------------------------------------------------------------------


@query(
    "priority_woe_iv",
    """
    WITH cells AS (
      SELECT o_orderpriority,
             COUNT(*) AS n,
             COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_pos
      FROM orders GROUP BY o_orderpriority
    ), tot AS (
      SELECT SUM(n_pos) AS pos_t, SUM(n - n_pos) AS neg_t FROM cells
    )
    SELECT o_orderpriority, n, CAST(n_pos AS BIGINT) AS n_pos,
           ROUND(LN(((n_pos + 0.5) / (pos_t + 0.5))
                    / ((n - n_pos + 0.5) / (neg_t + 0.5))) + 1e-9, 4) AS woe,
           ROUND(((n_pos + 0.5) / (pos_t + 0.5)
                  - (n - n_pos + 0.5) / (neg_t + 0.5))
                 * LN(((n_pos + 0.5) / (pos_t + 0.5))
                      / ((n - n_pos + 0.5) / (neg_t + 0.5))) + 1e-9, 4)
             AS iv_term
    FROM cells CROSS JOIN tot
    ORDER BY o_orderpriority
    """,
    doc="Weight-of-evidence / information-value report (the classic "
    "credit-scoring categorical-feature screen): per order-priority "
    "cell, WOE = ln(pos-share / neg-share) toward finished status "
    "and its IV contribution, Laplace-smoothed (+0.5) so empty cells "
    "never hit ln(0) — the same zero-cell discipline as the "
    "Kaplan-Meier terminal guard. One category-cardinality aggregate "
    "over one scan; totals ride a 1-row cross join (plan-visible "
    "single execution), so the report never reshuffles the fact "
    "table.",
)
def q_priority_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cells = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        ).alias("n_pos"),
    )
    tot = cells.agg(
        F.sum("n_pos").alias("pos_t"),
        F.sum(F.col("n") - F.col("n_pos")).alias("neg_t"),
    )
    ps = (F.col("n_pos") + 0.5) / (F.col("pos_t") + 0.5)
    ns = (F.col("n") - F.col("n_pos") + 0.5) / (F.col("neg_t") + 0.5)
    woe = F.log(ps / ns)
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "o_orderpriority",
            "n",
            F.col("n_pos").cast("long").alias("n_pos"),
            F.round(woe + F.lit(1e-9), 4).alias("woe"),
            F.round((ps - ns) * woe + F.lit(1e-9), 4).alias("iv_term"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "score_calibration_bins",
    """
    WITH nt AS (SELECT COUNT(*) AS n_tot FROM customer),
    scored AS (
      SELECT c.c_custkey,
             PERCENT_RANK() OVER (ORDER BY c.c_acctbal, c.c_custkey) AS score,
             ROW_NUMBER() OVER (ORDER BY c.c_acctbal, c.c_custkey) AS rn,
             CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS y
      FROM customer c
      LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
        ON o.o_custkey = c.c_custkey
    )
    SELECT LEAST(CAST(FLOOR(score * 10) AS INT), 9) AS bin,
           COUNT(*) AS n,
           CAST(SUM(rn - 1) AS DOUBLE)
             / CAST(((SELECT n_tot FROM nt) - 1) * COUNT(*) AS DOUBLE)
             AS mean_score,
           CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pos_rate
    FROM scored GROUP BY 1 ORDER BY 1
    """,
    doc="Reliability/calibration bins — the model-eval report every "
    "scoring pipeline needs: decile-bin a [0,1] score (here the "
    "account-balance percent_rank) against a binary outcome (customer "
    "has orders; semi-join shape) and report observed positive rate "
    "vs mean score per bin. The global rank is a TWO-PHASE "
    "row_number (operators/rank.two_phase_window — no "
    "single-partition window; PERCENT_RANK over this UNIQUE "
    "ordering is exactly (rn-1)/(n-1), the identical IEEE division "
    "DuckDB performs); everything after runs on 10 bins. For a true "
    "model score swap the rank for the ML pipeline's probability "
    "column (plans/ml.py churn_probability) — the binning contract "
    "is identical.",
)
def q_score_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from teleco_etl_pipeline_spark.operators.rank import two_phase_window

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    buyers = orders.select(F.col("o_custkey")).distinct()
    n_tot = cust.agg(F.count(F.lit(1)).alias("n_tot")).scalar()
    joined = cust.join(
        buyers, cust["c_custkey"] == buyers["o_custkey"], "left"
    ).select(
        "c_custkey",
        "c_acctbal",
        F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0).alias("y"),
    )
    ranked = two_phase_window(
        joined, [F.asc("c_acctbal"), F.asc("c_custkey")], row_col="rn"
    )
    scored = ranked.select(
        "c_custkey",
        # PERCENT_RANK is defined as 0 for a 1-row frame in both
        # engines — guard the (rn-1)/(n-1) form the same way
        F.when(
            n_tot > F.lit(1),
            (F.col("rn") - 1).cast("double")
            / (n_tot - F.lit(1)).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("score"),
        "rn",
        "y",
    )
    # Fragile-float hardening (round-7 audit): AVG over the score
    # doubles accumulates in engine-dependent order. score is the
    # exact rational (rn−1)/(N−1), so the bin mean is the exact
    # integer rank sum through ONE CR division — and pos_rate is a
    # ratio of exact counts. Raw doubles, no ROUND boundary. The bin
    # key stays floor(score·10): both engines floor the SAME
    # CR-identical double.
    return (
        scored.groupBy(
            F.least(F.floor(F.col("score") * 10).cast("int"), F.lit(9)).alias(
                "bin"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.col("rn") - 1).cast("double")
                / ((n_tot - 1) * F.count(F.lit(1))).cast("double")
            ).alias("mean_score"),
            (
                F.sum("y").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("pos_rate"),
        )
        .orderBy("bin")
    )


@query(
    "model_lift_gains",
    """
    WITH scored AS (
      SELECT c.c_custkey, c.c_acctbal,
             CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS y
      FROM customer c
      LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
        ON o.o_custkey = c.c_custkey
    ),
    d AS (
      SELECT NTILE(10) OVER (ORDER BY c_acctbal DESC, c_custkey DESC)
               AS decile, y
      FROM scored
    ),
    g AS (
      SELECT decile, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos
      FROM d GROUP BY decile
    ),
    t AS (
      SELECT CAST(SUM(n) AS BIGINT) AS tot_n,
             CAST(SUM(n_pos) AS BIGINT) AS tot_pos
      FROM g
    )
    SELECT decile,
           n,
           n_pos,
           ROUND(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) + 1e-9, 6)
             AS pos_rate,
           ROUND(CAST(n_pos * tot_n AS DOUBLE)
                 / CAST(n * tot_pos AS DOUBLE) + 1e-9, 6) AS lift,
           ROUND(CAST(CAST(SUM(n_pos) OVER (ORDER BY decile) AS BIGINT)
                      AS DOUBLE)
                 / CAST(tot_pos AS DOUBLE) + 1e-9, 6) AS cum_capture
    FROM g, t ORDER BY decile
    """,
    doc="Decile lift/gains table — the campaign-targeting companion "
    "to `score_calibration_bins`: rank customers by the score "
    "(account balance, the same proxy the calibration query bins), "
    "cut into NTILE(10) deciles best-first, and report per-decile "
    "positive rate, lift over the base rate (exact rational "
    "n_pos·totN / n·totPos through one CR division), and cumulative "
    "capture (the gains curve: what share of all positives the top-k "
    "deciles reach). The global NTILE is a TWO-PHASE rank "
    "(operators/rank.two_phase_window) plus the exact integer NTILE "
    "distribution from (row_number, n) — bit-identical to the "
    "unpartitioned window with no single-partition stage (the r12 "
    "sweep retiring the declared entity-frame windows); everything "
    "after runs on 10 rows and all moments are exact int64 counts, "
    "so cross-engine hashes agree by construction.",
)
def q_model_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    from teleco_etl_pipeline_spark.operators.rank import (
        ntile_from_row_number,
        two_phase_window,
    )

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    buyers = orders.select("o_custkey").distinct()
    scored = cust.join(
        buyers, cust["c_custkey"] == buyers["o_custkey"], "left"
    ).select(
        "c_custkey",
        "c_acctbal",
        F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0).alias("y"),
    )
    # frame count for the NTILE formula: one bounded 1-row statistic
    n_frame = int(cust.count())
    ranked = two_phase_window(
        scored,
        [F.col("c_acctbal").desc(), F.col("c_custkey").desc()],
        row_col="rn",
    )
    g = (
        ranked.select(
            ntile_from_row_number(F.col("rn"), n_frame, 10).alias("decile"),
            "y",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
        )
        # two consumers (totals fold + final projection): checkpoint
        # the 10-row frame so the rank pipeline runs once
        .localCheckpoint(eager=True)
    )
    # Totals: one bounded 1-row statistic folded in as driver
    # literals (the bounded-stats pattern — g is exactly 10 rows,
    # but the literal fold keeps the final projection windowless
    # joins-free and matches the oracle's t CTE bit-for-bit).
    tot = g.agg(
        F.sum("n").cast("long").alias("tot_n"),
        F.sum("n_pos").cast("long").alias("tot_pos"),
    ).first()
    # Empty customer table (tot_n NULL) or zero positives: lift and
    # cum_capture divide by tot_pos — mirror the oracle, whose cross
    # join to the t CTE degrades to an empty result (the
    # events_markov_stationary k==0 guard pattern; r11 ADVICE).
    if tot["tot_n"] is None or int(tot["tot_pos"] or 0) == 0:
        return g.select(
            "decile",
            "n",
            "n_pos",
            F.lit(None).cast("double").alias("pos_rate"),
            F.lit(None).cast("double").alias("lift"),
            F.lit(None).cast("double").alias("cum_capture"),
        ).limit(0)
    tot_n, tot_pos = int(tot["tot_n"]), int(tot["tot_pos"])
    cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        g.select(
            "decile",
            "n",
            "n_pos",
            F.round(
                F.col("n_pos").cast("double") / F.col("n").cast("double")
                + F.lit(1e-9),
                6,
            ).alias("pos_rate"),
            F.round(
                (F.col("n_pos") * F.lit(tot_n)).cast("double")
                / (F.col("n") * F.lit(tot_pos)).cast("double")
                + F.lit(1e-9),
                6,
            ).alias("lift"),
            F.round(
                F.sum("n_pos").over(cum).cast("double")
                / F.lit(tot_pos).cast("double")
                + F.lit(1e-9),
                6,
            ).alias("cum_capture"),
        )
        .orderBy("decile")
    )


@query(
    "priority_target_encoding",
    """
    WITH c AS (
      SELECT o_orderpriority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), g AS (
      SELECT CAST(SUM(cents) AS BIGINT) AS t, COUNT(*) AS n_tot FROM c
    ), enc AS (
      SELECT o_orderpriority,
             CAST((SUM(cents) OVER (PARTITION BY o_orderpriority) - cents)
                  * (SELECT n_tot FROM g)
                  + 10 * (SELECT t FROM g) AS DOUBLE)
             / CAST((SELECT n_tot FROM g)
                    * (COUNT(*) OVER (PARTITION BY o_orderpriority) + 9)
                    * 100 AS DOUBLE) AS enc,
             (SUM(cents) OVER (PARTITION BY o_orderpriority) - cents)
               * (SELECT n_tot FROM g) + 10 * (SELECT t FROM g) AS enc_num,
             CAST((SELECT n_tot FROM g) AS HUGEINT)
               * (COUNT(*) OVER (PARTITION BY o_orderpriority) + 9)
               * 100 AS enc_den
      FROM c
    )
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(enc_num AS HUGEINT)) AS DOUBLE)
             / (CAST(MIN(enc_den) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE))
             AS mean_enc,
           MIN(enc) AS min_enc,
           MAX(enc) AS max_enc
    FROM enc GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="Leakage-safe target encoding (leave-one-out with "
    "global-mean smoothing, m=10 — the Micci-Barreca 2001 recipe, "
    "public): each row's categorical encoding excludes its OWN "
    "target, so a downstream model cannot memorize the label through "
    "the feature; smoothing keeps singleton categories finite "
    "(denominator n−1+m never hits zero). One window shuffle on the "
    "category key computes every row's encoding; the global mean "
    "rides a scalar subquery. The catalog row reports per-category "
    "moments of the encoding (mean/min/max), verifying the per-row "
    "math while staying category-cardinality-bounded.",
)
def q_priority_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fragile-float hardening (round-7 audit): the previous form
    # window-summed DOUBLE prices (engine-dependent accumulation
    # order) and AVG'd the resulting encodings. Rework in exact
    # integer cents: every per-row encoding is one CR cast + one CR
    # division of exact int64 numerator/denominator (so MIN/MAX
    # select among bit-identical doubles), and the category mean is
    # an exact DECIMAL(38)/HUGEINT numerator sum over a
    # double-product denominator (two exact factors, one CR
    # multiply). Leave-one-out semantics are unchanged:
    # ((S_c−p)·N + 10·T) / (N·(n_c+9)·100) ≡ (S_c−p+10·μ)/(n_c+9)
    # in dollars.
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    c = orders.select("o_orderpriority", cents.alias("cents"))
    tot = c.agg(
        F.sum("cents").alias("t"), F.count(F.lit(1)).alias("n_tot")
    )
    t = tot.select("t").scalar()
    n_tot = tot.select("n_tot").scalar()
    w = Window.partitionBy("o_orderpriority")
    # DECIMAL(38,0) numerator/denominator, not int64: the numerator is
    # ~(S_c · N), which reaches 74% of int64 max at TPC-H sf1 and
    # silently wraps past sf≈1.2 while the oracle's HUGEINT window sum
    # stays exact (round-8 advice). DECIMAL(38,0) holds every SF the
    # engine will ever see (<1e38) and the enc cast stays one CR
    # decimal→double conversion on both engines.
    dec = "decimal(38,0)"
    enc_num = (
        (F.sum("cents").over(w) - F.col("cents")).cast(dec)
        * F.lit(n_tot).cast(dec)
        + F.lit(10 * t).cast(dec)
    )
    enc_den = (
        F.lit(n_tot).cast(dec)
        * (F.count(F.lit(1)).over(w) + 9).cast(dec)
        * 100
    )
    enc = enc_num.cast("double") / enc_den.cast("double")
    return (
        c.select(
            "o_orderpriority",
            enc.alias("enc"),
            enc_num.alias("enc_num"),
            enc_den.alias("enc_den"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.col("enc_num").cast("decimal(38,0)")).cast("double")
                / (
                    F.min("enc_den").cast("double")
                    * F.count(F.lit(1)).cast("double")
                )
            ).alias("mean_enc"),
            F.min("enc").alias("min_enc"),
            F.max("enc").alias("max_enc"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "supplier_fulfillment_concurrency",
    """
    WITH iv AS (
      SELECT l.l_suppkey,
             epoch_us(o.o_orderdate) // 86400000000 AS d0,
             epoch_us(l.l_shipdate) // 86400000000 + 1 AS d1
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), deltas AS (
      SELECT l_suppkey, d0 AS day, 1 AS delta FROM iv
      UNION ALL
      SELECT l_suppkey, d1 AS day, -1 AS delta FROM iv
    ), daily AS (
      SELECT l_suppkey, day, SUM(delta) AS net
      FROM deltas GROUP BY l_suppkey, day
    ), conc AS (
      SELECT l_suppkey,
             SUM(net) OVER (PARTITION BY l_suppkey ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS open_lines
      FROM daily
    ), peaks AS (
      SELECT l_suppkey, MAX(open_lines) AS max_concurrent
      FROM conc GROUP BY l_suppkey
    )
    SELECT CAST(max_concurrent AS BIGINT) AS max_concurrent,
           COUNT(*) AS n_suppliers
    FROM peaks GROUP BY 1 ORDER BY 1
    """,
    doc="Interval-sweep concurrency — the O(n log n) alternative to a "
    "quadratic interval-overlap self-join: each lineitem is an "
    "in-fulfillment interval [order day, ship day]; exploding it to "
    "a +1/−1 delta pair and running an ordered prefix sum per "
    "supplier yields the number of simultaneously open lines at "
    "every boundary. Peak concurrency per supplier histograms into a "
    "bounded report. The sweep touches 2 rows per interval and one "
    "per-supplier window — where a naive overlap join would be "
    "Σ(per-supplier n²). Event-time projection via epoch_us day "
    "buckets (session-timezone-independent).",
)
def q_supplier_fulfillment_concurrency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from teleco_etl_pipeline_spark.functions import epoch_us

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    day_us = 86_400_000_000
    iv = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "l_suppkey",
        (epoch_us("o_orderdate") / day_us).cast("long").alias("d0"),
        ((epoch_us("l_shipdate") / day_us).cast("long") + 1).alias("d1"),
    )
    deltas = iv.select(
        "l_suppkey",
        F.explode(
            F.array(
                F.struct(F.col("d0").alias("day"), F.lit(1).alias("delta")),
                F.struct(F.col("d1").alias("day"), F.lit(-1).alias("delta")),
            )
        ).alias("e"),
    ).select("l_suppkey", F.col("e.day").alias("day"), F.col("e.delta").alias("delta"))
    daily = deltas.groupBy("l_suppkey", "day").agg(F.sum("delta").alias("net"))
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    conc = daily.select("l_suppkey", F.sum("net").over(w).alias("open_lines"))
    peaks = conc.groupBy("l_suppkey").agg(
        F.max("open_lines").alias("max_concurrent")
    )
    return (
        peaks.groupBy(F.col("max_concurrent").cast("long").alias("max_concurrent"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
        .orderBy("max_concurrent")
    )


@query(
    "benford_first_digit",
    """
    WITH d AS (
      SELECT CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders
    ), n AS (SELECT COUNT(*) AS total FROM d)
    SELECT digit, COUNT(*) AS n,
           ROUND(COUNT(*) * 1.0 / (SELECT total FROM n) + 1e-9, 4)
             AS obs_share,
           ROUND(LOG10(1.0 + 1.0 / digit) + 1e-9, 4) AS exp_share,
           ROUND(POW(COUNT(*) - (SELECT total FROM n)
                                 * LOG10(1.0 + 1.0 / digit), 2)
                 / ((SELECT total FROM n) * LOG10(1.0 + 1.0 / digit))
                 + 1e-9, 4) AS chi2_term
    FROM d GROUP BY digit ORDER BY digit
    """,
    doc="Benford first-digit screen — the fraud/DQ test for amount "
    "columns: leading-digit distribution of o_totalprice vs the "
    "Benford expectation log10(1+1/d), with per-digit chi-squared "
    "terms. The digit comes from the CENTS INTEGER's string (exact "
    "in both engines), never floor(log10(x)) — a power-of-ten amount "
    "lands on log10 = 2.9999… and misclassifies. One digit-grain "
    "aggregate over one scan; N rides a scalar subquery.",
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"), 1, 1
    ).cast("int")
    d = orders.select(digit.alias("digit"))
    total = d.agg(F.count(F.lit(1)).alias("total")).scalar()
    exp_share = F.log10(F.lit(1.0) + 1.0 / F.col("digit"))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / total + F.lit(1e-9), 4).alias("obs_share"),
            F.round(exp_share + F.lit(1e-9), 4).alias("exp_share"),
            F.round(
                F.pow(F.col("n") - total * exp_share, 2)
                / (total * exp_share)
                + F.lit(1e-9),
                4,
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


@query(
    "score_brier_decomposition",
    """
    WITH nt AS (SELECT COUNT(*) AS n_tot FROM customer),
    scored AS (
      SELECT c.c_custkey,
             ROW_NUMBER() OVER (ORDER BY c.c_acctbal, c.c_custkey) AS rn,
             CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS y
      FROM customer c
      LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
        ON o.o_custkey = c.c_custkey
    ),
    g0 AS (
      SELECT (SELECT n_tot FROM nt) AS n,
             SUM(y) AS o,
             SUM(CAST(rn - 1 AS HUGEINT) * y) AS b
      FROM scored
    ),
    bins AS (
      SELECT LEAST(CAST(FLOOR(
               CASE WHEN (SELECT n_tot FROM nt) > 1 THEN
                 CAST(rn - 1 AS DOUBLE)
                 / CAST((SELECT n_tot FROM nt) - 1 AS DOUBLE)
               ELSE 0.0 END * 10) AS INT), 9) AS bin,
             COUNT(*) AS nk,
             SUM(CAST(rn - 1 AS HUGEINT)) AS rk,
             SUM(y) AS ok
      FROM scored GROUP BY 1
    ),
    terms AS (
      SELECT
        SUM(CAST(FLOOR(CAST(nk AS DOUBLE)
              * (CAST(rk AS DOUBLE)
                 / (CAST(g.n - 1 AS DOUBLE) * CAST(nk AS DOUBLE))
                 - CAST(ok AS DOUBLE) / CAST(nk AS DOUBLE))
              * (CAST(rk AS DOUBLE)
                 / (CAST(g.n - 1 AS DOUBLE) * CAST(nk AS DOUBLE))
                 - CAST(ok AS DOUBLE) / CAST(nk AS DOUBLE))
              * 1e12) AS HUGEINT)) AS rel_q,
        SUM(CAST(FLOOR(CAST(nk AS DOUBLE)
              * (CAST(ok AS DOUBLE) / CAST(nk AS DOUBLE)
                 - CAST(g.o AS DOUBLE) / CAST(g.n AS DOUBLE))
              * (CAST(ok AS DOUBLE) / CAST(nk AS DOUBLE)
                 - CAST(g.o AS DOUBLE) / CAST(g.n AS DOUBLE))
              * 1e12) AS HUGEINT)) AS res_q
      FROM bins, g0 g
    )
    SELECT CAST(g.n AS BIGINT) AS n_rows,
           CASE WHEN g.n > 1 THEN
             ROUND(CAST(CAST(g.n - 1 AS HUGEINT) * g.n * (2 * g.n - 1) / 6
                        - 2 * CAST(g.n - 1 AS HUGEINT) * g.b
                        + CAST(g.n - 1 AS HUGEINT) * (g.n - 1) * g.o
                        AS DOUBLE)
                   / (CAST(g.n - 1 AS DOUBLE) * CAST(g.n - 1 AS DOUBLE)
                      * CAST(g.n AS DOUBLE)) + 1e-9, 6)
           ELSE 0.0 END AS brier,
           ROUND(CAST(t.rel_q AS DOUBLE) / 1e12 / CAST(g.n AS DOUBLE)
                 + 1e-9, 6) AS reliability,
           ROUND(CAST(t.res_q AS DOUBLE) / 1e12 / CAST(g.n AS DOUBLE)
                 + 1e-9, 6) AS resolution,
           ROUND((CAST(g.o AS DOUBLE) / CAST(g.n AS DOUBLE))
                 * (1.0 - CAST(g.o AS DOUBLE) / CAST(g.n AS DOUBLE))
                 + 1e-9, 6) AS uncertainty
    FROM g0 g, terms t
    """,
    doc="Murphy (1973) decomposition of the Brier score over the "
    "decile calibration bins: reliability (calibration error), "
    "resolution (how much the bins separate the outcome) and "
    "uncertainty (outcome variance), plus the RAW Brier score — "
    "completing score_calibration_bins (the bins show WHERE "
    "calibration fails; the decomposition prices it, and "
    "brier ~ reliability - resolution + uncertainty up to binning). "
    "Same two-phase global rank and semi-join outcome as the bins "
    "query; the raw Brier folds ENTIRELY from exact integers (the "
    "rank-square sum is the closed form (N-1)N(2N-1)/6, the cross "
    "term one HUGEINT/DECIMAL(38) aggregate) through one division, "
    "and the 10 per-bin decomposition terms are fixed-order float "
    "expressions floor-quantized to 1e-12 and summed exactly "
    "(Ljung-Box pattern). Everything after the rank runs on 10 "
    "bins + two 1-row frames.",
)
def q_score_brier_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from teleco_etl_pipeline_spark.operators.rank import two_phase_window

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    buyers = orders.select(F.col("o_custkey")).distinct()
    n_tot = cust.agg(F.count(F.lit(1)).alias("n_tot")).scalar()
    joined = cust.join(
        buyers, cust["c_custkey"] == buyers["o_custkey"], "left"
    ).select(
        "c_custkey",
        "c_acctbal",
        F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0).alias("y"),
    )
    ranked = two_phase_window(
        joined, [F.asc("c_acctbal"), F.asc("c_custkey")], row_col="rn"
    ).localCheckpoint(eager=True)
    glob = ranked.agg(
        F.sum("y").alias("o"),
        F.sum((F.col("rn") - 1).cast("decimal(38,0)") * F.col("y")).alias("b"),
    )
    score = F.when(
        n_tot > F.lit(1),
        (F.col("rn") - 1).cast("double") / (n_tot - F.lit(1)).cast("double"),
    ).otherwise(F.lit(0.0))
    bins = ranked.groupBy(
        F.least(F.floor(score * 10).cast("int"), F.lit(9)).alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("nk"),
        F.sum((F.col("rn") - 1).cast("decimal(38,0)")).alias("rk"),
        F.sum("y").alias("ok"),
    )
    nd = n_tot.cast("double")
    nkd = F.col("nk").cast("double")
    pbar = F.col("rk").cast("double") / (
        (n_tot - F.lit(1)).cast("double") * nkd
    )
    obar_k = F.col("ok").cast("double") / nkd
    obar = F.col("o").cast("double") / nd
    terms = (
        bins.crossJoin(F.broadcast(glob))
        .agg(
            F.sum(
                F.floor(
                    nkd * (pbar - obar_k) * (pbar - obar_k) * F.lit(1e12)
                ).cast("decimal(38,0)")
            ).alias("rel_q"),
            F.sum(
                F.floor(
                    nkd * (obar_k - obar) * (obar_k - obar) * F.lit(1e12)
                ).cast("decimal(38,0)")
            ).alias("res_q"),
        )
    )
    nn = n_tot.cast("decimal(38,0)")
    a_sum = (nn - 1) * n_tot * (2 * n_tot - 1) / 6
    brier = (
        (
            a_sum
            - F.lit(2).cast("decimal(38,0)") * (nn - 1) * F.col("b")
            + (nn - 1) * (n_tot - 1) * F.col("o")
        ).cast("double")
        / (
            (n_tot - F.lit(1)).cast("double")
            * (n_tot - F.lit(1)).cast("double")
            * nd
        )
    )
    return (
        glob.crossJoin(F.broadcast(terms))
        .select(
            n_tot.cast("long").alias("n_rows"),
            F.when(n_tot > F.lit(1), F.round(brier + F.lit(1e-9), 6))
            .otherwise(F.lit(0.0))
            .alias("brier"),
            F.round(
                F.col("rel_q").cast("double") / F.lit(1e12) / nd
                + F.lit(1e-9),
                6,
            ).alias("reliability"),
            F.round(
                F.col("res_q").cast("double") / F.lit(1e12) / nd
                + F.lit(1e-9),
                6,
            ).alias("resolution"),
            F.round(obar * (1.0 - obar) + F.lit(1e-9), 6).alias(
                "uncertainty"
            ),
        )
    )


@query(
    "variant_qini_curve",
    """
    WITH u AS (
      SELECT user_id,
             CASE WHEN CAST(concat('0x',
                    substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    % 1000000 < 500000
                  THEN 'A' ELSE 'B' END AS variant,
             COUNT(*) AS n_events,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id
    ),
    d AS (
      SELECT variant, converted,
             NTILE(10) OVER (ORDER BY n_events DESC, user_id) AS decile
      FROM u
    ),
    cells AS (
      SELECT decile,
             SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS nt,
             SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS nc,
             SUM(CASE WHEN variant = 'A' THEN converted ELSE 0 END) AS ct,
             SUM(CASE WHEN variant = 'B' THEN converted ELSE 0 END) AS cc
      FROM d GROUP BY decile
    ),
    cum AS (
      SELECT decile,
             SUM(nt) OVER w AS nt_c, SUM(nc) OVER w AS nc_c,
             SUM(ct) OVER w AS ct_c, SUM(cc) OVER w AS cc_c
      FROM cells
      WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(nt_c AS BIGINT) AS n_treat_cum,
           CAST(nc_c AS BIGINT) AS n_ctrl_cum,
           CAST(ct_c AS BIGINT) AS conv_treat_cum,
           CAST(cc_c AS BIGINT) AS conv_ctrl_cum,
           CASE WHEN nc_c > 0 THEN
             ROUND(CAST(ct_c AS DOUBLE)
                   - CAST(cc_c AS DOUBLE)
                     * (CAST(nt_c AS DOUBLE) / CAST(nc_c AS DOUBLE))
                   + 1e-9, 4)
           ELSE 0.0 END AS qini
    FROM cum ORDER BY decile
    """,
    doc="Qini uplift curve (Radcliffe 2007) for the md5 experiment "
    "variants: users ranked by engagement (event count, the "
    "targeting score), cumulative incremental conversions "
    "conv_T - conv_C * (N_T/N_C) per decile — the uplift-model "
    "evaluation standard that model_lift_gains cannot express "
    "(lift ranks ONE outcome; Qini prices the treatment-control "
    "DELTA down the targeting order, the would-they-convert-anyway "
    "correction). Same shared hash_bucket variants as the "
    "z-test/CUPED/log-rank family; ranking is the two-phase global "
    "row_number with the exact integer NTILE fold (no "
    "single-partition window); everything after runs on 10 decile "
    "rows, all counts exact integers, qini ONE fixed-order float "
    "expression per row.",
)
def q_variant_qini_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from teleco_etl_pipeline_spark.operators.rank import (
        ntile_from_row_number,
        two_phase_window,
    )
    from teleco_etl_pipeline_spark.operators.sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    ).select(
        "user_id",
        "n_events",
        "converted",
        F.when(hash_bucket("user_id") < 500000, F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("variant"),
    )
    n = u.count()  # bounded driver statistic (entity count) for NTILE
    ranked = two_phase_window(
        u, [F.desc("n_events"), F.asc("user_id")], row_col="rn"
    )
    d = ranked.select(
        "variant",
        "converted",
        ntile_from_row_number(F.col("rn"), n, 10).alias("decile"),
    )
    cells = d.groupBy("decile").agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0)).alias("nt"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0)).alias("nc"),
        F.sum(
            F.when(F.col("variant") == "A", F.col("converted")).otherwise(0)
        ).alias("ct"),
        F.sum(
            F.when(F.col("variant") == "B", F.col("converted")).otherwise(0)
        ).alias("cc"),
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cells.select(
        "decile",
        F.sum("nt").over(w).alias("nt_c"),
        F.sum("nc").over(w).alias("nc_c"),
        F.sum("ct").over(w).alias("ct_c"),
        F.sum("cc").over(w).alias("cc_c"),
    )
    return cum.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("nt_c").cast("long").alias("n_treat_cum"),
        F.col("nc_c").cast("long").alias("n_ctrl_cum"),
        F.col("ct_c").cast("long").alias("conv_treat_cum"),
        F.col("cc_c").cast("long").alias("conv_ctrl_cum"),
        F.when(
            F.col("nc_c") > 0,
            F.round(
                F.col("ct_c").cast("double")
                - F.col("cc_c").cast("double")
                * (
                    F.col("nt_c").cast("double")
                    / F.col("nc_c").cast("double")
                )
                + F.lit(1e-9),
                4,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("qini"),
    ).orderBy("decile")


@query(
    "part_demand_xyz",
    """
    WITH pm AS (
      SELECT l_partkey,
             STRFTIME(CAST(o.o_orderdate AS DATE), '%Y-%m') AS month,
             SUM(CAST(l_quantity AS BIGINT)) AS qty
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    ),
    mm AS (SELECT COUNT(DISTINCT month) AS n_months FROM pm),
    p AS (
      SELECT l_partkey,
             COUNT(*) AS n,
             SUM(CAST(qty AS HUGEINT)) AS s,
             SUM(CAST(qty AS HUGEINT) * qty) AS q
      FROM pm GROUP BY 1
    ),
    cv AS (
      SELECT CASE WHEN n >= 2 THEN
               SQRT(CAST(CAST(n AS HUGEINT) * q - s * s AS DOUBLE)
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
               / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             ELSE 0.0 END AS cv,
             n
      FROM p WHERE s > 0
    ),
    cls AS (
      SELECT CASE WHEN cv < 0.5 THEN 'X'
                  WHEN cv < 1.0 THEN 'Y'
                  ELSE 'Z' END AS xyz_class,
             cv, n
      FROM cv
    )
    SELECT xyz_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(SUM(CAST(FLOOR(cv * 1e9) AS HUGEINT)) / 1e9
                 / COUNT(*) + 1e-9, 6) AS mean_cv,
           ROUND(CAST(SUM(n) AS DOUBLE)
                 / (COUNT(*) * (SELECT n_months FROM mm)) + 1e-9, 6)
             AS mean_activity
    FROM cls GROUP BY 1 ORDER BY 1
    """,
    doc="XYZ demand-variability classification (the supply-chain "
    "planning standard paired with Pareto-ABC: X = steady demand "
    "you forecast, Z = erratic demand you buffer): per-part sample "
    "coefficient of variation of monthly demand over the part's "
    "ACTIVE months — cv = sqrt((n*Q - S^2)/(n*(n-1)))/(S/n) from "
    "exact integer month-grain moments, no float mean subtraction — "
    "bucketed at the classical 0.5/1.0 thresholds, with the "
    "mean ACTIVITY fraction (active months / calendar months) "
    "reported beside it (on intermittent demand the calendar-"
    "population cv degenerates to all-Z — measured on this corpus — "
    "so variability-among-selling-months and intermittency are "
    "reported as separate axes, the standard Syntetos-Boylan "
    "critique). One fact join + (part, month) reduce, one "
    "part-grain reduce; the class report folds per-part cv "
    "floor-quantized to 1e-9 and summed exactly (threshold "
    "comparisons are on CR-identical doubles).",
)
def q_part_demand_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    pm = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            "l_partkey",
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM")
            .alias("month"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
        # Materialize ONCE (r14, guide §2.4): the n_months scalar
        # subquery below otherwise carries its own copy of the full
        # lineitem⋈orders join + (part, month) aggregate — the
        # executed plan showed TWO independent fact scans with no
        # ReusedExchange (plans/r14/part_demand_xyz_before.txt,
        # subquery at op 22/24). The frame is (part, month)-grain —
        # bounded by parts × calendar months, never fact-sized.
        .localCheckpoint(eager=True)
    )
    n_months = pm.agg(F.countDistinct("month").alias("m")).scalar()
    p = pm.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("qty").cast(dec)).alias("s"),
        F.sum(F.col("qty").cast(dec) * F.col("qty")).alias("q"),
    )
    nd = F.col("n").cast("double")
    cv_expr = F.when(
        F.col("n") >= 2,
        F.sqrt(
            (F.col("n").cast(dec) * F.col("q") - F.col("s") * F.col("s"))
            .cast("double")
            / (nd * (nd - 1.0))
        )
        / (F.col("s").cast("double") / nd),
    ).otherwise(F.lit(0.0))
    cls = p.filter(F.col("s") > 0).select(
        F.when(cv_expr < 0.5, "X")
        .when(cv_expr < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
        cv_expr.alias("cv"),
        "n",
    )
    return (
        cls.groupBy("xyz_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.round(
                F.sum(F.floor(F.col("cv") * F.lit(1e9)).cast(dec))
                / F.lit(1e9)
                / F.count(F.lit(1))
                + F.lit(1e-9),
                6,
            ).alias("mean_cv"),
            F.round(
                F.sum("n").cast("double")
                / (F.count(F.lit(1)) * n_months).cast("double")
                + F.lit(1e-9),
                6,
            ).alias("mean_activity"),
        )
        .orderBy("xyz_class")
    )
