"""TPC-H-adapted analytics, part 2: subquery/anti-join/disjunctive shapes.

Adapted where the driver testdata lacks TPC-H columns (no partsupp, no
l_shipmode/commitdate, no c_phone): each query keeps the *operator shape*
of its TPC-H counterpart — that's what exercises the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fluss_iceberg_spark.registry import query
from fluss_iceberg_spark.sources.tpch import load_table


def _dec(col: str) -> F.Column:
    return F.col(col).cast("decimal(12,2)")


_DISC = "CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(12,2))"


@query(
    "tpch_q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           CAST(SUM({_DISC}) AS DOUBLE) AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE n1.n_nationkey <> n2.n_nationkey
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
)
def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the nation dim joined in two roles (supplier vs
    customer side) + year bucketing. Dims broadcast; one fact shuffle."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    disc = _dec("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")).cast("decimal(12,2)")
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("n1_key") != F.col("n2_key"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(disc).cast("double").alias("revenue"))
    )


@query(
    "tpch_q8_market_share",
    oracle=f"""
    WITH vol AS (
        SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
               {_DISC} AS volume,
               n.n_name AS supp_nation
        FROM lineitem l
        JOIN part p     ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN region r   ON cn.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'AMERICA'
          AND p.p_type = 'STANDARD'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                         ELSE CAST(0.0 AS DECIMAL(25,4)) END) AS DOUBLE)
           / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
           COUNT(1) AS n_items
    FROM vol
    GROUP BY o_year
    """,
)
def q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: market share = conditional volume / total volume
    per year over a 7-way star join."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_rkey"))
    disc = _dec("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")).cast("decimal(12,2)")
    vol = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_rkey") == F.col("r_regionkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            disc.alias("volume"),
            "supp_nation",
        )
    )
    national = F.when(
        F.col("supp_nation") == "NATION_3", F.col("volume")
    ).otherwise(F.lit(0.0).cast("decimal(25,4)"))
    return vol.groupBy("o_year").agg(
        (F.sum(national).cast("double") / F.sum("volume").cast("double")).alias("mkt_share"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "tpch_q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(1) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                           AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    ) t
    GROUP BY c_count
    """,
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: order-count distribution — left join with a filtered
    join condition (zero-order customers must survive), double grouping."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey AS supplier_no,
               CAST(SUM({_DISC}) AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: revenue view + scalar-max subquery (top supplier)."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    disc = _dec("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")).cast("decimal(12,2)")
    rev = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(disc).cast("double").alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == mx.mx)
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "tpch_q17_small_quantity",
    oracle="""
    WITH pavg AS (
        SELECT l_partkey, 0.5 * (CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                                 / COUNT(1)) AS half_avg
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly,
           COUNT(1) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pavg  ON pavg.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < pavg.half_avg
    """,
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part average subquery →
    aggregate-then-join (the decorrelated plan), brand-filtered."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    pavg = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.lit(0.5)
            * (F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double") / F.count(F.lit(1)))
        ).alias("half_avg")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(pavg, l.l_partkey == pavg.pk)
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "tpch_q19_disjunctive",
    oracle=f"""
    SELECT CAST(SUM({_DISC}) AS DOUBLE) AS revenue,
           COUNT(1) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 21)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunctive multi-branch predicate over a dim join —
    the OR-of-ANDs must not block the join pushdown."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & q.between(1, 21))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & q.between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & q.between(20, 40))
    )
    disc = _dec("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")).cast("decimal(12,2)")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.sum(disc).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "tpch_q9_product_profit",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(SUM({_DISC}
                    - CAST(l.l_extendedprice AS DECIMAL(12,2))
                      * CAST(l.l_tax AS DECIMAL(12,2))) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%r%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
)
def q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation × year over a 5-way join
    with a LIKE part filter. No partsupp in the testdata, so cost =
    extprice*tax (same operator shape: product-difference aggregate)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%r%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    amount = _dec("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")).cast(
        "decimal(12,2)"
    ) - _dec("l_extendedprice") * F.col("l_tax").cast("decimal(12,2)")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(amount).cast("double").alias("profit"))
    )


@query(
    "tpch_q12_priority_by_returnflag",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_returnflag
    """,
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional counts per category over an
    orders⋈lineitem join (testdata has no l_shipmode; l_returnflag plays
    that role). Date filter pushed to the lineitem scan."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


@query(
    "tpch_q16_supplier_cnt",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute with a
    NOT IN exclusion subquery (→ broadcast anti-join). lineitem is the
    part↔supplier bridge (no partsupp in testdata)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#1")
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    return (
        l.join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


@query(
    "tpch_q20_excess_suppliers",
    oracle="""
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT q.l_suppkey
        FROM (
            SELECT l_suppkey, l_partkey,
                   SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l_suppkey, l_partkey
        ) q
        JOIN part p ON p.p_partkey = q.l_partkey
        WHERE p.p_brand = 'Brand#2' AND q.qty > 50.0
    )
    """,
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested IN subquery → aggregate-then-semi-join
    chain (suppliers who moved >50 units of Brand#2 parts in 1996)."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    s = load_table(spark, sf_dir, "supplier")
    qty = l.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("qty")
    )
    heavy = (
        qty.join(F.broadcast(p), qty.l_partkey == p.p_partkey)
        .filter(F.col("qty") > 50.0)
        .select("l_suppkey")
    )
    return s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


@query(
    "tpch_q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name, CAST(COUNT(1) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o    ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    """,
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: correlated EXISTS + NOT EXISTS self-joins on
    lineitem. Decorrelated the scale-friendly way: one per-order aggregate
    (distinct suppliers, distinct 'R' suppliers) replaces both correlated
    scans — EXISTS ⇔ n_supp ≥ 2, NOT EXISTS ⇔ the sole 'R' supplier is
    l1's (r_supp = 1 and l1 is flagged 'R')."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    per_order = l.groupBy(F.col("l_orderkey").alias("agg_okey")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("r_supp"),
    )
    l1 = l.filter(F.col("l_returnflag") == "R")
    return (
        l1.join(per_order, l1.l_orderkey == per_order.agg_okey)
        .filter((F.col("n_supp") >= 2) & (F.col("r_supp") == 1))
        .join(o, l1.l_orderkey == o.o_orderkey, "left_semi")
        .join(F.broadcast(s), l1.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
    )


@query(
    "tpch_q22_inactive_customers",
    oracle="""
    WITH avg_bal AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(1) AS ab
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_mktsegment,
           COUNT(1) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_mktsegment
    """,
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar average subquery + NOT EXISTS anti join —
    above-average-balance customers with no urgent orders, by segment."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("ab")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


@query(
    "tpch_q2_min_cost_supplier",
    oracle="""
    WITH ps AS (
        SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS supplycost
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    mn AS (SELECT l_partkey, MIN(supplycost) AS min_cost FROM ps GROUP BY l_partkey)
    SELECT CAST(s.s_acctbal AS DOUBLE) AS s_acctbal,
           s.s_name,
           n.n_name,
           p.p_partkey,
           CAST(ps.supplycost AS DOUBLE) AS supplycost
    FROM ps
    JOIN mn ON ps.l_partkey = mn.l_partkey AND ps.supplycost = mn.min_cost
    JOIN part p     ON p.p_partkey = ps.l_partkey
    JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'EUROPE' AND p.p_size <= 15 AND p.p_type = 'STANDARD'
    ORDER BY s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    LIMIT 100
    """,
)
def q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (reference README TPC-H family): min-cost supplier
    per part via a correlated-MIN scalar subquery, decorrelated into a
    per-part MIN aggregate + equi-filter back — the standard Spark
    rewrite (no per-row subquery execution). The part↔supplier relation
    is derived from lineitem (testdata has no partsupp); MIN over DOUBLE
    is exact in both engines so the cost equality filter is parity-safe.
    The per-part min is a window MIN over the already-aggregated
    (part, supplier) rows, so lineitem is scanned and shuffled exactly
    once — a decorrelating self-join would scan the fact table twice.
    Dims broadcast; top-100 via TakeOrderedAndProject."""
    from pyspark.sql.window import Window

    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    ps = l.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("supplycost")
    )
    return (
        ps.withColumn(
            "min_cost", F.min("supplycost").over(Window.partitionBy("l_partkey"))
        )
        .filter(F.col("supplycost") == F.col("min_cost"))
        .join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .join(F.broadcast(s), ps.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select(
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            F.col("supplycost").cast("double").alias("supplycost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


@query(
    "tpch_q11_important_stock",
    oracle="""
    WITH v AS (
        SELECT l.l_partkey,
               SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS value
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_3'
        GROUP BY l.l_partkey
    ),
    t AS (SELECT SUM(value) AS total FROM v)
    SELECT v.l_partkey, CAST(v.value AS DOUBLE) AS value
    FROM v, t
    WHERE v.value * 1000 > t.total
    """,
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value for one nation's suppliers,
    HAVING value above a fraction of the global total (scalar aggregate
    subquery -> broadcast cross join; the threshold compare stays in
    exact decimal cents so both engines agree bit-for-bit). One fact
    shuffle for the per-part aggregate; the per-part result feeds both
    the global total and the final filter (a diamond), and both branches
    read its aggregate exchange, which AQE reuses: the fact scan + join
    runs once."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    v = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(_dec("l_extendedprice")).alias("value"))
    )
    total = v.agg(F.sum("value").alias("total"))
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("value") * 1000 > F.col("total"))
        .select("l_partkey", F.col("value").cast("double").alias("value"))
    )
