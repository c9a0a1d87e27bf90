"""Full TPC-H-style suite over the driver testdata (SURVEY §2.2).

Q1/Q3/Q6/Q10 live in ``parity.py``; this module completes the remaining
18 query shapes.  The testdata schema (TESTDATA.md) is TPC-H-*ish*: it
has no ``partsupp`` table and lacks ``l_commitdate``/``l_receiptdate``,
``l_shipmode``, ``p_container``, ``c_phone``.  Queries whose original
text needs those columns are *adapted* — same operator shape (the thing
that matters for engine parity: correlated EXISTS / NOT EXISTS, scalar
subqueries, group-having-join-back, disjunctive pushdown, CASE-sum
aggregation) with predicates over the columns that exist.  Each doc
string says faithful vs adapted.

Scale notes: every dimension join (region/nation/supplier/part at
TPC-H's dim:fact ratios) is ``broadcast()``; fact-fact joins shuffle on
their keys with AQE handling skew; correlated subqueries are expressed
so Catalyst decorrelates them into aggregate+join (no per-row
re-execution).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .registry import register, table


def _revenue():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# ---------------------------------------------------------------------------
# Q5 — local supplier volume (faithful)
# ---------------------------------------------------------------------------


@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    doc="TPC-H Q5 (faithful): 6-way join incl. the c_nationkey = "
    "s_nationkey 'local supplier' equi-constraint; region/nation/supplier "
    "broadcast, lineitem⋈orders shuffles on orderkey.",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        # money sums accumulate as exact bigint CENTS on both engines
        # (the q1/q9 discipline): the raw double fold differs in last
        # ulps across engines
        .agg((F.sum(F.round(_revenue() * 100).cast("long")).cast("double") / 100.0).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# ---------------------------------------------------------------------------
# Q7 — volume shipping (faithful)
# ---------------------------------------------------------------------------


@register(
    "q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(CAST(round(volume * 100) AS BIGINT)) AS DOUBLE)
             / 100.0 AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1995-01-01'
                           AND TIMESTAMP '1996-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 (faithful): bidirectional nation-pair predicate across "
    "two broadcast copies of nation, year extraction, grouped volume.",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str):
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1995-01-01", "1996-12-31 00:00:00")
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(broadcast(c), o.o_custkey == c.c_custkey)
        .join(broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            _revenue().alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        # exact bigint-cents fold (q1/q9 discipline)
        .agg((F.sum(F.round(F.col("volume") * 100).cast("long")).cast("double") / 100.0).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# Q8 — national market share (faithful)
# ---------------------------------------------------------------------------


@register(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           CAST(sum(CASE WHEN nation = 'NATION_3'
                    THEN CAST(round(volume * 100) AS BIGINT)
                    ELSE 0 END) AS DOUBLE)
             / sum(CAST(round(volume * 100) AS BIGINT)) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'EUROPE'
        AND o_orderdate BETWEEN TIMESTAMP '1995-01-01'
                            AND TIMESTAMP '1996-12-31'
        AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    doc="TPC-H Q8 (faithful): market share of one supplier nation within "
    "a consumer region — 8-way join, CASE-sum ratio per order year.",
)
def q8_market_share(spark: SparkSession, sf_dir: str):
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1995-01-01", "1996-12-31 00:00:00")
    )
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_rkey")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    vol = _revenue()
    return (
        li.join(broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(broadcast(c), o.o_custkey == c.c_custkey)
        .join(broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(broadcast(r), F.col("n1_rkey") == r.r_regionkey)
        .join(broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .select(F.year("o_orderdate").alias("o_year"), vol.alias("volume"), "nation")
        .groupBy("o_year")
        # exact integer-cents ratio (q1/q9 discipline): both sums are
        # bigint folds, the one division is engine-identical
        .agg(
            (
                F.sum(
                    F.when(
                        F.col("nation") == "NATION_3",
                        F.round(F.col("volume") * 100).cast("long"),
                    ).otherwise(F.lit(0).cast("long"))
                ).cast("double")
                / F.sum(F.round(F.col("volume") * 100).cast("long"))
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# Q9 — product type profit (adapted: no ps_supplycost → profit = revenue)
# ---------------------------------------------------------------------------


@register(
    "q9_product_type_profit",
    oracle="""
    SELECT nation, o_year,
           CAST(sum(CAST(round(amount * 100) AS BIGINT)) AS DOUBLE)
             / 100.0 AS sum_profit
    FROM (
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS amount
      FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    doc="TPC-H Q9 (adapted: testdata has no partsupp, so profit omits "
    "ps_supplycost*l_quantity): part-name LIKE filter, supplier-nation "
    "profit by order year.  Profit accumulates in integer CENTS "
    "(round(amount*100) per line, exact bigint sum, /100 at the end) "
    "on BOTH engines — the q1 discipline — so the per-group sum is "
    "engine-exact rather than a fold-order-sensitive double.",
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str):
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    n = table(spark, sf_dir, "nation")
    return (
        li.join(broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            F.round(_revenue() * 100).cast("long").alias("amount_cents"),
        )
        .groupBy("nation", "o_year")
        .agg(
            (F.sum("amount_cents").cast("double") / 100.0).alias(
                "sum_profit"
            )
        )
        .orderBy("nation", F.desc("o_year"))
    )


# ---------------------------------------------------------------------------
# Q4 — order priority checking (adapted EXISTS)
# ---------------------------------------------------------------------------


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="TPC-H Q4 (adapted: no l_commitdate/l_receiptdate — the EXISTS "
    "predicate is 'some line shipped >60 days after order date'): "
    "correlated EXISTS planned as left-semi join.",
)
def q4_order_priority(spark: SparkSession, sf_dir: str):
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate > F.date_add(o.o_orderdate, 60)),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Q12 — shipping priority classes (adapted CASE-sum)
# ---------------------------------------------------------------------------


@register(
    "q12_priority_shipping",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_shipdate >  o_orderdate + INTERVAL 30 DAY
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    doc="TPC-H Q12 (adapted: l_shipmode does not exist in the driver's "
    "testdata lineitem schema, so the split groups by l_linestatus — "
    "'late' = shipped >30 days after order): CASE-sum priority split "
    "with a non-equi date predicate on the join.",
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str):
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(li.l_shipdate > F.date_add(o.o_orderdate, 30))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# ---------------------------------------------------------------------------
# Q13 — customer order distribution (faithful)
# ---------------------------------------------------------------------------


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 (faithful; the original's comment NOT LIKE filter "
    "becomes a priority filter): left outer join with an extra join-side "
    "predicate, double aggregation.",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "5-LOW"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ---------------------------------------------------------------------------
# Q14 — promotion effect (faithful)
# ---------------------------------------------------------------------------


@register(
    "q14_promo_revenue",
    oracle="""
    SELECT round(100.00 * sum(CASE WHEN p_type = 'PROMO'
                                   THEN l_extendedprice * (1 - l_discount)
                                   ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 6)
             AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    """,
    doc="TPC-H Q14 (faithful; p_type here is the single word 'PROMO'): "
    "broadcast part join, CASE-sum percentage, scalar result.",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str):
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part")
    rev = _revenue()
    return (
        li.join(broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            # round(·,6) on BOTH engines: the double ratio's partial-sum
            # order differs between Spark and DuckDB in the last ulp
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q15 — top supplier (faithful; view → scalar-subquery max)
# ---------------------------------------------------------------------------


@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue0 AS (
      SELECT l_suppkey AS supplier_no,
             sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                 AS BIGINT)) AS revenue_c
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(revenue_c AS DOUBLE) / 100.0 AS total_revenue
    FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
    WHERE revenue_c = (SELECT max(revenue_c) FROM revenue0)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q15 (faithful): revenue view reused twice — once grouped, "
    "once under a scalar-subquery max — then joined back to supplier.",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str):
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    # revenue folds as exact bigint cents on both engines (the q5
    # discipline): the max and the equality against it then compare
    # integers, which a fold-order-dependent double sum cannot promise
    revenue0 = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(F.round(_revenue() * 100).cast("long")).alias("revenue_c")
    )
    # max-revenue row(s) without a second scan: rank over an empty
    # partition spec is a single-reducer op, fine at |suppliers| rows
    w = Window.orderBy(F.desc("revenue_c"))
    top = revenue0.withColumn("rk", F.rank().over(w)).filter(F.col("rk") == 1)
    s = table(spark, sf_dir, "supplier")
    return (
        broadcast(top)
        .join(s, top.supplier_no == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("revenue_c").cast("double") / 100.0).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Q16 — supplier-part relationship count (adapted: lineitem as the link)
# ---------------------------------------------------------------------------


@register(
    "q16_parts_supplier_count",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type <> 'ECONOMY'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 (adapted: no partsupp — lineitem is the part↔supplier "
    "link, and the supplier-complaint NOT IN subquery has no comment "
    "column to match): negated predicates + IN list + count distinct.",
)
def q16_parts_supplier_count(spark: SparkSession, sf_dir: str):
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "ECONOMY")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (faithful correlated scalar subquery)
# ---------------------------------------------------------------------------


@register(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS DOUBLE) / 100.0 / 7.0 AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < (
        SELECT 0.5 * avg(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = lineitem.l_partkey
      )
    """,
    doc="TPC-H Q17 (faithful; container predicate dropped — no "
    "p_container): correlated scalar subquery (per-part avg quantity) "
    "decorrelated into an aggregate + join.  Revenue is summed in "
    "integer cents (prices are 2-decimal, non-negative) so the sum is "
    "shuffle-order-independent; the avg-quantity threshold needs no "
    "quantization — quantities are small integers whose double sum is "
    "exact, so row membership is already deterministic.",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str):
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    per_part = li.groupBy(F.col("l_partkey").alias("pp_key")).agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg_qty")
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        li.join(broadcast(p), li.l_partkey == p.p_partkey)
        .join(per_part, li.l_partkey == F.col("pp_key"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            (F.sum(cents).cast("double") / F.lit(100.0) / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


# ---------------------------------------------------------------------------
# Q18 — large volume customers (faithful group-having-join-back)
# ---------------------------------------------------------------------------


@register(
    "q18_large_volume_customer",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           sum(l_quantity) AS sum_qty
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 150
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
    """,
    doc="TPC-H Q18 (faithful, threshold scaled to the testdata's ~4 "
    "lines/order): IN over a grouped HAVING subquery → left-semi join, "
    "then re-aggregate with customer context.",
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 150)
        .select("l_orderkey")
    )
    return (
        o.join(big.withColumnRenamed("l_orderkey", "bk"), o.o_orderkey == F.col("bk"), "left_semi")
        .join(broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q19 — discounted revenue (adapted disjunctive predicates)
# ---------------------------------------------------------------------------


@register(
    "q19_discounted_revenue",
    oracle="""
    SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#7' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 (adapted: container/shipmode predicates replaced by "
    "size ranges): three-way disjunction mixing part and lineitem "
    "columns — the classic join-predicate-pushdown stress.",
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str):
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    j = li.join(broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#7")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    # exact bigint-cents fold (q1/q9 discipline)
    return j.filter(cond).agg(
        (F.sum(F.round(_revenue() * 100).cast("long")).cast("double") / 100.0).alias("revenue")
    )


# ---------------------------------------------------------------------------
# Q20 — excess suppliers (adapted: lineitem as supply volume)
# ---------------------------------------------------------------------------


@register(
    "q20_excess_suppliers",
    oracle="""
    SELECT s_name, s_suppkey
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE '%red%'
        GROUP BY l_suppkey, l_partkey
        HAVING sum(l_quantity) > 0.15 * (
          SELECT sum(l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = lineitem.l_partkey
        )
      )
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q20 (adapted: no partsupp — a supplier is 'excess' when "
    "it shipped >15% of a red part's total volume; the original's "
    "nation filter is dropped because at test scale no single nation's "
    "supplier pool intersects the qualifying set): nested IN with a "
    "correlated scalar subquery over a grouped aggregate.",
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str):
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    per_part = li.groupBy(F.col("l_partkey").alias("tp_key")).agg(
        F.sum("l_quantity").alias("part_total")
    )
    heavy = (
        li.join(broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("supp_qty"))
        .join(per_part, F.col("l_partkey") == F.col("tp_key"))
        .filter(F.col("supp_qty") > 0.15 * F.col("part_total"))
        .select("l_suppkey")
    )
    return (
        s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_name", "s_suppkey")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (adapted EXISTS / NOT EXISTS)
# ---------------------------------------------------------------------------


@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders     ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
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
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
    doc="TPC-H Q21 (adapted: 'late' = shipped >60 days after order date "
    "instead of receipt>commit, and no nation filter — the supplier "
    "pool at test scale is too small to slice by nation): EXISTS + NOT "
    "EXISTS over the same fact table — left-semi then left-anti join, "
    "multi-supplier orders only.",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str):
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = table(spark, sf_dir, "lineitem")
    l1 = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
        .select("l_orderkey", "l_suppkey", "l_shipdate")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"),
        F.col("l_suppkey").alias("s2"),
        F.col("l_shipdate").alias("d2"),
    )
    waited = l1.join(
        l2, (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("s2")), "left_semi"
    )
    blamed = waited.join(
        l2,
        (F.col("l_orderkey") == F.col("k2"))
        & (F.col("l_suppkey") != F.col("s2"))
        & (F.col("d2") > F.col("l_shipdate")),
        "left_anti",
    )
    return (
        blamed.join(broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


# ---------------------------------------------------------------------------
# Q22 — global sales opportunity (adapted NOT EXISTS + scalar subquery)
# ---------------------------------------------------------------------------


@register(
    "q22_global_sales_opportunity",
    oracle="""
    WITH eligible AS (
      SELECT c_custkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
             c_nationkey % 5 AS cntrycode
      FROM customer
      WHERE c_nationkey % 5 IN (0, 1, 2)
    )
    SELECT cntrycode, count(*) AS numcust,
           CAST(sum(bal_cents) AS DOUBLE) / 100.0 AS totacctbal
    FROM eligible
    WHERE bal_cents > (
        SELECT CAST(sum(bal_cents) AS DOUBLE) / count(*)
        FROM eligible WHERE bal_cents > 0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '1999-01-01'
      )
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
    doc="TPC-H Q22 (adapted: no c_phone — country code is c_nationkey "
    "mod 5): uncorrelated scalar-subquery average + NOT EXISTS "
    "over recent orders (left-anti join) + grouped count/sum.",
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str):
    # balances in exact integer CENTS end to end (q1/q9 discipline):
    # the avg threshold, the comparison, and the group sum are all
    # integer folds + one engine-identical division, so neither the
    # selected ROW SET nor the output values depend on float fold order
    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
        (F.col("c_nationkey") % 5).alias("cntrycode"),
    )
    eligible = c.filter(F.col("cntrycode").isin(0, 1, 2))
    avg_bal = eligible.filter(F.col("bal_cents") > 0).agg(
        (F.sum("bal_cents").cast("double") / F.count(F.lit(1))).alias(
            "avg_cents"
        )
    )
    o = table(spark, sf_dir, "orders")
    return (
        eligible.join(broadcast(avg_bal))
        .filter(F.col("bal_cents") > F.col("avg_cents"))
        .join(
            o.filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")),
            eligible.c_custkey == o.o_custkey,
            "left_anti",
        )
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            (F.sum("bal_cents").cast("double") / 100.0).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# ---------------------------------------------------------------------------
# Q2 — minimum cost supplier (adapted: min acctbal over lineitem link)
# ---------------------------------------------------------------------------


@register(
    "q2_min_cost_supplier",
    oracle="""
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type
    FROM part, supplier, lineitem, nation, region
    WHERE p_partkey = l_partkey
      AND s_suppkey = l_suppkey
      AND p_size = 15
      AND p_type = 'LARGE'
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
      AND s_acctbal = (
        SELECT min(s_acctbal)
        FROM supplier s2, lineitem l2, nation n2, region r2
        WHERE l2.l_partkey = part.p_partkey
          AND s2.s_suppkey = l2.l_suppkey
          AND s2.s_nationkey = n2.n_nationkey
          AND n2.n_regionkey = r2.r_regionkey
          AND r2.r_name = 'EUROPE'
      )
    GROUP BY s_acctbal, s_name, n_name, p_partkey, p_type
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    doc="TPC-H Q2 (adapted: no partsupp — lineitem links parts to their "
    "suppliers, and min s_acctbal stands in for min ps_supplycost): "
    "correlated min subquery over a 4-way join, solved with a window "
    "min instead of a second join tree.",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str):
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "LARGE")
    )
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    # the correlated `min over suppliers of THIS part` is a window min
    # partitioned by part — one shuffle instead of re-running the join
    linked = (
        li.join(broadcast(p), li.l_partkey == p.p_partkey)
        .join(broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    w = Window.partitionBy("p_partkey")
    return (
        linked.withColumn("min_bal", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type")
        .distinct()
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q11 — important stock identification (adapted HAVING > global fraction)
# ---------------------------------------------------------------------------


@register(
    "q11_important_stock",
    oracle="""
    WITH natval AS (
      SELECT l_partkey, l_extendedprice * l_quantity AS val
      FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_2'
    )
    , per_part AS (
      SELECT l_partkey, round(sum(val), 2) AS value
      FROM natval GROUP BY l_partkey
    )
    SELECT l_partkey, value
    FROM per_part
    WHERE value > (SELECT sum(value) * 0.002 FROM per_part)
    ORDER BY value DESC, l_partkey
    """,
    doc="TPC-H Q11 (adapted: no partsupp — 'stock value' is shipped "
    "extendedprice*quantity per part for one nation's suppliers): "
    "grouped HAVING against an uncorrelated scalar-subquery fraction "
    "of the global total.",
)
def q11_important_stock(spark: SparkSession, sf_dir: str):
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2")
    natval = (
        li.join(broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "l_partkey",
            (F.col("l_extendedprice") * F.col("l_quantity")).alias("val"),
        )
    )
    # money sums round(·,2) at source on BOTH engines, and the HAVING
    # threshold is derived from the ROUNDED per-part values so the
    # row-membership cut is deterministic across engines
    per_part = natval.groupBy("l_partkey").agg(
        F.round(F.sum("val"), 2).alias("value")
    )
    threshold = per_part.agg((F.sum("value") * 0.002).alias("t"))
    return (
        per_part.join(broadcast(threshold))
        .filter(F.col("value") > F.col("t"))
        .select("l_partkey", "value")
        .orderBy(F.desc("value"), "l_partkey")
    )
