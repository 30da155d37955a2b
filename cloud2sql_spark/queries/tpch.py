"""Composed TPC-H-style analytics queries (SURVEY.md §2 Part B, composition).

The reference delegates whole-query analytics to its SQL destinations
(reference README.md:221-224 shows users running multi-join SQL over the
loaded tables); these keys prove the engine end-to-end on the classic
decision-support shapes — multi-join star/snowflake plans, correlated
having, top-k with deterministic tie-breaks — adapted to the driver's
TPC-H-lite schema (no partsupp table, no l_commitdate/l_receiptdate/
l_shipmode columns, generic NATION_N names). All 22 are covered: Q1,
Q3-Q10, Q12-Q15, Q17-Q19, Q21-Q22 run near-verbatim (Q12/Q21 substitute
ship-after-order-date lateness for the missing commit/receipt dates);
Q2/Q11/Q16/Q20 need the partsupp table the lite schema omits, so they
run against a DERIVED partsupp — lineitem carries (l_partkey,
l_suppkey), and grouping it yields the part-supplier relation with
``ps_cost_cents = min`` observed line price (exact cents, no division)
and ``ps_availqty = sum(l_quantity)`` (integral). The four queries keep
their canonical shapes (correlated-min across a region, scalar-subquery
HAVING fraction, NOT-IN supplier exclusion, nested IN with a
recent-share threshold) on that derived relation; negative ``s_acctbal``
stands in for Q16's complaint-comment filter and a 1997 recency share
for Q20's half-of-availqty test. Because the derived relation's GROUP
KEY contains every filter key, filter-then-aggregate commutes with
aggregate-then-filter: the Spark plans broadcast the supplier/part
slices into the lineitem scan BEFORE the pair aggregation, while the
oracles aggregate first — same values, and the Spark side shuffles only
the surviving slice.

Scale posture: every query keeps dims (region/nation, filtered part set)
broadcast, pushes date/flag filters into the parquet scan, and shuffles the
fact tables only on their join keys — the same plans Catalyst picks at
TPC-H sf100k. Money math follows the repo-wide DECIMAL(18,2) convention
(see agg_groupby) so multiset hashes match the oracle bit-for-bit.

Top-k queries (q3/q10/q18) order by a DECIMAL-exact measure with a unique
key tie-break, so LIMIT selects a deterministic set in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cloud2sql_spark.catalog import load_table
from cloud2sql_spark.queries.rounding import (
    ratio_round_oracle,
    ratio_round_spark,
)
from cloud2sql_spark.registry import register


def _dec(col: str) -> Column:
    return F.col(col).cast("decimal(18,2)")


def _one() -> Column:
    return F.lit(1).cast("decimal(18,2)")


def _revenue() -> Column:
    return _dec("l_extendedprice") * (_one() - _dec("l_discount"))


_REVENUE_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2)))"
)


@register(
    "tpch_q3",
    oracle=f"""
    SELECT l.l_orderkey,
           CAST(sum({_REVENUE_SQL}) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1997-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY sum({_REVENUE_SQL}) DESC, o.o_orderdate, l.l_orderkey
    LIMIT 10
    """,
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping-priority: unshipped-revenue top-10.

    o_shippriority does not exist in the lite schema; o_orderpriority
    stands in. The date filters reach both parquet scans (pushed), so the
    orders⋈lineitem shuffle carries only the surviving slice; the LIMIT
    runs as TakeOrderedAndProject — no global sort materializes. The
    revenue sort key is DECIMAL-exact and l_orderkey breaks ties, so the
    top-10 set is deterministic across engines.
    """
    cutoff = F.lit("1997-03-15")
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    # Fact-first join order: lineitem is always the probe side, so the
    # optimizer's build-side choice falls on the genuinely smaller
    # filtered orders/customer inputs — never on the fact table (a
    # broadcast-the-fact plan is what melts first at scale; observed in
    # the 10x probe with the customer-first ordering).
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_revenue()).alias("rev_dec"))
        .orderBy(F.col("rev_dec").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            F.col("rev_dec").cast("double").alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


@register(
    "tpch_q5",
    oracle=f"""
    SELECT n.n_name, CAST(sum({_REVENUE_SQL}) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
                   AND s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 local-supplier volume: revenue where the supplier and the
    ordering customer share a nation, per ASIA nation, one order-year.

    Distinct from join_multiway_star (Q5-shaped but unconstrained): the
    c_nationkey = s_nationkey co-location predicate is the defining Q5
    twist. supplier and the region-filtered nation list broadcast; the
    only large shuffles are lineitem⋈orders and ⋈customer on their keys.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supplier = F.broadcast(load_table(spark, sf_dir, "supplier"))
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(
        load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    return (
        li.join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            nation,
            (customer.c_nationkey == nation.n_nationkey)
            & (supplier.s_nationkey == nation.n_nationkey),
        )
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )


@register(
    "tpch_q6",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecasting-revenue-change: a pure scan-filter-aggregate.

    All three predicates push to the parquet scan; the aggregate is a
    partial+final sum with no group keys — at 100 TB this is the
    bandwidth-bound lower bound every other query is judged against.
    The 0.05/0.07 literals hit the same 2-decimal doubles both engines
    read from parquet, so the comparison set is identical.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(_dec("l_extendedprice") * _dec("l_discount"))
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


@register(
    "tpch_q7",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           CAST(sum({_REVENUE_SQL}) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_7')
       OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_2')
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 volume-shipping: bilateral trade between two nations by
    ship-year — the two-role dimension pattern (nation joined twice under
    different aliases).

    Both nation copies broadcast; the disjunctive pair predicate applies
    after the second nation join, and Catalyst pushes the derivable
    IN ('NATION_2','NATION_7') halves onto each broadcast side.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supplier = F.broadcast(load_table(spark, sf_dir, "supplier"))
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    pair = ["NATION_2", "NATION_7"]
    n1 = F.broadcast(
        nation.filter(F.col("n_name").isin(pair)).select(
            F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        nation.filter(F.col("n_name").isin(pair)).select(
            F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
        )
    )
    return (
        li.join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(n1, F.col("s_nationkey") == F.col("s_nkey"))
        .join(n2, F.col("c_nationkey") == F.col("c_nkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )


@register(
    "tpch_q9",
    oracle=f"""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(sum({_REVENUE_SQL}) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 product-type profit, adapted: the lite schema has no
    partsupp, so profit omits the ps_supplycost * l_quantity term and is
    pure discounted revenue over parts whose name matches '%red%'.

    The filtered part set (~1/6 of 2k-per-sf rows) broadcasts, turning the
    selective part⋈lineitem step into a semi-filter before the orders
    shuffle; supplier and nation broadcast as usual.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    supplier = F.broadcast(load_table(spark, sf_dir, "supplier"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(_revenue()).cast("double").alias("profit"))
    )


@register(
    "tpch_q10",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           CAST(sum({_REVENUE_SQL}) AS DOUBLE) AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY sum({_REVENUE_SQL}) DESC, c.c_custkey
    LIMIT 20
    """,
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 returned-item reporting: top-20 customers by revenue lost
    to returns in one quarter.

    The returnflag and date filters push to the scans; grouping carries
    the customer attribute columns as grouping keys (they are functionally
    dependent on c_custkey, which Spark cannot infer — same shape the
    spec mandates). DECIMAL revenue + c_custkey tie-break keeps the
    LIMIT 20 deterministic.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    # Fact-first: lineitem probes; the one-quarter orders slice is the
    # natural build side (the customer-first ordering made the optimizer
    # broadcast the R-filtered FACT table at 10x — 2M-row hash relation,
    # 14x probe ratio).
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_revenue()).alias("rev_dec"))
        .orderBy(F.col("rev_dec").desc(), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.col("rev_dec").cast("double").alias("revenue"),
            "c_acctbal",
            "n_name",
        )
    )


@register(
    "tpch_q14",
    oracle=f"""
    SELECT {ratio_round_oracle(
        f"sum(CASE WHEN p.p_type = 'PROMO' THEN {_REVENUE_SQL} ELSE 0 END)"
        " * 1000000",
        f"CAST(sum({_REVENUE_SQL}) * 10000 AS HUGEINT)",
        2,
    )} AS promo_pct,
           CAST(sum(CASE WHEN p.p_type = 'PROMO'
                    THEN {_REVENUE_SQL} ELSE 0 END) AS DOUBLE) AS promo_revenue,
           CAST(sum({_REVENUE_SQL}) AS DOUBLE) AS total_revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
    """,
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 promotion effect: share of one month's revenue from
    PROMO-type parts (the lite p_type is a single word, so the spec's
    ``LIKE 'PROMO%%'`` degenerates to equality).

    part broadcasts (it is per-part metadata, always ≪ lineitem), the
    month filter pushes to the lineitem scan, and the conditional sums
    are one pass. Both component sums are DECIMAL-exact and emitted
    alongside the rounded ratio so the comparison never rests on the
    float quotient alone.

    promo_pct rounds through exact integer arithmetic
    (queries/rounding.py, converted r11 per the r10 audit schedule):
    both revenue sums are exact multiples of 1e-4 (DECIMAL scale 2 x
    scale 2), so 100*P/T = (P*10^6)/(T*10^4) with integer-valued
    operands — the half-boundary class is unreachable by construction.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01"))
        & (F.col("l_shipdate") < F.lit("1996-10-01"))
    )
    part = F.broadcast(load_table(spark, sf_dir, "part").select("p_partkey", "p_type"))
    zero = F.lit(0).cast("decimal(18,2)")
    promo = F.sum(F.when(F.col("p_type") == "PROMO", _revenue()).otherwise(zero))
    total = F.sum(_revenue())
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            promo.alias("_promo"),
            total.alias("_total"),
        )
        .select(
            F.expr(
                ratio_round_spark(
                    "_promo * 1000000",
                    "CAST(_total * 10000 AS DECIMAL(38,0))",
                    2,
                )
            ).alias("promo_pct"),
            F.col("_promo").cast("double").alias("promo_revenue"),
            F.col("_total").cast("double").alias("total_revenue"),
        )
    )


@register(
    "tpch_q18",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 270
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 large-volume customer: orders whose total quantity tops
    270 (the lite data's ~99.7th percentile), with their customers.

    The qualifying-order aggregate runs ONCE and carries its per-order
    quantity sum forward: the textbook plan semi-joins the qualifier
    back into lineitem and re-aggregates the same quantities, but the
    outer group key contains o_orderkey, so each output row's sum_qty
    IS the qualifier's own per-order sum — one lineitem pass instead of
    two, and the 3-table join probes the tiny (0.3% of orders)
    qualifier frame instead of the full fact table. Exactly equivalent
    even under duplicate orders/customer keys: in both shapes each
    order row contributes its full per-order quantity once per join
    match, and the final groupBy folds matches identically.
    o_totalprice DESC with o_orderkey tie-break keeps LIMIT 100
    deterministic.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qual = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 270)
    )
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        qual.join(orders, qual.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("qty").cast("double").alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    "tpch_q4",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    GROUP BY o.o_orderpriority
    """,
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 order-priority checking: orders in one quarter with at
    least one qualifying lineitem, counted per priority. The lite schema
    has no commit/receipt dates, so the spec's late-line EXISTS becomes
    a quantity predicate — the PLAN is the point: Catalyst rewrites the
    correlated EXISTS into a semi join on l_orderkey, so lineitem is
    touched once (filtered, then semi-joined), never per outer row."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    qual = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey")
    )
    return (
        orders.join(qual, orders.o_orderkey == qual.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q8",
    oracle=f"""
    WITH all_nations AS (
      SELECT year(o.o_orderdate) AS o_year,
             {_REVENUE_SQL} AS volume,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
      JOIN region r   ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'STANDARD')
    SELECT CAST(o_year AS INT) AS o_year,
           {ratio_round_oracle(
               "sum(CASE WHEN supp_nation = 'NATION_2'"
               " THEN volume ELSE 0 END) * 10000",
               "CAST(sum(volume) * 10000 AS HUGEINT)",
               6,
           )} AS mkt_share,
           CAST(sum(volume) AS DOUBLE) AS total_volume
    FROM all_nations
    GROUP BY o_year
    """,
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 national market share: NATION_2 suppliers' slice of
    STANDARD-part revenue sold to ASIA customers, per order year. The
    two-role nation dimension appears again (customer region path and
    supplier nation path); all dims broadcast, lineitem probes through
    the whole snowflake, and both conditional sums are DECIMAL-exact
    before the one rounded division. mkt_share rounds through exact
    integer arithmetic (queries/rounding.py, converted r11): both sums
    are exact multiples of 1e-4, so N/T = (N*10^4)/(T*10^4) with
    integer-valued operands — no reachable half boundary."""
    li = load_table(spark, sf_dir, "lineitem")
    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "STANDARD")
        .select("p_partkey")
    )
    supplier = F.broadcast(load_table(spark, sf_dir, "supplier"))
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
        )
    )
    n2 = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
        )
    )
    region = F.broadcast(
        load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    zero = F.lit(0).cast("decimal(18,2)")
    vol = _revenue()
    an = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(n1, customer.c_nationkey == F.col("c_nkey"))
        .join(region, F.col("c_rkey") == region.r_regionkey)
        .join(n2, supplier.s_nationkey == F.col("s_nkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    nat = F.sum(F.when(F.col("supp_nation") == "NATION_2", F.col("volume")).otherwise(zero))
    tot = F.sum("volume")
    return (
        an.groupBy("o_year")
        .agg(nat.alias("_nat"), tot.alias("_tot"))
        .select(
            "o_year",
            F.expr(
                ratio_round_spark(
                    "_nat * 10000",
                    "CAST(_tot * 10000 AS DECIMAL(38,0))",
                    6,
                )
            ).alias("mkt_share"),
            F.col("_tot").cast("double").alias("total_volume"),
        )
    )


@register(
    "tpch_q13",
    oracle="""
    WITH c_orders AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey)
    SELECT c_count, count(*) AS custdist
    FROM c_orders
    GROUP BY c_count
    """,
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 customer distribution: how many customers placed how
    many (non-urgent) orders — including zero (the LEFT join is the
    point: count(o_orderkey) over the null-extended rows yields 0, an
    inner join would lose those customers). Two keyed aggregations; the
    second one's key space is the max order count, a few dozen."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    c_orders = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy(customer.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return c_orders.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q15",
    oracle=f"""
    WITH revenue0 AS (
      SELECT l_suppkey AS supplier_no,
             sum({_REVENUE_SQL}) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name,
           CAST(r.total_revenue AS DOUBLE) AS total_revenue
    FROM supplier s JOIN revenue0 r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue0)
    """,
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier: the supplier(s) whose quarter revenue
    equals the maximum — the view-plus-scalar-subquery shape. The
    revenue aggregate feeds BOTH the max and the equality filter; it is
    deliberately NOT persisted: each recompute is one pushed-down
    quarter-slice scan plus a keyed aggregate (cheap), while an
    unmanaged persist inside a lazily-returned plan leaks a cached frame
    per invocation (memo.session_memo exists for genuinely expensive
    shared frames). The max is a 1-row broadcast and the equality is
    DECIMAL-exact, so 'ties at the top' are found identically in both
    engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    revenue0 = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_revenue()).alias("total_revenue")
    )
    mx = revenue0.agg(F.max("total_revenue").alias("mx"))
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        revenue0.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(supplier, F.col("supplier_no") == supplier.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


@register(
    "tpch_q17",
    oracle=f"""
    WITH pa AS (
      SELECT l_partkey, 0.5 * avg(l_quantity) AS half_avg
      FROM lineitem GROUP BY l_partkey)
    SELECT {ratio_round_oracle(
        "sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) * 100", "700", 2
    )} AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pa    ON pa.l_partkey = l.l_partkey
    WHERE p.p_type = 'SMALL' AND l.l_quantity < pa.half_avg
    """,
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 small-quantity-order revenue: lines of SMALL-type parts
    whose quantity is under half that part's average. The correlated
    scalar subquery decorrelates into one per-part aggregate joined back
    on l_partkey — lineitem is read twice but shuffled on the same key
    both times. half_avg is a double from exact integer-ish inputs via
    one division, computed identically in both engines; the money sum is
    DECIMAL, and round(S/7, 2) rides the exact integer template
    (queries/rounding.py, converted r11): S is exact cents, so
    S/7 = (S*100)/700 with integer operands."""
    li = load_table(spark, sf_dir, "lineitem")
    pa = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg")
    )
    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "SMALL")
        .select("p_partkey")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(pa, "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            F.sum(_dec("l_extendedprice")).alias("_s"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .select(
            F.expr(ratio_round_spark("_s * 100", "700", 2)).alias(
                "avg_yearly"
            ),
            "n_lines",
        )
    )


@register(
    "tpch_q19",
    oracle=f"""
    SELECT CAST(sum({_REVENUE_SQL}) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1'
           AND l.l_quantity BETWEEN 1 AND 15 AND p.p_size BETWEEN 1 AND 15)
       OR (p.p_brand = 'Brand#12'
           AND l.l_quantity BETWEEN 10 AND 25 AND p.p_size BETWEEN 1 AND 25)
       OR (p.p_brand = 'Brand#23'
           AND l.l_quantity BETWEEN 20 AND 35 AND p.p_size BETWEEN 1 AND 35)
    """,
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 discounted revenue: the disjunction-of-conjunctions
    predicate (three brand/quantity/size bands). The optimizer derives
    the implied disjunctions per side — brand IN (...) reaches the part
    scan and the quantity envelope reaches the lineitem scan — so both
    scans are cut before the join even though no single conjunct spans
    them."""
    li = load_table(spark, sf_dir, "lineitem")
    part = F.broadcast(
        load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    )
    def band(brand, qlo, qhi, shi):
        return (
            (F.col("p_brand") == brand)
            & F.col("l_quantity").between(qlo, qhi)
            & F.col("p_size").between(1, shi)
        )
    pred = (
        band("Brand#1", 1, 15, 15)
        | band("Brand#12", 10, 25, 25)
        | band("Brand#23", 20, 35, 35)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(pred)
        .agg(
            F.sum(_revenue()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q22",
    oracle="""
    SELECT CAST(c.c_custkey % 7 AS VARCHAR) AS cntrycode,
           count(*) AS numcust,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                                     AS DOUBLE) / count(*)
                         FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c.c_custkey % 7
    """,
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 global sales opportunity: well-funded customers with no
    recent orders, grouped by a derived country code (the lite schema
    has no phone column; custkey mod 7 stands in). Shape: a 1-row scalar
    average broadcast into the filter, then an ANTI join against the
    recent-order keys — the NOT EXISTS decorrelation — then a tiny keyed
    aggregate. The threshold average is DECIMAL-sum / count with ONE
    double division (a raw double avg depends on partial-merge order and
    could flip a strict > at the boundary), and the balance totals ride
    DECIMAL per the module convention."""
    customer = load_table(spark, sf_dir, "customer")
    pos = customer.filter(F.col("c_acctbal") > 0)
    pos_avg = pos.agg(
        (
            F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01"))
        .select("o_custkey")
    )
    return (
        customer.join(F.broadcast(pos_avg))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, customer.c_custkey == recent.o_custkey, "left_anti")
        .groupBy((F.col("c_custkey") % 7).cast("string").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


@register(
    "tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
               AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(12,2)))
                    * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE)
               AS sum_charge,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               / count(*) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               / count(*) AS avg_price,
           CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
               / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: the canonical single-table scan+agg.

    One parquet scan with the shipdate filter pushed, one partial-
    aggregable groupBy on a 6-value key — the shuffle carries at most
    (partitions x 6) pre-aggregated rows regardless of fact size, the
    ideal 100 TB shape. Money sums ride DECIMAL per the module
    convention; the 3-factor charge term uses DECIMAL(12,2) inputs so
    the exact product's precision tops out at Spark's 38 cap
    ((12,2)x(12,2)->(25,4), x(12,2)->(38,6)) with no rounding on either
    engine. Averages are DECIMAL-sum cast to double then ONE division
    by count (raw double avg() is partial-merge-order dependent).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )

    def d12(col: str) -> Column:
        return F.col(col).cast("decimal(12,2)")

    one12 = F.lit(1).cast("decimal(12,2)")
    disc_price = d12("l_extendedprice") * (one12 - d12("l_discount"))
    charge = disc_price * (one12 + d12("l_tax"))
    n = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).alias("q_dec"),
            F.sum(_dec("l_extendedprice")).alias("p_dec"),
            F.sum(disc_price).alias("dp_dec"),
            F.sum(charge).alias("ch_dec"),
            F.sum(_dec("l_discount")).alias("d_dec"),
            n.alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("q_dec").cast("double").alias("sum_qty"),
            F.col("p_dec").cast("double").alias("sum_base_price"),
            F.col("dp_dec").cast("double").alias("sum_disc_price"),
            F.col("ch_dec").cast("double").alias("sum_charge"),
            (F.col("q_dec").cast("double") / F.col("count_order")).alias("avg_qty"),
            (F.col("p_dec").cast("double") / F.col("count_order")).alias("avg_price"),
            (F.col("d_dec").cast("double") / F.col("count_order")).alias("avg_disc"),
            "count_order",
        )
    )


@register(
    "tpch_q12",
    oracle="""
    SELECT l.l_returnflag AS shipmode,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    GROUP BY l.l_returnflag
    """,
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shipping-modes-and-priority: late lines classified by
    order priority per mode. Lite-schema stand-ins: l_returnflag plays
    shipmode (no l_shipmode column) and "received after commit" becomes
    shipped >60 days after order date (no commit/receipt dates) — the
    shape is intact: one fact-fact equi-join, a join-level date
    predicate, then a tiny conditional-sum aggregate (3 groups) with
    map-side combine. Fact-first join order keeps lineitem the probe
    side. The 60-day add is ONE interval constant per engine (two
    different-unit intervals in one query would hit DuckDB's
    months=30days CSE folding hazard)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 60 DAY"))
        .groupBy(F.col("l_returnflag").alias("shipmode"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias(
                "high_line_count"
            ),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("bigint").alias(
                "low_line_count"
            ),
        )
    )


@register(
    "tpch_q21",
    oracle="""
    WITH f AS (SELECT o_orderkey, o_orderdate FROM orders
               WHERE o_orderstatus = 'F'),
    l AS (SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
          FROM lineitem JOIN f ON l_orderkey = o_orderkey),
    per_order AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT CASE WHEN l_shipdate > o_orderdate
                                      + INTERVAL 80 DAY
                                 THEN l_suppkey END) AS n_late
      FROM l GROUP BY l_orderkey),
    waiting AS (
      SELECT DISTINCT l.l_orderkey, l.l_suppkey
      FROM l JOIN per_order p ON l.l_orderkey = p.l_orderkey
      WHERE p.n_supp >= 2 AND p.n_late = 1
        AND l.l_shipdate > l.o_orderdate + INTERVAL 80 DAY)
    SELECT s.s_name, n.n_name, count(*) AS numwait
    FROM waiting w
    JOIN supplier s ON w.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY s.s_name, n.n_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 suppliers-who-kept-orders-waiting, decorrelated: the
    original's EXISTS (another supplier in the order) and NOT EXISTS
    (another LATE supplier) collapse into per-order counts — n_supp >= 2
    and n_late = 1 identify orders where exactly the candidate supplier
    was late. r14 shape (guide §2.3/§2.4): aggregate lineitem to one row
    per (orderkey, suppkey) carrying any_late = max(late) — a map-side-
    combined hash aggregate, no Expand (the previous two count_distincts
    expanded every row 3×) — then take n_supp/n_late as COUNT/SUM window
    aggregates over the compacted pair frame partitioned by orderkey
    (per-pair rows make the distinct counts plain counts, and the window
    rides the same exchange the old per_order groupBy + re-join paid
    twice). waiting = pairs with any_late & n_supp>=2 & n_late==1 —
    identical to the old late-row filter + distinct because a pair with
    ≥1 late line IS a late-distinct supplier. Lite stand-ins: late =
    shipped >80 days after order date (no commit/receipt dates); nation
    is reported instead of filtered (generic NATION_N names carry no
    geography). Top-20 orders by (numwait desc, s_name) — s_name is
    unique, so the cut is deterministic."""
    f = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    l = li.join(f, li.l_orderkey == f.o_orderkey).select(
        "l_orderkey", "l_suppkey", "l_shipdate", "o_orderdate"
    )
    late = F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 80 DAY")
    pair = l.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(late.cast("int")).alias("any_late")
    )
    wo = Window.partitionBy("l_orderkey")
    waiting = (
        pair.select(
            "l_orderkey",
            "l_suppkey",
            "any_late",
            F.count(F.lit(1)).over(wo).alias("n_supp"),
            F.sum("any_late").over(wo).alias("n_late"),
        )
        .filter(
            (F.col("any_late") == 1)
            & (F.col("n_supp") >= 2)
            & (F.col("n_late") == 1)
        )
        .select("l_orderkey", "l_suppkey")
    )
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        waiting.join(
            F.broadcast(supplier),
            waiting.l_suppkey == supplier.s_suppkey,
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy("s_name", "n_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


_PS_SQL = """
    ps AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             min(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                 AS ps_cost_cents,
             CAST(round(sum(l_quantity), 0) AS BIGINT) AS ps_availqty
      FROM lineitem GROUP BY 1, 2)
"""


def _derived_ps(li: DataFrame) -> DataFrame:
    """The derived partsupp relation (module docstring): one row per
    (l_partkey, l_suppkey) pair with exact-integer cost/qty. ``li`` may
    be pre-filtered on part or supplier keys — the group key contains
    both, so the aggregate commutes with those filters."""
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")).alias(
            "ps_cost_cents"
        ),
        F.round(F.sum("l_quantity"), 0).cast("bigint").alias("ps_availqty"),
    )


@register(
    "tpch_q2",
    oracle=f"""
    WITH {_PS_SQL},
    europe AS (
      SELECT ps.*, s.s_acctbal, s.s_name, n.n_name
      FROM ps
      JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'),
    target AS (
      SELECT p_partkey, p_brand FROM part
      WHERE p_type = 'ECONOMY' AND p_size BETWEEN 10 AND 20),
    mn AS (
      SELECT ps_partkey, min(ps_cost_cents) AS min_cost
      FROM europe GROUP BY ps_partkey)
    SELECT e.s_acctbal, e.s_name, e.n_name, t.p_partkey, t.p_brand,
           e.ps_cost_cents AS cost_cents
    FROM europe e
    JOIN target t ON e.ps_partkey = t.p_partkey
    JOIN mn ON mn.ps_partkey = e.ps_partkey
           AND e.ps_cost_cents = mn.min_cost
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, t.p_partkey
    LIMIT 100
    """,
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 minimum-cost supplier, on the derived partsupp: for each
    ECONOMY mid-size part, the EUROPE supplier(s) offering the minimum
    cost. The canonical correlated MIN subquery decorrelates into one
    per-part aggregate joined back on (partkey, cost=min) equality —
    exact because cost is integer cents. The region→nation→supplier
    chain and the filtered part slice are broadcast INTO the lineitem
    scan before the pair aggregation (group key ⊇ filter keys, module
    docstring), so the shuffle carries only Europe×target lines; the
    per-part min is a second aggregate on the SAME partkey-prefixed
    shuffle key. Top-100 orders by raw (unaggregated) s_acctbal with
    full key tie-breaks — deterministic in both engines."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    esupp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    target = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_type") == "ECONOMY") & F.col("p_size").between(10, 20))
        .select("p_partkey", "p_brand")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(esupp.select("s_suppkey"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(target.select("p_partkey"), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
    )
    europe = _derived_ps(li)
    mn = europe.groupBy("ps_partkey").agg(
        F.min("ps_cost_cents").alias("min_cost")
    )
    return (
        europe.join(mn, "ps_partkey")
        .filter(F.col("ps_cost_cents") == F.col("min_cost"))
        .join(esupp, F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(target, F.col("ps_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            F.col("ps_cost_cents").alias("cost_cents"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "tpch_q11",
    oracle=f"""
    WITH {_PS_SQL},
    nat AS (
      SELECT ps.* FROM ps
      JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'),
    tot AS (SELECT sum(ps_cost_cents * ps_availqty) AS t FROM nat)
    SELECT ps_partkey,
           CAST(sum(ps_cost_cents * ps_availqty) AS BIGINT) AS value_cents
    FROM nat GROUP BY ps_partkey
    HAVING sum(ps_cost_cents * ps_availqty) * 2000 > (SELECT t FROM tot)
    """,
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 important stock, on the derived partsupp: per-part
    stock value (cost × availqty, exact bigint cents) held by EUROPE
    suppliers, keeping parts above a 1/2000 share of the total. The
    scalar subquery becomes a 1-row aggregate broadcast-cross-joined
    into the per-part HAVING; the share test is the integer
    cross-multiplication value*2000 > total — no doubles, no division.
    Supplier slice broadcasts into the lineitem scan pre-aggregation
    (group key ⊇ filter key); both the per-part aggregate and the total
    reuse the one filtered pair-aggregate frame."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    esupp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(esupp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
    )
    nat = _derived_ps(li).select(
        "ps_partkey", (F.col("ps_cost_cents") * F.col("ps_availqty")).alias("v")
    )
    per_part = nat.groupBy("ps_partkey").agg(
        F.sum("v").cast("bigint").alias("value_cents")
    )
    tot = nat.agg(F.sum("v").alias("t"))
    return (
        per_part.join(F.broadcast(tot))
        .filter(F.col("value_cents") * 2000 > F.col("t"))
        .select("ps_partkey", "value_cents")
    )


@register(
    "tpch_q16",
    oracle=f"""
    WITH {_PS_SQL}
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT ps_suppkey) AS supplier_cnt
    FROM ps JOIN part p ON p.p_partkey = ps.ps_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND ps_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 parts/supplier relationship, on the derived partsupp:
    how many distinct suppliers can provide each surviving
    (brand, type, size) class, excluding suppliers in bad standing
    (negative s_acctbal stands in for the complaint-comment filter —
    the lite supplier table has no comment column). The NOT IN becomes
    a broadcast left-anti join (s_suppkey is never null, so NOT IN and
    anti-join agree); only the distinct pair relation is needed, so the
    pair aggregate reduces to distinct() over the part-filtered slice.
    count_distinct shuffles once on the 3-part group key."""
    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .join(part.select("p_partkey"), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .distinct()
        .join(bad, F.col("ps_suppkey") == F.col("s_suppkey"), "left_anti")
    )
    return (
        pairs.join(part, F.col("ps_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q20",
    oracle=f"""
    WITH {_PS_SQL},
    q97 AS (
      SELECT l_partkey, l_suppkey,
             CAST(round(sum(l_quantity), 0) AS BIGINT) AS qty97
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1, 2)
    SELECT s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (
      SELECT ps.ps_suppkey FROM ps
      JOIN part p ON p.p_partkey = ps.ps_partkey
                 AND p.p_name LIKE 'small%'
      JOIN q97 ON q97.l_partkey = ps.ps_partkey
              AND q97.l_suppkey = ps.ps_suppkey
      WHERE q97.qty97 * 2 > ps.ps_availqty)
    """,
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 potential part promotion, on the derived partsupp:
    name the suppliers for whom some 'small%' part's 1997 shipments
    exceed HALF of that pair's lifetime volume (the recency-share analog
    of availqty > half of a year's movement — availqty here IS lifetime
    volume, so the canonical inequality is inverted to stay selective).
    The nested IN chain decorrelates outward: part filter broadcast into
    BOTH pair aggregates, the year-slice aggregate joins the lifetime
    aggregate pair-to-pair on the same (partkey, suppkey) shuffle key,
    and the surviving suppkeys semi-join into supplier. The share test
    is integer cross-multiplication (qty97*2 > availqty)."""
    small = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(small, F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity", "l_shipdate")
    )
    ps = _derived_ps(li)
    q97 = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.round(F.sum("l_quantity"), 0).cast("bigint").alias("qty97"))
    )
    excess = (
        ps.join(
            q97,
            (ps.ps_partkey == q97.l_partkey) & (ps.ps_suppkey == q97.l_suppkey),
        )
        .filter(F.col("qty97") * 2 > F.col("ps_availqty"))
        .select("ps_suppkey")
        .distinct()
    )
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        supplier.join(
            excess, supplier.s_suppkey == excess.ps_suppkey, "left_semi"
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name")
    )
