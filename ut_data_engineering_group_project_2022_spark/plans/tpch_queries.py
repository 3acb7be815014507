"""TPC-H-shaped headline queries on the driver's star schema.

These are the bench workhorses: classic scan-heavy aggregation (Q1),
selective multi-join top-k (Q3-like), region-local join chain (Q5-like),
and a pure scan-filter-aggregate (Q6). All money math is exact decimal
end-to-end so Spark and the DuckDB oracle agree bit-for-bit (registry.py).

Scale notes: Q1/Q6 are single-scan map-side-partial aggregations (no
pre-shuffle besides the final tiny groupBy); Q3/Q5 broadcast every dim
side so the only fact shuffle is the final aggregate's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ut_data_engineering_group_project_2022_spark.catalog import (
    parquet_row_count as catalog_row_count,
    table,
)
from ut_data_engineering_group_project_2022_spark.operators import (
    fits,
    relational,
)
from ut_data_engineering_group_project_2022_spark.plans.registry import register




def _q1_magnitudes_safe(sf_dir: str) -> bool:
    """r20 (r19 ADVICE): the q1 kernel's scaled-integer multiplies are
    proven exact only inside Q1_SAFE_ABS; prove the bound from parquet
    footer column stats (zero jobs — shared helper in relational.py).
    Missing stats, NaN/Inf bounds, or out-of-range values all fail the
    proof -> the exact distributed decimal aggregate runs instead."""
    return relational.lineitem_magnitudes_safe(sf_dir)


def _dec(col: str) -> F.Column:
    return F.col(col).cast("decimal(18,4)")


def _one() -> F.Column:
    return F.lit(1).cast("decimal(18,4)")


def _disc_price() -> F.Column:
    # disc_price = extendedprice * (1 - discount), exact decimal (38,8) -> (28,8)
    return (_dec("l_extendedprice") * (_one() - _dec("l_discount"))).cast(
        "decimal(28,8)"
    )


def _charge() -> F.Column:
    # charge = disc_price * (1 + tax); (28,8) x (9,4) stays exact in both engines
    return _disc_price() * (_one() + _dec("l_tax")).cast("decimal(9,4)")

_DISC_PRICE_SQL = (
    "(l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)))"
    "::DECIMAL(28,8)"
)
_CHARGE_SQL = (
    f"({_DISC_PRICE_SQL} * "
    "((1::DECIMAL(18,4) + l_tax::DECIMAL(18,4))::DECIMAL(9,4)))"
)


@register(
    "tpch_q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           (SUM(l_quantity::DECIMAL(18,4)))::DOUBLE AS sum_qty,
           (SUM(l_extendedprice::DECIMAL(18,4)))::DOUBLE AS sum_base_price,
           ROUND(SUM({_DISC_PRICE_SQL}), 2)::DOUBLE AS sum_disc_price,
           ROUND(SUM({_CHARGE_SQL}), 2)::DOUBLE AS sum_charge,
           (SUM(l_quantity::DECIMAL(18,4)))::DOUBLE / COUNT(*) AS avg_qty,
           (SUM(l_extendedprice::DECIMAL(18,4)))::DOUBLE / COUNT(*) AS avg_price,
           (SUM(l_discount::DECIMAL(18,4)))::DOUBLE / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 pricing summary: single-scan grouped aggregation, "
    "map-side partials + tiny final shuffle.",
    tags=("tpch", "agg"),
    bench=True,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    # Size gate: when the lineitem footer fits LOCAL_TPCH_ROWS, and its
    # column stats prove safe magnitudes (int64 headroom for the
    # scaled-integer multiplies; see Q1_SAFE_ABS), the identical exact
    # aggregate runs as one scaled-integer mapInArrow task
    # (operators/relational.py — exactness argument there). Both proofs
    # read parquet footers, zero jobs; a count job on this
    # one-row-group file would re-scan the whole table. Otherwise the
    # two-stage decimal hash aggregate below runs (the 100 TB shape:
    # map-side partials + tiny final shuffle).
    if fits(
        relational.LOCAL_TPCH_ROWS, catalog_row_count(sf_dir, "lineitem")
    ) and _q1_magnitudes_safe(sf_dir):
        return relational.tpch_q1_local(li)
    cnt = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.round(F.sum(_disc_price()), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(_charge()), 2).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / cnt).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / cnt).alias("avg_price"),
            (F.sum(_dec("l_discount")).cast("double") / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "tpch_q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           ROUND(SUM({_DISC_PRICE_SQL}), 2)::DOUBLE AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
    doc="TPC-H Q3 analog: selective star join + top-10 by revenue "
    "(deterministic tiebreak on orderkey).",
    tags=("tpch", "join", "topk"),
    bench=True,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    # No broadcast hint on orders: it is fact-sized, so the join must be
    # free to shuffle on orderkey at scale. Under the 64 MB threshold the
    # planner still broadcasts the scan statically at test SFs.
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(_disc_price()), 2).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name, ROUND(SUM({_DISC_PRICE_SQL}), 2)::DOUBLE AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue DESC
    """,
    doc="TPC-H Q5 analog: 6-way join chain, local-supplier constraint. "
    "Dims broadcast; the fact-sized orders side joins by size "
    "(broadcast under the threshold at test SFs, shuffle at scale).",
    tags=("tpch", "join"),
    bench=True,
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # orders joins by size (fact-sized: shuffle on orderkey at scale,
    # broadcast under the threshold at test SFs); true dims are hinted.
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(_disc_price()), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"))
    )


@register(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice::DECIMAL(18,4) * l_discount::DECIMAL(18,4)), 2)::DOUBLE
           AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6: pure scan-filter-aggregate; predicates push to parquet.",
    tags=("tpch", "scan"),
    bench=True,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(_dec("l_extendedprice") * _dec("l_discount")), 2)
        .cast("double")
        .alias("revenue")
    )


@register(
    "tpch_q4_priority_check",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
    doc="Q4-shaped order-priority check: EXISTS correlated subquery as an "
    "explicit LEFT SEMI join (the SQL shape behind SURVEY J4/J7's "
    "NOT-EXISTS/IN patterns). Late shipment stands in for TPC-H's "
    "commitdate<receiptdate (those columns don't exist in this table).",
    tags=("tpch", "semi-join"),
)
def tpch_q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, n_name, revenue FROM (
      SELECT c.c_custkey, c.c_name, n.n_name,
             ROUND(SUM({_DISC_PRICE_SQL}), 2)::DOUBLE AS revenue,
             ROW_NUMBER() OVER (ORDER BY SUM({_DISC_PRICE_SQL}) DESC,
                                c.c_custkey ASC) AS rn
      FROM customer c
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      WHERE l.l_returnflag = 'R'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1996-07-01'
      GROUP BY c.c_custkey, c.c_name, n.n_name
    ) t WHERE rn <= 20
    """,
    doc="Q10-shaped returned-item top-20 customers by lost revenue: "
    "selective fact scan (returnflag pushdown), broadcast dims, exact "
    "decimal revenue, deterministic custkey tiebreak.",
    tags=("tpch", "topk"),
    bench=True,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = (
        # orders is fact-sized: no forced broadcast (see tpch_q3 note).
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        # Rank on the EXACT decimal sum (the oracle's ORDER BY) and round
        # only in the final projection: two customers whose exact sums
        # differ but round to the same cent must not swap ranks at the
        # top-20 boundary (round-1 advisory finding).
        .agg(F.sum(_disc_price()).alias("rev_exact"))
    )
    w = W.orderBy(F.desc("rev_exact"), F.asc("c_custkey"))
    return (
        rev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round("rev_exact", 2).cast("double").alias("revenue"),
        )
    )


@register(
    "tpch_q14_promo_revenue",
    oracle=f"""
    SELECT ROUND(
             100.0 * ROUND(SUM(CASE WHEN p.p_type = 'PROMO'
                                    THEN {_DISC_PRICE_SQL}
                                    ELSE 0::DECIMAL(28,8) END), 2)::DOUBLE
                   / ROUND(SUM({_DISC_PRICE_SQL}), 2)::DOUBLE, 6)
             AS promo_revenue_pct
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
      AND l.l_shipdate < TIMESTAMP '1996-04-01'
    """,
    doc="Q14-shaped promo revenue share: conditional decimal aggregate over "
    "one shipping month, broadcast part join, single-row percentage.",
    tags=("tpch", "agg"),
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    promo = F.round(
        F.sum(
            F.when(F.col("p_type") == "PROMO", _disc_price()).otherwise(
                F.lit(0).cast("decimal(28,8)")
            )
        ),
        2,
    ).cast("double")
    total = F.round(F.sum(_disc_price()), 2).cast("double")
    return j.agg(
        F.round(F.lit(100.0) * promo / total, 6).alias("promo_revenue_pct")
    )


@register(
    "tpch_q18_large_orders",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice, sum_qty FROM (
      SELECT o.o_custkey AS c_custkey, l.l_orderkey AS o_orderkey,
             o.o_totalprice,
             (SUM(l.l_quantity::DECIMAL(18,4)))::DOUBLE AS sum_qty
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2, 3
      HAVING SUM(l.l_quantity::DECIMAL(18,4)) > 150
    ) t
    """,
    doc="Q18-shaped large-volume orders: fact-side groupBy with HAVING on "
    "an exact decimal sum — the aggregate-then-filter shape.",
    tags=("tpch", "agg"),
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    # No broadcast hint: orders is fact-sized, so forcing it into every
    # executor's memory would OOM a real cluster (round-1 advisory
    # finding). AQE picks the join strategy; both sides shuffle on the
    # shared key, which is the co-partitioned plan you want at 100 TB.
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("c_custkey"),
            F.col("l_orderkey").alias("o_orderkey"),
            "o_totalprice",
        )
        .agg(F.sum(_dec("l_quantity")).alias("q"))
        .filter(F.col("q") > 150)
        .select(
            "c_custkey",
            "o_orderkey",
            "o_totalprice",
            F.col("q").cast("double").alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Remaining TPC-H query *shapes*, adapted to the driver's reduced schema.
#
# The testdata has no partsupp table and no l_commitdate / l_receiptdate /
# l_shipmode / c_phone / p_container columns, so the queries below preserve
# each TPC-H query's structural challenge (correlated min subquery, market
# share, scalar-aggregate HAVING, NOT IN, disjunctive join predicates,
# exists/not-exists composition) against the columns that exist:
#   - part<->supplier relationships come from DISTINCT (l_partkey, l_suppkey)
#     over lineitem (the bridge partsupp would provide);
#   - supply cost is proxied by 0.8 * p_retailprice;
#   - "late" is l_shipdate > o_orderdate + N days;
#   - the Q22 "country code" prefix filter becomes a c_mktsegment subset.
# ---------------------------------------------------------------------------


@register(
    "tpch_q2_min_cost_supplier",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
         esupp AS (
           SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
           FROM supplier s
           JOIN nation n ON s.s_nationkey = n.n_nationkey
           JOIN region r ON n.n_regionkey = r.r_regionkey
           WHERE r.r_name = 'EUROPE')
    SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_name
    FROM part p
    JOIN ps ON ps.l_partkey = p.p_partkey
    JOIN esupp e ON e.s_suppkey = ps.l_suppkey
    WHERE p.p_type = 'STANDARD' AND p.p_size <= 10
      AND e.s_acctbal = (
        SELECT MIN(e2.s_acctbal)
        FROM ps ps2 JOIN esupp e2 ON e2.s_suppkey = ps2.l_suppkey
        WHERE ps2.l_partkey = p.p_partkey)
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey
    LIMIT 100
    """,
    doc="TPC-H Q2 shape: min-cost supplier per part via a correlated MIN "
    "subquery, re-expressed as a per-part window min over the deduped "
    "(part, supplier) bridge. Dims broadcast; the only fact shuffle is the "
    "bridge DISTINCT. s_acctbal proxies ps_supplycost (no partsupp table). "
    "Full ORDER BY tiebreak chain makes LIMIT 100 deterministic.",
    tags=("tpch", "join", "subquery"),
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    esupp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cand = ps.join(F.broadcast(p), ps.l_partkey == p.p_partkey).join(
        F.broadcast(esupp), ps.l_suppkey == esupp.s_suppkey
    )
    w = W.partitionBy("p_partkey")
    return (
        cand.withColumn("min_bal", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "tpch_q7_nation_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(year FROM l.l_shipdate)::INT AS l_year,
           ROUND(SUM({_DISC_PRICE_SQL}), 2)::DOUBLE AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
    doc="TPC-H Q7 shape: bilateral shipping volume between two nations by "
    "year. The filtered supplier side broadcasts and prunes lineitem to "
    "~8%% before the orders shuffle join (co-partitioned on orderkey); the "
    "customer side broadcasts. The nation-pair disjunction is applied "
    "post-join where both nations are in scope.",
    tags=("tpch", "join"),
)
def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    nations = ("NATION_1", "NATION_2")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*nations))
    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    cn = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", F.col("n_name").alias("cust_nation")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cn), o.o_custkey == cn.c_custkey)
        .filter(
            ((F.col("supp_nation") == nations[0]) & (F.col("cust_nation") == nations[1]))
            | ((F.col("supp_nation") == nations[1]) & (F.col("cust_nation") == nations[0]))
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.round(F.sum(_disc_price()), 2).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "tpch_q8_market_share",
    oracle=f"""
    SELECT o_year,
           ROUND(ROUND(SUM(CASE WHEN nation = 'NATION_5' THEN vol
                                ELSE 0::DECIMAL(28,8) END), 2)::DOUBLE
                 / ROUND(SUM(vol), 2)::DOUBLE, 6) AS mkt_share
    FROM (
      SELECT EXTRACT(year FROM o.o_orderdate)::INT AS o_year,
             {_DISC_PRICE_SQL} AS vol, n2.n_name AS nation
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n1.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY') t
    GROUP BY o_year
    ORDER BY o_year
    """,
    doc="TPC-H Q8 shape: NATION_5's market share of ECONOMY-part volume "
    "sold into ASIA, by order year. Conditional decimal aggregate over a "
    "6-way join; every dim side broadcasts, the single fact shuffle is "
    "lineitem><orders on orderkey.",
    tags=("tpch", "agg", "join"),
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n1 = table(spark, sf_dir, "nation")
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_nationkey"), F.col("n_name").alias("nation")
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cn = (
        c.join(F.broadcast(n1), c.c_nationkey == n1.n_nationkey)
        .join(F.broadcast(r), n1.n_regionkey == r.r_regionkey)
        .select("c_custkey")
    )
    sn = s.join(F.broadcast(n2), s.s_nationkey == F.col("n2_nationkey")).select(
        "s_suppkey", "nation"
    )
    num = F.round(
        F.sum(
            F.when(F.col("nation") == "NATION_5", _disc_price()).otherwise(
                F.lit(0).cast("decimal(28,8)")
            )
        ),
        2,
    ).cast("double")
    den = F.round(F.sum(_disc_price()), 2).cast("double")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cn), o.o_custkey == cn.c_custkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(F.round(num / den, 6).alias("mkt_share"))
        .orderBy("o_year")
    )


@register(
    "tpch_q9_profit_by_nation",
    oracle=f"""
    SELECT n.n_name AS nation, EXTRACT(year FROM o.o_orderdate)::INT AS o_year,
           ROUND(SUM({_DISC_PRICE_SQL}
                     - (p.p_retailprice * 0.8)::DECIMAL(18,4)
                       * l.l_quantity::DECIMAL(18,4)), 2)::DOUBLE AS sum_profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    ORDER BY nation, o_year DESC
    """,
    doc="TPC-H Q9 shape: profit by supplier nation and order year over "
    "parts matching a name pattern. Supply cost proxied as "
    "0.8 * p_retailprice (no partsupp); cost-per-unit is computed in "
    "IEEE double then cast to exact decimal so both engines round the "
    "same value. Part/supplier/nation broadcast; one orderkey shuffle.",
    tags=("tpch", "agg", "join"),
)
def tpch_q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    cost = (F.col("p_retailprice") * F.lit(0.8)).cast("decimal(18,4)")
    amount = _disc_price() - cost * _dec("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(F.round(F.sum(amount), 2).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "tpch_q11_important_stock",
    oracle="""
    WITH v AS (
      SELECT l.l_partkey, SUM(l.l_extendedprice::DECIMAL(18,4)) AS val
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name IN ('NATION_3', 'NATION_7')
      GROUP BY 1)
    SELECT l_partkey AS p_partkey, ROUND(val, 2)::DOUBLE AS value
    FROM v
    WHERE val * 10000 > (SELECT SUM(val) FROM v)
    ORDER BY value DESC, p_partkey
    """,
    doc="TPC-H Q11 shape: per-part shipped value from two nations' "
    "suppliers, kept where the part exceeds a fraction of the global "
    "total (scalar-aggregate HAVING). The 0.0001 threshold is applied "
    "multiplicatively (val * 10000 > total) so the comparison stays in "
    "exact decimals; the one-row total broadcasts back over the per-part "
    "aggregate.",
    tags=("tpch", "agg", "subquery"),
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey")
    v = (
        li.join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(_dec("l_extendedprice")).alias("val"))
    )
    total = v.agg(F.sum("val").alias("tot"))
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("val") * 10000 > F.col("tot"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round("val", 2).cast("double").alias("value"),
        )
        .orderBy(F.desc("value"), "p_partkey")
    )


@register(
    "tpch_q12_late_priority",
    oracle="""
    SELECT l.l_linestatus,
           SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
           SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1
    ORDER BY 1
    """,
    doc="TPC-H Q12 shape: conditional priority counts over late-shipped "
    "lines (ship > order + 60 days stands in for receipt > commit; no "
    "shipmode column, so l_linestatus is the grouping axis). "
    "Co-partitioned fact-fact shuffle join on orderkey, AQE-planned.",
    tags=("tpch", "agg"),
)
def tpch_q12_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "tpch_q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                        AND o.o_orderpriority <> '5-LOW'
      GROUP BY 1) t
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13: distribution of per-customer order counts including "
    "zero-order customers (left outer join with an ON-clause filter, so "
    "unmatched customers survive; COUNT of the nullable key counts only "
    "matches). Two shuffles: custkey, then the tiny count histogram.",
    tags=("tpch", "join", "agg"),
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    ).select("o_custkey", "o_orderkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey, SUM({_DISC_PRICE_SQL}) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY 1)
    SELECT s.s_suppkey, s.s_name, ROUND(rev.total_rev, 2)::DOUBLE AS total_revenue
    FROM supplier s JOIN rev ON rev.l_suppkey = s.s_suppkey
    WHERE rev.total_rev = (SELECT MAX(total_rev) FROM rev)
    ORDER BY s.s_suppkey
    """,
    doc="TPC-H Q15: top supplier by quarterly revenue — the CREATE VIEW + "
    "scalar MAX subquery shape, as a reused revenue aggregate compared "
    "against its own broadcast one-row max. Equality is on the exact "
    "decimal sum, so ties return every co-leader in both engines.",
    tags=("tpch", "agg", "subquery"),
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(_disc_price()).alias("total_rev"))
    mx = rev.agg(F.max("total_rev").alias("mx"))
    s = table(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round("total_rev", 2).cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q16_supplier_counts",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
    FROM ps JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#13' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND ps.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
    doc="TPC-H Q16 shape: distinct supplier counts per (brand, type, size) "
    "with a NOT IN exclusion subquery (suppliers in deficit proxy the "
    "'customer complaints' filter), expressed as a broadcast left-anti "
    "join. The (part, supplier) bridge dedups on the fact shuffle.",
    tags=("tpch", "agg", "anti-join"),
)
def tpch_q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    return (
        ps.join(F.broadcast(bad), ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "tpch_q17_small_qty_revenue",
    oracle="""
    WITH pa AS (
      SELECT l_partkey, COUNT(*) AS cnt,
             SUM(l_quantity::DECIMAL(10,4)) AS sq
      FROM lineitem GROUP BY 1)
    SELECT ROUND(ROUND(SUM(l.l_extendedprice::DECIMAL(18,4)), 2)::DOUBLE
                 / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity::DECIMAL(10,4) * 5 * pa.cnt < pa.sq
    """,
    doc="TPC-H Q17: revenue lost to small-quantity orders — the correlated "
    "per-part AVG subquery. qty < 0.2 * avg(qty) is applied as "
    "5 * qty * count < sum so the comparison is exact decimal arithmetic "
    "on both engines (no division); the per-part aggregate joins back "
    "co-partitioned on partkey.",
    tags=("tpch", "agg", "subquery"),
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    pa = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("l_quantity").cast("decimal(10,4)")).alias("sq"),
    )
    pf = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23").select(
        "p_partkey"
    )
    qty5 = (F.col("l_quantity").cast("decimal(10,4)") * F.lit(5)).cast(
        "decimal(14,4)"
    )
    return (
        li.join(F.broadcast(pf), li.l_partkey == pf.p_partkey)
        .join(pa, "l_partkey")
        .filter(qty5 * F.col("cnt").cast("decimal(10,0)") < F.col("sq"))
        .agg(
            F.round(
                F.round(F.sum(_dec("l_extendedprice")), 2).cast("double") / F.lit(7.0),
                2,
            ).alias("avg_yearly")
        )
    )


@register(
    "tpch_q19_disjunctive_revenue",
    oracle=f"""
    SELECT ROUND(SUM({_DISC_PRICE_SQL}), 2)::DOUBLE AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape: disjunctive predicates spanning both join sides "
    "(brand/size on part OR'd with quantity on lineitem). The part side "
    "broadcasts; Catalyst extracts the brand-disjunction as a pushable "
    "part-scan filter while the cross-side OR evaluates post-join.",
    tags=("tpch", "join"),
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(cond).agg(
        F.round(F.sum(_disc_price()), 2).cast("double").alias("revenue")
    )


@register(
    "tpch_q20_volume_suppliers",
    oracle="""
    WITH lw AS (
      SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'),
    pq AS (
      SELECT l_partkey, l_suppkey, SUM(l_quantity::DECIMAL(18,4)) AS sq
      FROM lw GROUP BY 1, 2),
    pt AS (
      SELECT l_partkey, SUM(l_quantity::DECIMAL(18,4)) AS tq
      FROM lw GROUP BY 1)
    SELECT DISTINCT s.s_name, n.n_name
    FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (
      SELECT pq.l_suppkey
      FROM pq JOIN pt USING (l_partkey)
      JOIN part p ON p.p_partkey = pq.l_partkey
      WHERE p.p_name LIKE '%red%' AND pq.sq * 3 > pt.tq)
    ORDER BY s.s_name
    """,
    doc="TPC-H Q20 shape: suppliers holding a dominant share (> 1/3) of a "
    "red part's 1997 shipped quantity — the nested IN-subquery chain, as "
    "one grouped aggregate whose per-part total comes from a window over "
    "the same shuffle (no second fact scan), then a semi-join into the "
    "supplier dim.",
    tags=("tpch", "semi-join", "subquery"),
)
def tpch_q20_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    lw = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    pq = lw.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(_dec("l_quantity")).alias("sq")
    )
    pq = pq.withColumn("tq", F.sum("sq").over(W.partitionBy("l_partkey")))
    pf = table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select(
        "p_partkey"
    )
    cand = (
        pq.join(F.broadcast(pf), pq.l_partkey == pf.p_partkey)
        .filter(F.col("sq") * 3 > F.col("tq"))
        .select("l_suppkey")
        .distinct()
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    return (
        s.join(cand, s.s_suppkey == cand.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name", "n_name")
        .distinct()
        .orderBy("s_name")
    )


@register(
    "tpch_q21_waiting_suppliers",
    oracle="""
    WITH lo AS (
      SELECT l.l_orderkey, l.l_suppkey,
             MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                      THEN 1 ELSE 0 END) AS is_late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY 1, 2),
    agg AS (
      SELECT l_orderkey, COUNT(*) AS n_supp, SUM(is_late) AS n_late
      FROM lo GROUP BY 1)
    SELECT s.s_name, COUNT(*) AS numwait
    FROM lo
    JOIN agg USING (l_orderkey)
    JOIN supplier s ON s.s_suppkey = lo.l_suppkey
    WHERE lo.is_late = 1 AND agg.n_supp >= 2 AND agg.n_late = 1
    GROUP BY 1
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
    doc="TPC-H Q21 shape: suppliers who were the sole late shipper on a "
    "multi-supplier finalized order. The EXISTS (another supplier) AND "
    "NOT EXISTS (another late supplier) pair is computed set-wise: one "
    "(order, supplier) rollup, one per-order count, a co-partitioned "
    "join-back — three orderkey-local shuffles instead of two correlated "
    "scans. 'Late' is ship > order date + 90 days (no receipt/commit "
    "columns). ORDER BY has a full tiebreak so LIMIT 20 is deterministic.",
    tags=("tpch", "agg", "subquery"),
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"), 1
    ).otherwise(0)
    lo = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("is_late"))
    )
    agg = lo.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("is_late").alias("n_late")
    )
    s = table(spark, sf_dir, "supplier")
    return (
        lo.join(agg, "l_orderkey")
        .filter((F.col("is_late") == 1) & (F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(F.broadcast(s), lo.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@register(
    "tpch_q22_dormant_customers",
    oracle="""
    WITH pos AS (
      SELECT COUNT(*) AS cnt, SUM(c_acctbal::DECIMAL(18,4)) AS s
      FROM customer
      WHERE c_acctbal > 0.0
        AND c_mktsegment IN ('AUTOMOBILE', 'MACHINERY'))
    SELECT n.n_name AS nation, COUNT(*) AS numcust,
           ROUND(SUM(c.c_acctbal::DECIMAL(18,4)), 2)::DOUBLE AS totacctbal
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey, pos
    WHERE c.c_mktsegment IN ('AUTOMOBILE', 'MACHINERY')
      AND c.c_acctbal::DECIMAL(18,4) * pos.cnt > pos.s
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY 1
    ORDER BY nation
    """,
    doc="TPC-H Q22 shape: well-funded customers in two market segments "
    "(standing in for the phone-prefix country filter) with no orders "
    "since 1999, by nation. above-average acctbal is applied as "
    "bal * count > sum (exact decimals, no division); the NOT EXISTS is "
    "a left-anti join against recent orders' custkeys.",
    tags=("tpch", "anti-join", "subquery"),
)
def tpch_q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    segs = ("AUTOMOBILE", "MACHINERY")
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment").isin(*segs))
    pos = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.count(F.lit(1)).cast("decimal(10,0)").alias("cnt"),
        F.sum(_dec("c_acctbal")).alias("s"),
    )
    recent = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select("o_custkey")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .crossJoin(F.broadcast(pos))
        .filter(_dec("c_acctbal") * F.col("cnt") > F.col("s"))
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(_dec("c_acctbal")), 2).cast("double").alias("totacctbal"),
        )
        .orderBy("nation")
    )
